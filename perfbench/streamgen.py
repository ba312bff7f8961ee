"""Input generation for the station_stream workload.

The seed sets the chunk sizes and the event-time disorder; the ladder of
rates comes from workloads.json, the cadence, warm-up and bursts from the
constants below. Chunks are staged as one parquet file each before the
stream starts; the benchmark JVM then lands them by atomic rename at
their due times.
"""
import math
import os
import random
import shutil

DISORDER_US = 3600 * 10**6  # arrival lags event time by less than 1 h
CHUNKS_PER_S = 5  # one chunk due every 200 ms
WARMUP_BATCHES = 6  # micro-batches that read input before the timed part
WARMUP_MAX_S = 30.0
REF = "rung0"  # the reference rung: the ladder's first rate
BURSTS = 4  # after the ladder; see README.md
BURST_EVENTS = 256_000  # each landed at once, 8000 events a file
BURST_FILES = 32  # equal files, many tasks: no straggler sets the time
# a quiet gap before each burst, so that it lands on an idle stream and
# does not wait for a micro-batch still running
BURST_GAP_MS = 2000.0


def segments(ladder):
    """(name, events/s, share of the run) in schedule order: the higher
    rungs, then the reference rung (the ladder's first rate), then the
    restart segment at the reference rate. The reference rung carries
    the latency percentiles, so it gets twice the share of the others;
    it runs after the higher rungs, whose larger micro-batches finish
    warming the JVM, and before the restart."""
    order = [(f"rung{i}", r, 1.0) for i, r in enumerate(ladder) if i > 0]
    order += [(REF, ladder[0], 2.0), ("restart", ladder[0], 1.0)]
    total = sum(w for _, _, w in order)
    return [(n, r, w / total) for n, r, w in order]


def split(total, n, rng):
    """`total` events split into `n` chunks of seeded sizes, each between
    about half and one and a half times the mean, summing to `total`."""
    weights = [0.5 + rng.random() for _ in range(n)]
    bounds = [round(total * sum(weights[:i]) / sum(weights)) for i in range(n + 1)]
    return [max(1, b - a) for a, b in zip(bounds, bounds[1:])]


def plan(seed, seconds, ladder):
    """The chunk schedule, one chunk due every 1/CHUNKS_PER_S seconds.
    Chunk 0 primes the stream (the file source reads the schema from
    it). Warm-up chunks follow at the reference rate; the benchmark lands
    them only until the stream has warmed up, which is set-up (up to
    WARMUP_MAX_S seconds' worth). Then the timed segments, which together
    last `seconds`, and BURSTS bursts ("burst0", ...), each BURST_FILES
    chunks of BURST_EVENTS in all, due together BURST_GAP_MS after the
    last segment ends or the burst before it is due. Each
    segment carries exactly its rate times its length in events; the
    seed sets how they split into chunks. Due offsets count from the
    start of the warm-up and of the timed part."""
    rng = random.Random(seed)
    ref_rate = ladder[0]
    chunks = [{"id": 0, "segment": "priming", "due_off_ms": None,
               "events": round(ref_rate / CHUNKS_PER_S)}]
    timed = [(n, r, share * seconds) for n, r, share in segments(ladder)]
    for part in ([("warmup", ref_rate, WARMUP_MAX_S)], timed):
        t = 0.0
        for name, rate, length_s in part:
            n = max(1, round(length_s * CHUNKS_PER_S))
            for size in split(round(rate * n / CHUNKS_PER_S), n, rng):
                chunks.append({"id": len(chunks), "segment": name,
                               "events": size, "due_off_ms": t})
                t += 1000.0 / CHUNKS_PER_S
    t -= 1000.0 / CHUNKS_PER_S  # the last segment's last due time
    for k in range(BURSTS):
        t += BURST_GAP_MS
        for size in [BURST_EVENTS // BURST_FILES] * BURST_FILES:
            chunks.append({"id": len(chunks), "segment": f"burst{k}",
                           "events": size, "due_off_ms": t})
    for c in chunks:
        c["file"] = f"chunk-{c['id']:05d}.parquet"
    return chunks


def stage(chunks, seed, events_path, stage_dir):
    """Writes each chunk's events as stage_dir/<file>. The input is the
    events table replayed, event time shifted 30 days and event ids
    offset per replay, in arrival order: event time plus a seeded lag
    under one hour (md5 of seed and event id, so the same seed stages the
    same bytes of input)."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads = 1")  # one file per chunk, rows in arrival order
    per_replay = con.sql(f"SELECT count(*) FROM read_parquet('{events_path}')").fetchone()[0]
    bounds = [0]
    for c in chunks:
        bounds.append(bounds[-1] + c["events"])
    replays = math.ceil(bounds[-1] / per_replay)
    con.sql("CREATE TABLE bounds (chunk INTEGER, lo BIGINT, hi BIGINT)")
    con.executemany("INSERT INTO bounds VALUES (?, ?, ?)",
                    [(c["id"], bounds[i], bounds[i + 1]) for i, c in enumerate(chunks)])
    tmp = stage_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    con.sql(f"""
        COPY (
          WITH shifted AS (
            SELECT e.event_id + r.range * 1000000000 AS event_id,
                   e.ts + to_days(CAST(30 * r.range AS INTEGER)) AS ts,
                   e.user_id, e.event_type, e.value, e.props
            FROM read_parquet('{events_path}') e, range({replays}) r),
          ordered AS (
            SELECT *, row_number() OVER (ORDER BY arrival, event_id) - 1 AS pos
            FROM (SELECT *, epoch_us(ts) + ((md5_number('{seed}-' || event_id)
                    % {DISORDER_US}) + {DISORDER_US}) % {DISORDER_US} AS arrival
                  FROM shifted))
          SELECT o.event_id, o.ts, o.user_id, o.event_type, o.value, o.props, b.chunk
          FROM ordered o JOIN bounds b ON o.pos >= b.lo AND o.pos < b.hi
          ORDER BY b.chunk, o.pos
        ) TO '{tmp}' (FORMAT PARQUET, PARTITION_BY (chunk))""")
    os.makedirs(stage_dir, exist_ok=True)
    for c in chunks:
        d = os.path.join(tmp, f"chunk={c['id']}")
        files = os.listdir(d)
        if len(files) != 1:
            raise RuntimeError(f"chunk {c['id']} staged as {len(files)} files")
        os.rename(os.path.join(d, files[0]), os.path.join(stage_dir, c["file"]))
    shutil.rmtree(tmp)
