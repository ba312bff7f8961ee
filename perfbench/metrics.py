"""Metric derivation for the graft benchmark.

The benchmark JVM writes a raw record (per-query phase times, Spark job
records, spans, stream chunk schedule); everything here turns that record,
and the stream's checkpoint, into the reported metrics. Nothing here
imports Spark, so the statistics can be tested on their own.
"""
import bisect
import datetime
import json
import math
import os
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    its nearest-rank value: (value, percentile, sample count).

    With `beyond` samples or fewer there is no such percentile; the
    maximum is reported as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    if n <= beyond:
        return xs[-1], 100, n
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= beyond:
            return xs[rank - 1], p, n
    return xs[0], 0, n


def covered_ms(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in spans:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span["start_ms"], span["end_ms"]
    return (hi - lo) - covered_ms(
        [(c["start_ms"], c["end_ms"]) for c in children], lo, hi)


def phase_gap(root, phases):
    """How far a query's phases fall short of (or exceed) its wall, as a
    share of the wall. The wall is timed around the whole query and each
    phase around its own call, so the gap is whatever ran outside the
    three layers' calls."""
    wall = root["end_ms"] - root["start_ms"]
    covered = sum(p["end_ms"] - p["start_ms"] for p in phases)
    return abs(wall - covered) / wall if wall > 0 else 0.0


# --- batch workloads ---------------------------------------------------------

# The reference job's (harness/graftbench/Calibration.scala) CPU and wall
# seconds that define the reference host speed: about its median on 4 cores
# of an Intel Xeon server in a quiet period. Batch times are reported at
# that speed (see `host_scale` and README.md).
REF_CPU_S = 1.0
REF_WALL_S = 0.3


def host_scale(samples):
    """(CPU scale, wall scale) of a run from its reference-job samples,
    each (CPU seconds, wall seconds): how much faster than the run's host
    the reference host ran the same job, taking the median sample. A
    run's CPU times are multiplied by the first and its wall times by the
    second."""
    return (REF_CPU_S / median([c for c, _ in samples]),
            REF_WALL_S / median([w for _, w in samples]))


def batch_end_to_end(raw):
    """End-to-end metrics of an untraced batch run.

    The timed part runs two or more whole passes, as many as fit in the
    run's seconds, and the first is still warming up after the cold pass.
    So each timing is its minimum over the passes (per query, and for the
    pass totals), which does not depend on how many passes ran. A batch
    query is submitted when the one before it completes (a closed loop),
    so its latency is its wall time, and the sustained rate is queries
    per second of the fastest pass. Times are at the reference host
    speed (`host_scale`); the unscaled pass times are diagnostics."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    cpu_scale, wall_scale = host_scale(raw["reference"])
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q["wall_s"] * wall_scale)
    q_best = [min(v) for v in per_query.values()]
    tail_v, tail_p, tail_n = tail(q_best)
    raw_wall = min(p["wall_s"] for p in passes)
    raw_cpu = min(p["cpu_s"] for p in passes)
    wall = raw_wall * wall_scale
    return {
        "wall_s": wall,
        "query_p50_s": median(q_best),
        "query_tail_s": tail_v,
        "cpu_s": raw_cpu * cpu_scale,
        "latency_p50_ms": median(q_best) * 1e3,
        "latency_tail_ms": tail_v * 1e3,
        "sustained_eps": len(q_best) / wall,
    }, {
        "passes": len(passes),
        "query_wall_s": {n: round(min(v), 4) for n, v in sorted(per_query.items())},
        "unscaled_cpu_s": raw_cpu, "unscaled_wall_s": raw_wall,
        "host_cpu_scale": cpu_scale, "host_wall_scale": wall_scale,
        "reference": [[round(c, 3), round(w, 4)] for c, w in raw["reference"]],
        "query_tail_percentile": tail_p,
        "query_tail_samples": tail_n,
        "ext_busy": max(p["ext_busy"] for p in passes),
    }


def batch_layers(raw):
    """Per-layer metrics of the traced pass, from its spans."""
    traced = [p for p in raw["passes"] if p["traced"]][0]
    plain = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    spans = raw["spans"]
    by_trace = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)
    m = {k: 0.0 for k in (
        "operators.build_s", "operators.build_jobs", "operators.build_tasks",
        "operators.build_self_s", "plans.plan_s", "plans.codegen_s",
        "plans.exchanges", "sources.scan_s", "sources.bytes_read",
        "sources.rows_read", "exec.exec_s", "exec.jobs", "exec.tasks",
        "exec.task_run_s", "exec.task_cpu_s", "exec.task_offcpu_s",
        "exec.sched_s", "exec.gc_s", "exec.shuffle_bytes",
        "exec.spill_bytes")}
    worst_gap = 0.0
    for ss in by_trace.values():
        root = next(s for s in ss if s["parent"] is None)
        # a query that threw lacks the phases after the one that threw
        phases = {s["id"]: s for s in ss if s["parent"] == "q"}
        jobs = [s for s in ss if s["name"] == "job"]
        build_jobs = [j for j in jobs if j["parent"] == "build"]
        dur = {k: (v["end_ms"] - v["start_ms"]) / 1e3 for k, v in phases.items()}
        m["operators.build_s"] += dur.get("build", 0.0)
        m["operators.build_jobs"] += len(build_jobs)
        m["operators.build_tasks"] += sum(j["tasks"] for j in build_jobs)
        if "build" in phases:
            m["operators.build_self_s"] += self_ms(phases["build"], build_jobs) / 1e3
        m["plans.plan_s"] += dur.get("plan", 0.0)
        m["plans.exchanges"] += root["exchanges"]
        m["sources.scan_s"] += sum(p["scan_ms"] for p in phases.values()) / 1e3
        m["exec.exec_s"] += dur.get("exec", 0.0)
        add_jobs(m, jobs)
        worst_gap = max(worst_gap, phase_gap(root, phases.values()))
    m["plans.codegen_s"] = sum(q["codegen_s"] for q in traced["queries"])
    m["exec.store_peak_mb"] = traced["store_peak_bytes"] / 2**20
    # the untraced passes ran before and after the traced one
    m["trace.overhead_s"] = traced["wall_s"] - statistics.mean(plain)
    m["trace.phase_gap_max"] = worst_gap
    return m


def add_jobs(m, jobs):
    """Adds Spark job records to the `exec` and `sources` counters."""
    for j in jobs:
        m["exec.jobs"] += 1
        m["exec.tasks"] += j["tasks"]
        m["exec.task_run_s"] += j["run_ms"] / 1e3
        m["exec.task_cpu_s"] += j["cpu_ns"] / 1e9
        m["exec.sched_s"] += max(0, j["task_ms"] - j["run_ms"]) / 1e3
        m["exec.gc_s"] += j["gc_ms"] / 1e3
        m["exec.shuffle_bytes"] += j["shuffle_bytes"]
        m["exec.spill_bytes"] += j["spill_bytes"]
        m["sources.bytes_read"] += j["in_bytes"]
        m["sources.rows_read"] += j["in_records"]
    m["exec.task_offcpu_s"] = max(0.0, m["exec.task_run_s"] - m["exec.task_cpu_s"])


def check_digests(digests, expected):
    """Names of queries whose cold-pass output differs from the expected
    answer (or that threw)."""
    return sorted(n for n, d in digests.items()
                  if "error" in d or expected.get(n) != d)


# --- stream workload ---------------------------------------------------------

def _log_lines(path):
    with open(path) as f:
        lines = f.read().splitlines()
    return [json.loads(l) for l in lines[1:] if l.strip()]


def file_batches(checkpoint):
    """File name -> id of the micro-batch that read it.

    The file source logs each file under its own log offset (in
    sources/0, plain and compacted entries); the offsets log records, per
    micro-batch, the source's end offset. A file belongs to the first
    micro-batch whose end offset reaches the file's log offset."""
    log = os.path.join(checkpoint, "sources", "0")
    offsets = os.path.join(checkpoint, "offsets")
    if not (os.path.isdir(log) and os.path.isdir(offsets)):
        return {}
    file_offset = {}
    for name in os.listdir(log):
        if not name.startswith("."):
            for e in _log_lines(os.path.join(log, name)):
                file_offset[os.path.basename(e["path"])] = int(e["batchId"])
    ends = []
    for name in os.listdir(offsets):
        if name.isdigit():
            with open(os.path.join(offsets, name)) as f:
                src = f.read().splitlines()[2]  # version, metadata, source 0
            ends.append((int(json.loads(src)["logOffset"]), int(name)))
    ends.sort()
    out = {}
    for fname, k in file_offset.items():
        i = bisect.bisect_left(ends, (k, -1))
        if i < len(ends):
            out[fname] = ends[i][1]
    return out


def commit_times(checkpoint):
    """Micro-batch id -> commit time (epoch ms): the commit-log entry's
    modification time."""
    d = os.path.join(checkpoint, "commits")
    out = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e6
    return out


def chunk_latencies(chunks, batch_of, commit_ms):
    """Per chunk: the commit time of the micro-batch that read it minus the
    chunk's due time (None when no committed batch read it)."""
    out = []
    for c in chunks:
        b = batch_of.get(c["file"])
        t = commit_ms.get(b) if b is not None else None
        out.append(None if t is None else t - c["due_ms"])
    return out


def backlog_samples(chunks, batch_of, commit_ms):
    """(commit time, files landed by then but not read by any batch up to
    and including that one), for every committed batch."""
    out = []
    for b, t in sorted(commit_ms.items()):
        n = sum(1 for c in chunks if c["landed_ms"] <= t
                and batch_of.get(c["file"], math.inf) > b)
        out.append((t, n))
    return out


def _epoch_ms(iso):
    return datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1e3


def data_batches(progress, since_ms):
    """Progress records of micro-batches that read input and started at or
    after `since_ms`, one per batch id (a batch re-run after the restart
    keeps its last record)."""
    out = {}
    for p in progress:
        if p.get("numInputRows", 0) > 0 and _epoch_ms(p["timestamp"]) >= since_ms:
            out[p["batchId"]] = p
    return [out[b] for b in sorted(out)]


def stream_metrics(raw):
    """End-to-end metrics and diagnostics of a stream run. Each micro-batch
    is one query execution, so `query_*` are micro-batch durations; `wall_s`
    runs from the start of the timed part to the last chunk's commit. The
    sustained rate is the median over the bursts of a burst's events over
    the time from its due time to the commit of the last micro-batch that
    read it."""
    chunks = raw["chunks"]
    batch_of = file_batches(raw["checkpoint"])
    commit_ms = commit_times(raw["checkpoint"])
    lat = chunk_latencies(chunks, batch_of, commit_ms)
    backlog = [(t, n) for t, n in backlog_samples(chunks, batch_of, commit_ms)
               if t >= raw["first_timed_ms"]]
    ref = [l for c, l in zip(chunks, lat) if c["segment"] == raw["ref_segment"]
           and l is not None]
    ref_tail, ref_p, ref_n = tail(ref)
    rungs = []
    for seg in raw["segments"]:
        ls = [l for c, l in zip(chunks, lat) if c["segment"] == seg["name"]
              and l is not None]
        rungs.append({"name": seg["name"], "rate": seg["rate"],
                      "p50_ms": median(ls), "max_ms": max(ls, default=0.0)})
    bursts = {}
    for c, l in zip(chunks, lat):
        if c["segment"].startswith("burst"):
            bursts.setdefault(c["segment"], []).append((c["events"], l))
    drain_ms, rates = [], []
    for name in sorted(bursts):
        ls = [l for _, l in bursts[name]]
        drain_ms.append(max(ls) if None not in ls else None)
        if drain_ms[-1]:
            rates.append(sum(e for e, _ in bursts[name]) / (drain_ms[-1] / 1e3))
    late = [c["landed_ms"] - c["due_ms"] for c in chunks]
    missing = sum(1 for l in lat if l is None)
    batch_s = [p["durationMs"]["triggerExecution"] / 1e3
               for p in data_batches(raw["progress"], raw["first_timed_ms"])]
    batch_tail, batch_p, batch_n = tail(batch_s)
    return {
        "wall_s": (max(commit_ms.values()) - raw["first_timed_ms"]) / 1e3,
        "query_p50_s": median(batch_s),
        "query_tail_s": batch_tail,
        "latency_p50_ms": median(ref),
        "latency_tail_ms": ref_tail,
        "sustained_eps": median(rates),
        "cpu_s": raw["timed"]["cpu_s"],
    }, {
        "query_tail_percentile": batch_p,
        "query_tail_samples": batch_n,
        "latency_tail_percentile": ref_p,
        "latency_samples": ref_n,
        "chunks": len(chunks),
        "chunks_unread": missing,
        "rungs": rungs,
        "burst_drain_ms": drain_ms,
        "gen_late_ms": max(late),
        "ext_busy": raw["timed"]["ext_busy"],
        "latencies_ms": lat,
        "backlog": backlog,
    }


def batch_phase_gap(progress):
    """How far a micro-batch's reported phases fall short of its
    `triggerExecution` time, as a share of it."""
    d = dict(progress["durationMs"])
    total = d.pop("triggerExecution", 0)
    return abs(total - sum(d.values())) / total if total > 0 else 0.0


def stream_layers(raw, diag):
    """Per-layer metrics of a traced stream run, from its progress events,
    job records and the chunk schedule."""
    t = raw["traced"]
    prog = data_batches(t["listener_progress"], raw["first_timed_ms"])
    restart_commit = min((ms for b, ms in commit_times(raw["checkpoint"]).items()
                          if ms > raw["restart_ms"]), default=raw["restart_ms"])

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in prog])

    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    m = {
        "operators.build_s": raw["build_s"],
        "operators.build_jobs": t["build_jobs"],
        "operators.build_tasks": 0,
        "operators.build_self_s": raw["build_s"],
        "plans.plan_s": sum(p["durationMs"].get("queryPlanning", 0) for p in prog) / 1e3,
        "plans.codegen_s": raw["codegen_s"],
        "plans.exchanges": t["exchanges"],
        "sources.scan_s": t["scan_ms"] / 1e3,
        "sources.bytes_read": 0.0,
        "sources.rows_read": 0.0,
        "exec.exec_s": raw["timed"]["wall_s"],
        "exec.jobs": 0.0, "exec.tasks": 0.0, "exec.task_run_s": 0.0,
        "exec.task_cpu_s": 0.0, "exec.task_offcpu_s": 0.0, "exec.sched_s": 0.0,
        "exec.gc_s": 0.0, "exec.shuffle_bytes": 0.0, "exec.spill_bytes": 0.0,
        "exec.store_peak_mb": t["store_peak_bytes"] / 2**20,
        "streaming.batches": len(prog),
        "streaming.batch_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.offset_ms": dur("latestOffset"),
        "streaming.rows_per_batch": median([p["numInputRows"] for p in prog]),
        "streaming.state_rows": median([s.get("numRowsTotal", 0) for s in state]),
        "streaming.state_mem_mb": median([s.get("memoryUsedBytes", 0) for s in state]) / 2**20,
        "streaming.state_commit_ms": median([s.get("commitTimeMs", 0) for s in state]),
        "streaming.backlog_files": median([n for _, n in diag["backlog"]]),
        "streaming.restart_ms": restart_commit - raw["stop_ms"],
        "gen.late_ms": diag["gen_late_ms"],
        "trace.overhead_s": t["bus_cpu_s"],
        "trace.phase_gap_max": max((batch_phase_gap(p) for p in prog), default=0.0),
    }
    add_jobs(m, t["jobs"])
    return m
