#!/usr/bin/env python3
"""Scale-slope evidence (dev tool, not engine code), in two modes.

`sweep` (the default) builds a 10x documents/embeddings/events corpus from
a base sf directory, benches the documents/embeddings/event-time queries
at 1x and 10x, and writes the wall-time ratios to SCALE.md. A query whose
plan is ~linear in corpus size should show a ratio well under ~15x for 10x
data (superlinear candidate generation or an unbounded buffer would blow
past it).

`100x` adds one more decade on the three steepest 10x queries
(doc_pii_redact, doc_bpe_stats, events_in_windows — all believed
per-character/per-row linear): it benches them at 1x, 10x and 100x and
writes SCALE100.md in cwd for manual merge into SCALE.md. A second-decade
ratio (100x/10x) of ~10x again shows no quadratic onset the first decade
hid.

The replica corpus preserves WORKLOAD STRUCTURE instead of naively replicating
rows (naive replication plants 10 exact copies of every document/vector,
which multiplies true near-dup pairs ~100x and makes any pair-finder look
superlinear through no fault of its plan):
  - documents: copy k > 0 prefixes every token with "c<k>" — within-copy
    Jaccard structure identical to the base corpus, zero cross-copy
    overlap. (A char-neutral Caesar shift was tried and REVERTED: on a
    31-word vocabulary, shifts of different copies collide — shift k1 of
    word A equals shift k2 of word B — which explodes the inverted-index
    candidates ~65x. The prefix keeps copies provably disjoint at the cost
    of ~1.4x more characters per copy, so per-CHARACTER operators see up
    to ~14x work for 10x rows — still under the 15x bound.)
  - embeddings: copy k > 0 multiplies each vector elementwise by a seeded
    random +-1 mask — norms and per-dim distributions identical, cross-copy
    cosines ~0 (sign flips decorrelate).
Other tables are symlinked from the base dir so graft.Bench runs unchanged.

Usage: python3 tools/scale_slope.py [--mode sweep|100x] base_sf_dir [work_dir]
  (GRAFT_BENCH_CMD='tools/run_main.sh graft.Bench' benches a classes
  snapshot instead of running sbt)
"""
import argparse
import json
import os
import subprocess

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ID_STRIDE = 1_000_000
# the documents/embeddings queries (mm_ queries are documents-derived, so
# they scale with the corpus too), plus the event-time family
SWEEP_PREFIXES = "doc_,emb_,mm_,station_,window_,user_,event,trip_,asof_,wds_,jsonl"
# the three steepest stable 10x queries, re-measured one decade further
SPOT_QUERIES = "doc_pii_redact,doc_bpe_stats,events_in_windows"


def build_corpus(base: str, out: str, copies: int) -> None:
    os.makedirs(out, exist_ok=True)
    replicated = ("documents.parquet", "embeddings.parquet", "events.parquet")
    for f in os.listdir(base):
        if f.endswith(".parquet") and f not in replicated:
            dst = os.path.join(out, f)
            if not os.path.exists(dst):
                os.symlink(os.path.join(base, f), dst)

    # events: copy k > 0 strides event_id AND user_id — `copies`x distinct users
    # with IDENTICAL per-user event sequences and the same 30-day ts range.
    # This preserves workload structure: sessions/funnels/SCD2 runs per user
    # are unchanged (row counts scale linearly with users), the user_id%10
    # station key keeps its distribution (ID_STRIDE % 10 == 0), and
    # time-window queries see 10x events per unchanged window — exactly the
    # "more traffic, same schema" growth a real deployment sees.
    ev = duckdb.sql(f"SELECT * FROM '{base}/events.parquet'").df()
    parts = []
    for k in range(copies):
        c = ev.copy()
        c["event_id"] = c["event_id"] + ID_STRIDE * k
        c["user_id"] = c["user_id"] + ID_STRIDE * k
        parts.append(c)
    import pandas as pd
    allev = pd.concat(parts, ignore_index=True)
    tbl = pa.Table.from_pandas(allev, preserve_index=False)
    # match the driver's current encoding (timestamp[us])
    pq.write_table(tbl, os.path.join(out, "events.parquet"))

    d = duckdb.sql(f"SELECT * FROM '{base}/documents.parquet'").df()
    ids, texts, langs, sources, nchars = [], [], [], [], []
    for k in range(copies):
        for _, r in d.iterrows():
            ids.append(int(r["doc_id"]) + ID_STRIDE * k)
            text = (r["text"] if k == 0 else
                    " ".join(f"c{k}{t}" for t in r["text"].split()))
            texts.append(text)
            langs.append(r["lang"])
            sources.append(r["source"])
            # keep the corpus self-consistent: prefixed copies are longer
            nchars.append(int(r["n_chars"]) if k == 0 else len(text))
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()), "source": pa.array(sources, pa.string()),
        "n_chars": pa.array(nchars, pa.int64())}),
        os.path.join(out, "documents.parquet"))

    e = duckdb.sql(f"SELECT * FROM '{base}/embeddings.parquet'").df()
    vecs = np.array([np.array(v, dtype=np.float32) for v in e["embedding"]])
    vids, embs, labels = [], [], []
    for k in range(copies):
        mask = (np.random.default_rng(k).integers(0, 2, vecs.shape[1]) * 2 - 1
                ).astype(np.float32) if k else np.ones(vecs.shape[1], np.float32)
        for i in range(len(e)):
            vids.append(int(e["vec_id"][i]) + ID_STRIDE * k)
            embs.append([float(x) for x in vecs[i] * mask])
            labels.append(int(e["label"][i]))
    pq.write_table(pa.table({
        "vec_id": pa.array(vids, pa.int64()),
        "embedding": pa.array(embs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        os.path.join(out, "embeddings.parquet"))


def bench(sf_dir: str, prefixes: str, reps: int = 2) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="32",
               SPARK_GRAFT_QUERIES=prefixes)
    # graft.Bench writes bench.json in cwd — the repo's TRACKED driver
    # snapshot; save/restore it so a dev-tool run never clobbers committed
    # bench data
    saved = None
    if os.path.exists("bench.json"):
        with open("bench.json") as f:
            saved = f.read()
    try:
        # per-query MIN over `reps` full bench runs: sub-second timings
        # jitter +-40% run to run, and the minimum is the standard
        # noise-floor estimator — one inflated sample must not decide a
        # slope ratio
        best: dict = {}
        # GRAFT_BENCH_CMD overrides the sbt invocation (e.g. tools/run_main.sh
        # graft.Bench against a classes snapshot — no sbt project lock, so a
        # slope sweep can run concurrently with dev compiles)
        import shlex
        cmd = (shlex.split(os.environ["GRAFT_BENCH_CMD"])
               if os.environ.get("GRAFT_BENCH_CMD")
               else ["sbt", "-batch", "runMain graft.Bench"])
        for _ in range(reps):
            subprocess.run(cmd, env=env,
                           check=True, stdout=subprocess.DEVNULL,
                           stderr=subprocess.DEVNULL)
            with open("bench.json") as f:
                for q, t in json.load(f)["queries"].items():
                    best[q] = min(best.get(q, float("inf")), t)
        return best
    finally:
        if saved is not None:
            with open("bench.json", "w") as f:
                f.write(saved)


def sweep(base: str, work: str) -> int:
    out10 = os.path.join(work, "scale10")
    build_corpus(base, out10, 10)
    t1 = bench(base, SWEEP_PREFIXES)
    t10 = bench(out10, SWEEP_PREFIXES)
    lines = [
        "# Scale slope: 10x documents/embeddings/events corpus",
        "",
        f"Base `{base}` vs structure-preserving 10x replica (see "
        "tools/scale_slope.py; events grow by 10x users with identical "
        "per-user sequences over the same 30-day range). "
        "Wall-time ratios for 10x data on local[32]. "
        "A ~linear plan stays well under ~15x; candidate-bounded pair "
        "finders (df-cap / bands / auto-bits+rank-cap / N*R*W) are the "
        "queries this evidences. Notes: prefixed-copy texts are ~1.4x "
        "longer per doc, so per-CHARACTER operators legitimately see up to "
        "~14x work for 10x rows; per-query ratios where BOTH timings sit "
        "in the start-up-jitter band are excluded from the bound; the "
        "headline slope is the TOTAL ratio, which amortizes jitter.",
        "",
        "| query | 1x sec | 10x sec | ratio |",
        "|---|---|---|---|",
    ]
    # queries whose OUTPUT is measured density-quadratic on this replica
    # (documented with measurements in a SCALE.md addendum + a measured-
    # linear twin query): their ratio prints with the marker and is
    # excluded from the plan bound — the bound judges PLANS, and no
    # complete algorithm can emit a quadratic answer in linear time
    output_quadratic = {"mm_image_near_dup"}
    worst, sum1, sum10 = 0.0, 0.0, 0.0
    for q in sorted(t1):
        if q in t10:
            ratio = t10[q] / t1[q] if t1[q] > 0 else float("inf")
            sum1 += t1[q]
            sum10 += t10[q]
            # exempt a ratio from the bound only when BOTH sides sit in the
            # start-up-jitter band (~2s of 10x work is measurement, not
            # jitter): a tiny 1x with a large 10x is a real superlinear
            # blow-up and must count
            stable = t1[q] >= 0.75 or t10[q] >= 2.0
            if stable and q not in output_quadratic:
                worst = max(worst, ratio)
            marker = ("" if stable else " (noise-band)") + \
                (" (output-quadratic — see addendum)"
                 if q in output_quadratic else "")
            lines.append(f"| {q} | {t1[q]:.2f} | {t10[q]:.2f} | {ratio:.1f}x"
                         f"{marker} |")
    total = sum10 / sum1 if sum1 else float("inf")
    lines += ["", f"Total: {sum1:.1f}s -> {sum10:.1f}s = {total:.1f}x for 10x "
              f"data. Worst stable per-query ratio: {worst:.1f}x (bound: 15x)."]
    # PRESERVE every manually-written section (the 100x addenda, round
    # addenda): only the generated table up to the first "## " heading is
    # replaced, so an overwrite never loses the 100x addendum
    tail = ""
    if os.path.exists("SCALE.md"):
        with open("SCALE.md") as f:
            old = f.read()
        cut = old.find("\n## ")
        if cut >= 0:
            tail = old[cut:]
    with open("SCALE.md", "w") as f:
        f.write("\n".join(lines) + "\n" + tail)
    print("\n".join(lines))
    return 0 if worst < 15 and total < 15 else 1


def spot100(base: str, work: str) -> int:
    out10 = os.path.join(work, "scale10")
    out100 = os.path.join(work, "scale100")
    if not os.path.isdir(out10):
        build_corpus(base, out10, 10)
    if not os.path.isdir(out100):
        build_corpus(base, out100, 100)
    t1 = bench(base, SPOT_QUERIES)
    t10 = bench(out10, SPOT_QUERIES)
    t100 = bench(out100, SPOT_QUERIES)
    lines = [
        "## 100x addendum: the three steepest 10x queries",
        "",
        "One more decade (100 copies, same structure-preserving replica "
        "rules) on the queries whose 10x ratios were the steepest. A "
        "per-character/per-row linear plan shows a second-decade ratio "
        "(100x/10x) of ~10x again; a quadratic onset would blow past it.",
        "",
        "| query | 1x sec | 10x sec | 100x sec | 10x/1x | 100x/10x |",
        "|---|---|---|---|---|---|",
    ]
    worst2 = 0.0
    for q in sorted(t1):
        if q in t10 and q in t100:
            r1 = t10[q] / t1[q] if t1[q] > 0 else float("inf")
            r2 = t100[q] / t10[q] if t10[q] > 0 else float("inf")
            worst2 = max(worst2, r2)
            lines.append(f"| {q} | {t1[q]:.2f} | {t10[q]:.2f} | "
                         f"{t100[q]:.2f} | {r1:.1f}x | {r2:.1f}x |")
    lines += ["", f"Worst second-decade ratio: {worst2:.1f}x "
              "(linear expectation ~10x; bound 15x)."]
    with open("SCALE100.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 0 if worst2 < 15 else 1


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--mode", choices=("sweep", "100x"), default="sweep")
    ap.add_argument("base", help="the base sf directory, e.g. .../sf0.1")
    ap.add_argument("work", nargs="?", default="/tmp/graft_scale")
    a = ap.parse_args()
    raise SystemExit((sweep if a.mode == "sweep" else spot100)(a.base, a.work))
