#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload job_chains --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles graft (`src/main`)
and the benchmark harness (`perfbench/harness`) with the Scala compiler
shipped in Spark's jars, into `.bench_build/`; later runs reuse the
classes while the sources are unchanged. The harness JVM runs the
workload on the tables in `perfbench/data` and writes a raw record;
this script checks the outputs, derives the metrics (see metrics.py and
README.md), prints them one per line, and prints the result object as
the last line. It exits non-zero, without a result, when it cannot
build or run the workload.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import streamgen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, or else the jar directory the sbt build uses."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return m.group(1) if m else ""


SPARK_JARS = spark_jars()
JVM_TIMEOUT_S = 150  # leaves room for staging and checks in the 180 s a run may take
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=256m"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def files_under(d, suffixes):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(suffixes)]
    return sorted(out)


def digest_of(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_scala(name, sources, classpath, resources=None):
    """Compiles `sources` once per source digest into .bench_build."""
    key = digest_of(sources + (files_under(resources, "") if resources else []),
                    classpath)
    out = os.path.join(BUILD, f"{name}-{key}")
    if os.path.isfile(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + sources
    print(f"perfbench: compiling {name} ({len(sources)} files)", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compiling {name} failed")
    if resources:
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def build():
    src = os.path.join(ROOT, "src", "main", "scala")
    engine_sources = files_under(src, (".scala", ".java"))
    if not engine_sources:
        fail(f"no graft sources under {src}; run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS!r} (set SPARK_HOME)")
    jars = os.path.join(SPARK_JARS, "*")
    engine = compile_scala("engine", engine_sources, jars,
                           os.path.join(ROOT, "src", "main", "resources"))
    harness = compile_scala(
        "harness", files_under(os.path.join(HERE, "harness"), ".scala"),
        f"{jars}{os.pathsep}{engine}")
    return [harness, engine, jars]


def run_jvm(classpath, work, jvm_args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", *JVM_FLAGS, "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "graftbench.Main"] + jvm_args
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"))
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         cwd=work, start_new_session=True)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM failed ({rc})")


def stream_snapshot_ok(raw, data):
    """Checks the stream's final snapshot (latest emission per station and
    day) against the station_day_agg oracle SQL, run by DuckDB over every
    landed chunk."""
    import duckdb
    oracle = raw["oracle_sql"]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{raw['landing']}/*.parquet')")
    con.sql(f"CREATE VIEW supplier AS SELECT * FROM "
            f"read_parquet('{data}/supplier.parquet')")
    cols = ("station_name, event_day, started_trips, ended_trips, "
            "avg_temperature, epoch_us(update_time) AS update_us")
    con.sql(f"CREATE VIEW want AS SELECT {cols} FROM ({oracle})")
    con.sql(f"CREATE VIEW got AS SELECT {cols} FROM "
            f"read_parquet('{raw['snapshot']}/*.parquet')")
    diff = con.sql("SELECT count(*) FROM ((SELECT * FROM got EXCEPT ALL "
                   "SELECT * FROM want) UNION ALL (SELECT * FROM want "
                   "EXCEPT ALL SELECT * FROM got))").fetchone()[0]
    rows = con.sql("SELECT count(*) FROM want").fetchone()[0]
    return diff == 0 and rows > 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}")
    w = spec["workloads"][a.workload]
    data = os.path.join(HERE, "data")
    classpath = build()

    work = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_workload(a, w, data, classpath, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(result)


def run_workload(a, w, data, classpath, work):
    """Runs one workload in `work`; prints its metrics and diagnostics and
    returns the result line."""
    launch_ms = time.time() * 1e3
    out = os.path.join(work, "raw.json")
    cores = len(os.sched_getaffinity(0))
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--work", work, "--out", out,
                "--cores", str(cores), "--mode", "bench"]
    if w["kind"] == "batch":
        jvm_args += ["--queries", ",".join(w["queries"])]
    else:
        chunks = streamgen.plan(a.seed, a.seconds, w["ladder_eps"])
        stage = os.path.join(work, "stage")
        streamgen.stage(chunks, a.seed, os.path.join(data, "events.parquet"), stage)
        schedule = os.path.join(work, "schedule.tsv")
        with open(schedule, "w") as f:
            for c in chunks:
                due = -1 if c["due_off_ms"] is None else c["due_off_ms"]
                f.write(f"{c['file']}\t{c['segment']}\t{due}\n")
        jvm_args += ["--stage", stage, "--schedule", schedule,
                     "--warmup_batches", str(streamgen.WARMUP_BATCHES)]
    run_jvm(classpath, work, jvm_args)
    with open(out) as f:
        raw = json.load(f)

    diag = {"workload": a.workload, "seed": a.seed, "cores": raw["cores"],
            "xmx": raw["xmx"]}
    if w["kind"] == "batch":
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)["answers"]
        wrong = metrics.check_digests(raw["digests"], expected)
        errors = [q["name"] for p in raw["passes"] for q in p["queries"] if q["error"]]
        attempted = len(raw["digests"]) + sum(len(p["queries"]) for p in raw["passes"])
        failed = len(wrong) + len(errors)
        e2e, extra = metrics.batch_end_to_end(raw)
        diag.update(extra, wrong_outputs=wrong, failed_queries=sorted(set(errors)))
    else:
        timed = [c for c in chunks if c["segment"] not in ("priming", "warmup")]
        for c, landed in zip(timed, raw["landed_ms"]):
            c["due_ms"] = raw["gen_start_ms"] + c["due_off_ms"]
            c["landed_ms"] = landed
        raw["chunks"] = timed
        raw["segments"] = [{"name": n, "rate": r} for n, r, _ in
                           streamgen.segments(w["ladder_eps"])]
        raw["ref_segment"] = streamgen.REF
        e2e, extra = metrics.stream_metrics(raw)
        snapshot_ok = stream_snapshot_ok(raw, data)
        attempted = len(raw["chunks"]) + 1
        failed = extra["chunks_unread"] + (0 if snapshot_ok else 1)
        diag.update({k: v for k, v in extra.items()
                     if k not in ("latencies_ms", "backlog")},
                    snapshot_ok=snapshot_ok)
    setup_s = (raw["first_timed_ms"] - launch_ms) / 1e3
    if w["kind"] == "batch":  # batch times are at the reference host speed
        diag["unscaled_setup_s"] = setup_s
        setup_s *= diag["host_wall_scale"]
    e2e["setup_s"] = setup_s
    e2e["rss_peak_mb"] = raw["rss_peak_mb"]

    if a.trace:
        if w["kind"] == "batch":
            layers = metrics.batch_layers(raw)
        else:
            layers = metrics.stream_layers(raw, extra)
        # the phases must account for each traced query's (or micro-batch's) wall
        diag["phases_cover_wall"] = layers["trace.phase_gap_max"] <= 0.05
        attempted += 1
        failed += 0 if diag["phases_cover_wall"] else 1
        # a layer the workload does not exercise reads 0
        values = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                              "unit": m["unit"]}
                  for m in benchmark_spec()["per_layer"]}
        with open(os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"spans": raw.get("spans", []), "raw": raw}, f)
    else:
        values = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                  for m in benchmark_spec()["end_to_end"]}

    diag["failed_frac"] = failed / attempted
    for k, v in sorted(diag.items()):
        print(f"{k}: {json.dumps(v)}")
    for k, v in values.items():
        print(f"{k}: {v['value']:.6g} {v['unit']}")
    return json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": values})


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    main()
