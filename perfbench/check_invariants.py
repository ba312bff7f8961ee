#!/usr/bin/env python3
"""Checks the traced-run invariants of the benchmark.

    python3 perfbench/check_invariants.py [seed]

Runs each workload traced twice with the same seed, from the repository
root, and checks:
- every run is correct, and in each traced query build + plan + exec is
  within 5% of its wall time, and each micro-batch's phases within 5%
  of its trigger time (`trace.phase_gap_max`);
- `operators.build_jobs` and `exec.jobs` repeat exactly for job_chains,
  and `operators.build_jobs` for station_stream, whose job and
  micro-batch counts follow the arrival timing of an open-loop
  generator and so are only reported;
- job_chains builds with Spark jobs; the stream's micro-batch progress is
  seen from outside the engine and every landed chunk has a latency.
Exits 1 if any check fails.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = {"job_chains": ["operators.build_jobs", "exec.jobs", "exec.tasks"],
         "station_stream": ["operators.build_jobs"]}


def traced(workload, seed, seconds):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True)
    lines = r.stdout.strip().splitlines()
    diag = dict(l.split(": ", 1) for l in lines[:-1] if ": " in l)
    return json.loads(lines[-1]), diag


def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]
    problems = []
    for w, exact in EXACT.items():
        (a, da), (b, _) = traced(w, seed, seconds), traced(w, seed, seconds)
        ma, mb = a["metrics"], b["metrics"]
        for r in (a, b):
            if not r["correct"]:
                problems.append(f"{w}: a traced run failed its checks")
            if r["metrics"]["trace.phase_gap_max"]["value"] > 0.05:
                problems.append(f"{w}: phases off their wall by >5%")
        for k in exact:
            print(f"{w} {k}: {ma[k]['value']:g} {mb[k]['value']:g}")
            if ma[k]["value"] != mb[k]["value"]:
                problems.append(f"{w}: {k} differs between runs")
        for k in ("exec.jobs", "streaming.batches", "trace.overhead_s"):
            print(f"{w} {k}: {ma[k]['value']:g} {mb[k]['value']:g}")
        if w == "job_chains" and ma["operators.build_jobs"]["value"] == 0:
            problems.append("job_chains: no Spark jobs while building")
        if w == "station_stream":
            if ma["streaming.batches"]["value"] == 0:
                problems.append("station_stream: no micro-batch progress seen")
            if json.loads(da["chunks_unread"]) != 0:
                problems.append("station_stream: a landed chunk has no latency")
    for p in problems:
        print("FAIL", p)
    print("invariants hold" if not problems else f"{len(problems)} invariant(s) broken")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
