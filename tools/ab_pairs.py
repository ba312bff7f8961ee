#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark between two checkouts.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR OUT_DIR \\
        --workload job_chains --seeds 341-350 [--seconds 15]

For each seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout (from that checkout's root),
the parent first on even pairs and the change first on odd ones, so a
drift in the host's speed falls on both sides. Each run's output goes to
OUT_DIR/<side>-<seed>.txt; nothing else is written. It prints every run
(its end-to-end metrics and, for batch workloads, `query_wall_s`, so the
query that set each tail is on record), then per metric the two medians,
the change in percent, the pairs the change won and the interquartile
range of the parent's runs. Metric directions come from the parent's
BENCHMARK.json. Exits 1 if a run fails or is not correct.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    """'341-345,350' -> [341, 342, 343, 344, 345, 350]."""
    seeds = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def median(xs):
    return statistics.median(xs)


def iqr(xs):
    """Distance between the inclusive quartiles; 0 for fewer than 2 runs."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def pairs_won(parent, change, better):
    """Pairs where the change is strictly better than the parent."""
    if better == "lower":
        return sum(c < p for p, c in zip(parent, change))
    return sum(c > p for p, c in zip(parent, change))


def summary(parent, change, better):
    """Medians, relative change, pairs won and parent IQR of one metric."""
    mp, mc = median(parent), median(change)
    return {"parent": mp, "change": mc,
            "delta": (mc - mp) / mp if mp else 0.0,
            "won": pairs_won(parent, change, better), "pairs": len(parent),
            "parent_iqr": iqr(parent)}


def parse_run(text):
    """(result object, query_wall_s or None) from run.py's stdout."""
    lines = text.strip().splitlines()
    result = json.loads(lines[-1])
    walls = None
    for line in lines[:-1]:
        if line.startswith("query_wall_s: "):
            walls = json.loads(line.split(": ", 1)[1])
    return result, walls


def run_once(checkout, workload, seed, seconds, out_path):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    with open(out_path, "w") as f:
        f.write(r.stdout + r.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"{checkout} seed {seed}: exit {r.returncode}, see {out_path}")
    return parse_run(r.stdout)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("out")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    runs = {"parent": [], "change": []}
    ok = True
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            checkout = a.parent if side == "parent" else a.change
            result, walls = run_once(checkout, a.workload, seed, a.seconds,
                                     os.path.join(a.out, f"{side}-{seed}.txt"))
            ok &= result["correct"]
            vals = {k: v["value"] for k, v in result["metrics"].items()}
            runs[side].append(vals)
            print(f"seed {seed} {side}: correct={result['correct']} " +
                  " ".join(f"{k}={v:.4g}" for k, v in sorted(vals.items())) +
                  (f" query_wall_s={json.dumps(walls)}" if walls else ""),
                  flush=True)
    print(f"{'metric':<16}{'parent':>12}{'change':>12}{'delta':>9}"
          f"{'won':>8}{'par_iqr':>11}")
    for name in sorted(runs["parent"][0]):
        s = summary([r[name] for r in runs["parent"]],
                    [r[name] for r in runs["change"]], better.get(name, "lower"))
        print(f"{name:<16}{s['parent']:>12.4g}{s['change']:>12.4g}"
              f"{s['delta']:>+8.1%}{s['won']:>5}/{s['pairs']:<2}"
              f"{s['parent_iqr']:>11.4g}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
