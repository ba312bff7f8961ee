#!/usr/bin/env python3
"""Records the batch workloads' expected answers in expected.json.

    python3 perfbench/record_expected.py

Run from the repository root. Each pinned query runs once on
perfbench/data; its output is written as parquet and compared, value by
value, with its DuckDB oracle SQL (`SparkEntry.oracleSql`) over the same
tables: columns in name order, rows sorted, typed equality. The row count
and hash the benchmark checks on every run are stored for each query,
with the oracle's verdict. A query whose oracle disagrees keeps the
oracle's verdict beside it and is not recorded as an expected answer, so
every run counts it as failed.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

ORACLE_TIMEOUT_S = 600


def compare(name, dump_dir, data):
    """Prints 'pass' or 'fail: <why>' for one query."""
    import duckdb
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        con.sql(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{data}/{f}'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        sql = json.load(f)[name]
    got = norm(con.sql(f"SELECT * FROM read_parquet('{dump_dir}/{name}/*.parquet')").df())
    want = norm(con.sql(sql).df())
    if list(got.columns) != list(want.columns):
        return f"fail: columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"fail: rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if (pd.api.types.is_integer_dtype(a) and pd.api.types.is_float_dtype(b)) or \
                (pd.api.types.is_float_dtype(a) and pd.api.types.is_integer_dtype(b)):
            return f"fail: column {c} dtype {a.dtype} vs {b.dtype}"
        try:
            eq = (a.values == b.values) | (a.isna().values & b.isna().values)
        except Exception:  # noqa: BLE001 - unorderable cells compare as text
            eq = a.astype(str).values == b.astype(str).values
        bad = (~eq).nonzero()[0]
        if len(bad):
            i = bad[0]
            return (f"fail: column {c}: {len(bad)}/{len(a)} differ, first "
                    f"spark={a.iloc[i]!r} duckdb={b.iloc[i]!r}")
    return "pass"


def main():
    if len(sys.argv) == 4:  # one comparison, in its own process
        print(compare(*sys.argv[1:]))
        return
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    data = os.path.join(HERE, "data")
    classpath = run.build()
    answers, oracle = {}, {}
    for wname, w in spec["workloads"].items():
        if w["kind"] != "batch":
            continue
        work = os.path.join(run.BUILD, f"record-{wname}")
        shutil.rmtree(work, ignore_errors=True)
        dump_dir = os.path.join(work, "dump")
        os.makedirs(dump_dir)
        out = os.path.join(work, "raw.json")
        run.run_jvm(classpath, work, [
            "--workload", wname, "--seed", "0", "--seconds", "0", "--trace", "0",
            "--data", data, "--work", work, "--out", out,
            "--cores", str(len(os.sched_getaffinity(0))), "--mode", "dump",
            "--queries", ",".join(w["queries"]), "--dump_dir", dump_dir])
        with open(out) as f:
            digests = json.load(f)["digests"]
        for name in w["queries"]:
            try:
                r = subprocess.run([sys.executable, __file__, name, dump_dir, data],
                                   stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                                   text=True, timeout=ORACLE_TIMEOUT_S)
                verdict = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "fail: no output"
            except subprocess.TimeoutExpired:
                verdict = f"not finished within {ORACLE_TIMEOUT_S} s"
            oracle[name] = verdict
            print(f"{wname} {name}: {verdict}")
            if "error" not in digests[name] and not verdict.startswith("fail"):
                answers[name] = digests[name]
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"data": "perfbench/data", "answers": answers, "oracle": oracle},
                  f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
