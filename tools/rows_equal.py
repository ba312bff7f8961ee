#!/usr/bin/env python3
"""Compare two `graft.Verify` dump directories row for row.

For every query dumped in either directory (optionally only those whose
name starts with one of the comma-separated prefixes), the two parquet
dumps must have the same column names and the same rows as a multiset:
DuckDB `EXCEPT ALL` both ways, columns matched by name. Prints one
PASS/FAIL line per query and exits 1 on any difference. Usage:

    python3 tools/rows_equal.py <parent_out> <change_out> [prefix,...]
"""
import os
import sys

import duckdb


def queries(out_dir: str) -> set:
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def compare(con, a_dir: str, b_dir: str, name: str) -> str:
    """An empty string when the dumps are equal, else what differs."""
    if not os.path.isdir(os.path.join(a_dir, name)):
        return f"missing in {a_dir}"
    if not os.path.isdir(os.path.join(b_dir, name)):
        return f"missing in {b_dir}"
    a = con.sql(f"SELECT * FROM read_parquet('{a_dir}/{name}/*.parquet')")
    b = con.sql(f"SELECT * FROM read_parquet('{b_dir}/{name}/*.parquet')")
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    cols = ", ".join(f'"{c}"' for c in sorted(a.columns))
    con.register("a_rel", a)
    con.register("b_rel", b)
    only = [con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {x} "
                    f"EXCEPT ALL SELECT {cols} FROM {y})").fetchone()[0]
            for x, y in (("a_rel", "b_rel"), ("b_rel", "a_rel"))]
    if only != [0, 0]:
        return f"{only[0]} rows only in the first, {only[1]} only in the second"
    return ""


def main(argv) -> int:
    if len(argv) not in (3, 4):
        print(__doc__.strip().splitlines()[-1].strip(), file=sys.stderr)
        return 2
    a_dir, b_dir = argv[1], argv[2]
    prefixes = [p.strip() for p in argv[3].split(",") if p.strip()] \
        if len(argv) == 4 else [""]
    names = sorted(n for n in queries(a_dir) | queries(b_dir)
                   if any(n.startswith(p) for p in prefixes))
    if not names:
        print("no query dump matches", file=sys.stderr)
        return 2
    con = duckdb.connect()
    n_fail = 0
    for name in names:
        diff = compare(con, a_dir, b_dir, name)
        if diff:
            n_fail += 1
            print(f"FAIL {name}: {diff}")
        else:
            n = con.sql(f"SELECT count(*) FROM read_parquet("
                        f"'{a_dir}/{name}/*.parquet')").fetchone()[0]
            print(f"PASS {name} ({n} rows)")
    print(f"== {len(names) - n_fail} equal / {n_fail} differ ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
