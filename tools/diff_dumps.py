#!/usr/bin/env python3
"""Compare two graft.Verify dumps frame by frame (dev tool only).

Usage: python3 tools/diff_dumps.py <dumpA> <dumpB>

For every query directory in either dump, checks that the two frames have
the same schema (column names and types, in order) and the same row
multiset (DuckDB `EXCEPT ALL` in both directions, so duplicated rows
count). Prints one line per query that is missing from one side or
differs, then a summary line. Then compares the two dumps'
`oracle_sql.json` key by key: one `[SQL  ]` line per key whose text
differs or that only one side has (a missing file counts as no keys),
then a summary line. Exit code 0 = every frame and every oracle text
equal, 1 = any query or oracle text missing or different, 2 = bad
arguments.
"""
import glob
import json
import os
import sys

import duckdb


def frames(dump: str) -> dict:
    """query name -> its parquet files, for each query dir of a dump."""
    out = {}
    for d in glob.glob(os.path.join(dump, "*")):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if os.path.isdir(d) and files:
            out[os.path.basename(d)] = files
    return out


def diff(con, a: list, b: list):
    """None if the frames are equal, else why they differ."""
    ra, rb = (f"read_parquet({files!r})" for files in (a, b))
    sa = con.sql(f"DESCRIBE SELECT * FROM {ra}").fetchall()
    sb = con.sql(f"DESCRIBE SELECT * FROM {rb}").fetchall()
    ta, tb = [c[:2] for c in sa], [c[:2] for c in sb]
    if ta != tb:
        return f"schema {ta} != {tb}"
    only_a = con.sql(f"SELECT count(*) FROM "
                     f"(SELECT * FROM {ra} EXCEPT ALL SELECT * FROM {rb})").fetchone()[0]
    only_b = con.sql(f"SELECT count(*) FROM "
                     f"(SELECT * FROM {rb} EXCEPT ALL SELECT * FROM {ra})").fetchone()[0]
    if only_a or only_b:
        n_a = con.sql(f"SELECT count(*) FROM {ra}").fetchone()[0]
        n_b = con.sql(f"SELECT count(*) FROM {rb}").fetchone()[0]
        return f"rows differ: {only_a} only in A, {only_b} only in B ({n_a} vs {n_b} rows)"
    return None


def oracle_sql(dump: str) -> dict:
    """query name -> oracle SQL text from a dump's oracle_sql.json ({} if none)."""
    path = os.path.join(dump, "oracle_sql.json")
    if not os.path.isfile(path):
        return {}
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def sql_diffs(a: dict, b: dict) -> int:
    """Print a [SQL  ] line per key whose text differs or is on one side only."""
    bad = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"[SQL  ] {name}: only in {'A' if name in a else 'B'}")
        elif a[name] != b[name]:
            print(f"[SQL  ] {name}: oracle text differs")
        else:
            continue
        bad += 1
    n = len(a.keys() | b.keys())
    print(f"{n - bad} of {n} oracle texts equal, {bad} missing or different")
    return bad


def main() -> int:
    if len(sys.argv) != 3 or not all(os.path.isdir(d) for d in sys.argv[1:]):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    fa, fb = frames(sys.argv[1]), frames(sys.argv[2])
    con = duckdb.connect()
    bad = 0
    for name in sorted(fa.keys() | fb.keys()):
        if name not in fb or name not in fa:
            print(f"[MISS ] {name}: only in {'A' if name in fa else 'B'}")
            bad += 1
            continue
        try:
            why = diff(con, fa[name], fb[name])
        except duckdb.Error as e:
            why = f"comparison failed: {e}"
        if why:
            print(f"[DIFF ] {name}: {why}")
            bad += 1
    n = len(fa.keys() | fb.keys())
    print(f"{n - bad} of {n} frames equal, {bad} missing or different")
    bad += sql_diffs(oracle_sql(sys.argv[1]), oracle_sql(sys.argv[2]))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
