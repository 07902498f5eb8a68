#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (dev tool only — the
shipped Scala library does not depend on this).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json (dumped by graft.Verify), runs each
SQL in DuckDB over the parquet tables in <sfDir>, loads the Spark result
parquet from <verifyOutDir>/<name>/, sorts columns by name and rows by all
columns, and compares values cell-by-cell. Each query's line ends with the
seconds its oracle SQL took in DuckDB and the seconds the whole check took
(load, sort, compare); the run ends with the 10 slowest oracle queries.
"""
import duckdb, glob, json, math, os, sys, time

import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def cells_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b  # exact — engine must produce bit-identical doubles
    return str(a) == str(b)


def check(con, oracle, out_dir, name):
    """Check one query; returns (ok, status line, DuckDB oracle seconds)."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return False, f"[MISS ] {name}: no spark parquet output", 0.0
    got = canon(con.sql(
        f"SELECT * FROM read_parquet({files!r})").df())
    if name not in oracle:
        return (len(got) > 0,
                f"[ROWS ] {name}: {len(got)} rows (no oracle — rows-only check)",
                0.0)
    t0 = time.perf_counter()
    sql_s = 0.0
    try:
        exp = con.sql(oracle[name]).df()
        sql_s = time.perf_counter() - t0
        exp = canon(exp)
    except Exception as e:
        return (False, f"[SQLER] {name}: oracle SQL failed: {e}",
                sql_s or time.perf_counter() - t0)
    if list(exp.columns) != list(got.columns):
        return (False, f"[COLS ] {name}: oracle {list(exp.columns)} "
                f"!= spark {list(got.columns)}", sql_s)
    if len(exp) != len(got):
        return (False, f"[NROW ] {name}: oracle {len(exp)} != spark {len(got)}",
                sql_s)
    bad = []
    for c in exp.columns:
        ev, gv = exp[c].tolist(), got[c].tolist()
        for i, (a, b) in enumerate(zip(ev, gv)):
            if not cells_equal(a, b):
                bad.append((c, i, a, b))
                if len(bad) >= 3:
                    break
        if len(bad) >= 3:
            break
    dtypes_differ = [
        (c, str(exp[c].dtype), str(got[c].dtype))
        for c in exp.columns if str(exp[c].dtype) != str(got[c].dtype)]
    if bad:
        return False, f"[FAIL ] {name}: first diffs {bad}", sql_s
    if dtypes_differ:
        return (True, f"[DTYPE] {name}: values match; dtypes differ "
                f"{dtypes_differ}", sql_s)
    return True, f"[OK   ] {name}: {len(got)} rows, {len(got.columns)} cols", sql_s


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    for q in os.environ.get("SKIP_ORACLES", "").split(","):
        oracle.pop(q, None)
    n_fail = 0
    dirs = {os.path.basename(d) for d in glob.glob(f"{out_dir}/*") if os.path.isdir(d)}
    # include oracle keys whose spark dump is missing (query crashed in Verify)
    all_queries = sorted(dirs | set(oracle))
    secs = {}  # name -> (DuckDB oracle seconds, whole-check seconds)
    for name in all_queries:
        t0 = time.perf_counter()
        ok, line, sql_s = check(con, oracle, out_dir, name)
        secs[name] = (sql_s, time.perf_counter() - t0)
        if not ok:
            n_fail += 1
        print(f"{line} [duckdb {sql_s:.2f} s, total {secs[name][1]:.2f} s]",
              flush=True)
    print("\n10 slowest oracle queries (duckdb s, total s):")
    for name, (sql_s, total_s) in sorted(
            secs.items(), key=lambda kv: -kv[1][0])[:10]:
        print(f"  {sql_s:8.2f} {total_s:8.2f}  {name}")
    print(f"\n{len(all_queries)} queries, {n_fail} failures")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
