#!/usr/bin/env python3
"""Pin the expected checksum of every benchmark op, cross-checked with DuckDB.

    python3 perfbench/pin.py [workload ...]   # default: every workload

Pins of the named workloads are rewritten; the others in pins.json are kept.

For each workload the JVM runs every distinct op once (`--mode dump`) and
writes the result as parquet, its (rows, bit_xor, decimal sum) checksum and
its oracle SQL: the registry's SparkEntry.oracleSql where one exists, and the
parity oracle with the op's dates substituted for the JobRunner sinks. Each
result with an oracle is compared value-for-value with DuckDB over the same
corpus (columns by name, rows sorted, doubles exact); a mismatch stops the
script and nothing is pinned. pins.json records which pins were checked this
way (`"oracle": "duckdb"`), which have an oracle that DuckDB did not finish
within ORACLE_LIMIT_S seconds at this scale (`"duckdb-timeout"`; some oracles
are all-pairs SQL), and which have no oracle (`null`). A timed-out pin keeps
the limit it was given and, where the library's own DuckDB gate
(CORRECTNESS_r15.json, at sf0.01) matched the same query, a note saying so:
that pin is the program's own result at sf0.1, checked only at the smaller
scale.
"""
import datetime
import json
import math
import os
import shutil
import subprocess
import sys
import threading

import duckdb

import run

# pinning is done once, so an oracle may take long
ORACLE_LIMIT_S = 900
# the library's DuckDB gate at sf0.01, for the pins DuckDB cannot check here
GATE = os.path.join(run.ROOT, "CORRECTNESS_r15.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(r[i] for i in order) for r in rows), key=lambda r: [str(x) for x in r])


def same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    # a DATE in one engine is a midnight TIMESTAMP in the other (as pandas
    # sees them in tools/check_oracle.py)
    for x, y in ((a, b), (b, a)):
        if isinstance(x, datetime.datetime) and type(y) is datetime.date:
            return x == datetime.datetime.combine(y, datetime.time())
    return a == b or str(a) == str(b)


def check(con, sql, parquet_dir):
    got = con.sql(f"SELECT * FROM read_parquet('{parquet_dir}/*.parquet')")
    timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
    timer.start()
    try:
        exp = con.from_arrow(con.sql(sql).fetch_arrow_table())
    except duckdb.InterruptException:
        return "timeout"
    finally:
        timer.cancel()
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(exp.columns)} != {sorted(got.columns)}"
    g, e = canon(got.fetchall(), got.columns), canon(exp.fetchall(), exp.columns)
    if len(g) != len(e):
        return f"{len(e)} oracle rows != {len(g)} rows"
    for rg, re_ in zip(g, e):
        if not all(same(x, y) for x, y in zip(rg, re_)):
            return f"first diff: oracle {re_} != {rg}"
    return None


def gate_note(name):
    """The library gate's verdict on a registry query, if it matched."""
    if not name.startswith("query:") or not os.path.exists(GATE):
        return None
    with open(GATE) as f:
        g = json.load(f).get(name.split(":", 1)[1])
    if not g or not (g["rows_match"] and g["schema_match"] and g["hash_match"]):
        return None
    return (f"matched its DuckDB oracle at sf0.01 ({g['oracle_rows']} rows) "
            f"in {os.path.basename(GATE)}; checked only at that scale")


def main():
    cp = run.build()
    con = duckdb.connect()
    con.sql("SET memory_limit = '3GB'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    pins, bad = {}, []
    if os.path.exists(run.PINS):
        with open(run.PINS) as f:
            pins = json.load(f)["pins"]
    for w in sys.argv[1:] or run.WORKLOADS:
        pins[w] = {}
        work = os.path.join(run.WORK, "dump")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        log = os.path.join(run.WORK, f"dump-{w}.log")
        with open(log, "w") as lf:
            rc = subprocess.run(
                ["java", *run.OPENS, f"-Xmx{run.HEAP}", "-XX:-UsePerfData",
                 "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                 "-cp", cp, "perfbench.Main", "--mode", "dump", "--workload", w,
                 "--data", run.DATA, "--work", work, "--out", work],
                cwd=work, stdout=lf, stderr=subprocess.STDOUT).returncode
        if rc != 0:
            run.die(4, f"dump of {w} failed ({rc}):\n" + run._tail(log))
        with open(os.path.join(work, "dump.json")) as f:
            for e in json.load(f):
                status = None
                pin = {"rows": e["rows"], "xor": e["xor"], "sum": e["sum"]}
                if e["oracle"]:
                    err = check(con, e["oracle"], e["dir"])
                    status = "duckdb-timeout" if err == "timeout" else "duckdb"
                    if err and status == "duckdb":
                        bad.append(f"{e['name']}: {err}")
                    if status == "duckdb-timeout":
                        pin["oracle_limit_s"] = ORACLE_LIMIT_S
                        note = gate_note(e["name"])
                        if note:
                            pin["note"] = note
                pins[w][e["name"]] = dict(pin, oracle=status)
                print(f"[{status or 'no oracle'}] {e['name']}: {e['rows']} rows",
                      flush=True)
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        run.die(1, "oracle mismatch, nothing pinned:\n" + "\n".join(bad))
    with open(run.PINS, "w") as f:
        json.dump({"pins": pins}, f, indent=1, sort_keys=True)
        f.write("\n")
    every = [p for ps in pins.values() for p in ps.values()]
    n = sum(1 for p in every if p["oracle"] == "duckdb")
    print(f"{len(every)} pins, {n} cross-checked with DuckDB")


if __name__ == "__main__":
    sys.exit(main())
