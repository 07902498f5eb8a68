#!/usr/bin/env python3
"""Repeat the benchmark over seeds and record every run in a ledger.

    python3 perfbench/ledger.py --sets 2 --seeds 10 --traced-seed 1 \\
        --out perfbench/ledger/baseline.jsonl
    python3 perfbench/ledger.py --summarize --out perfbench/ledger/baseline.jsonl

Each run is `run.py --workload <w> --seed <s>` in its own process, as the
benchmark is meant to be run. Every run is written to the ledger as it
finishes -- a crashed or non-zero-exit run too, with its exit code and the
tail of its stderr; none is dropped. The summary gives, per set, workload and
end-to-end metric, the sample count, the median and the spread (first to
third quartile as a share of the median, `statistics.quantiles(n=4)`), checks
each spread against the metric's bound in BENCHMARK.json, and checks that a
later set's median is not worse than the first set's by more than the bound.
`--traced-seed` adds one traced run per workload and copies its spans and
report next to the ledger; the summary gives its tracing overhead, traced
`trace.wall_s` over the untraced `wall_s` of the same seed. `--summarize`
prints the summary of an existing ledger and runs nothing.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import run


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=run.ROOT,
                              capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def one(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=run.ROOT, capture_output=True, text=True)
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
           "elapsed_s": round(time.time() - t0, 2), "nproc": os.cpu_count(),
           "heap": run.HEAP}
    lines = p.stdout.strip().splitlines()
    try:
        rec["result"] = json.loads(lines[-1])
        head = next(line for line in lines if line.startswith("# "))
        rec["header"] = head[2:]
    except (IndexError, ValueError, StopIteration):
        rec["result"] = None
    if p.returncode != 0 or rec["result"] is None:
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def overhead(records):
    for t in (r for r in records if r["set"] == "traced" and r["result"]):
        base = [r["result"]["metrics"]["wall_s"]["value"] for r in records
                if r["set"] != "traced" and r["workload"] == t["workload"]
                and r["seed"] == t["seed"] and r["result"]]
        traced = t["result"]["metrics"]["trace.wall_s"]["value"]
        if base:
            print(f"tracing overhead {t['workload']} seed={t['seed']}: traced wall_s "
                  f"{traced:.3f} s vs untraced {statistics.median(base):.3f} s "
                  f"(n={len(base)}): {traced / statistics.median(base) - 1:+.1%}")


def summarize(records, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    overhead(records)
    records = [r for r in records if r["set"] != "traced"]
    sets = sorted({r["set"] for r in records})
    for w in run.WORKLOADS:
        runs = [r for r in records if r["workload"] == w and r["trace"] == 0]
        if not runs:
            continue
        bad = [r for r in runs if r["rc"] != 0 or not r["result"]
               or not r["result"]["correct"]]
        print(f"\n{w}: {len(runs)} runs, {len(bad)} crashed/failed/incorrect")
        ok &= not bad
        first = {}
        for s in sets:
            good = [r for r in runs if r["set"] == s and r not in bad]
            for m, bound in bounds.items():
                xs = [r["result"]["metrics"][m]["value"] for r in good]
                if len(xs) < 2:
                    continue
                q = statistics.quantiles(xs, n=4)
                med = statistics.median(xs)
                spread = (q[2] - q[0]) / med
                verdict = "ok"
                if spread > bound:
                    verdict, ok = "SPREAD>BOUND", False
                if s == sets[0]:
                    first[m] = med
                elif (med - first[m]) / first[m] > bound:
                    verdict, ok = "DRIFT>BOUND", False
                print(f"  set{s} {m:<18} n={len(xs):<3} median={med:<10.4g} "
                      f"spread={spread:.4f} bound={bound} third={bound / 3:.4f} {verdict}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced-seed", type=int, default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--summarize", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.summarize:
        with open(a.out) as f:
            sys.exit(0 if summarize([json.loads(line) for line in f], bench) else 1)
    seconds = bench["run_seconds"]
    meta = {"commit": git_commit(), "nproc": os.cpu_count(), "heap": run.HEAP,
            "seconds": seconds, "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    records = []
    with open(a.out, "a") as out:
        for s in range(a.sets):
            for i in range(a.seeds):
                seed = a.first_seed + s * a.seeds + i
                for w in run.WORKLOADS:
                    rec = dict(meta, set=s, **one(w, seed, seconds, 0))
                    records.append(rec)
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"set{s} {w} seed={seed} rc={rec['rc']} "
                          f"{rec['elapsed_s']}s {rec.get('header', '')}", flush=True)
        if a.traced_seed is not None:
            tdir = os.path.join(os.path.dirname(os.path.abspath(a.out)), "trace")
            for w in run.WORKLOADS:
                rec = dict(meta, set="traced", **one(w, a.traced_seed, seconds, 1))
                records.append(rec)
                out.write(json.dumps(rec) + "\n")
                src = os.path.join(run.WORK, "trace", f"{w}-seed{a.traced_seed}")
                if os.path.isdir(src):
                    shutil.copytree(src, os.path.join(tdir, os.path.basename(src)),
                                    dirs_exist_ok=True)
                print(f"traced {w} rc={rec['rc']} {rec['elapsed_s']}s", flush=True)
    sys.exit(0 if summarize(records, bench) else 1)


if __name__ == "__main__":
    main()
