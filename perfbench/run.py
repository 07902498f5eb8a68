#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one client, closed loop.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Run from the root of a source checkout. The first run builds the library and
the harness with sbt (offline) into target/ and perfbench/target/; later runs
reuse the build while the sources are unchanged. The JVM (perfbench.Main)
writes what it measured to perfbench/work/<workload>-seed<seed>-trace<t>.json
(its log next to it); this script turns that into metrics, prints a table
with the sample count of every metric, and prints the result as one JSON
object on the last line of stdout. With --trace 1 the
metrics are the per-layer ones, and the spans and a report are written to
perfbench/work/trace/<workload>-seed<seed>/. `--workload all` runs every
workload untraced and then traced and prints every metric.

Exit codes: 0 ran (the JSON says whether every op was correct); 2 bad
arguments or not a source checkout; 3 the build failed; 4 the JVM crashed,
timed out or wrote no result (reported, with the tail of its log).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DATA = os.path.join(HERE, "data", "sf0.1")
PINS = os.path.join(HERE, "pins.json")
WORKLOADS = ("etl_daily", "llm_curation")
HEAP = "4g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 outside spark-submit needs these (as tools/run.sh)
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx2g")

# end-to-end metric -> unit; per-layer metric -> (unit, what it should move)
END_TO_END = {"wall_s": "s", "op_p50_s": "s", "op_p90_s": "s", "setup_s": "s",
              "cold_setup_s": "s", "live_heap_peak_mb": "MB"}
PER_LAYER = {
    "setup.first_s": ("s", "cold_setup_s, all"),
    "setup.session_s": ("s", "setup_s, all"),
    "setup.preflight_s": ("s", "setup_s, all"),
    "driver.build_s": ("s", "wall_s, llm_curation; wall_s etl_daily (streams)"),
    "driver.plan_s": ("s", "op_p50_s, etl_daily"),
    "driver.nojob_s": ("s", "op_p50_s etl_daily; wall_s llm_curation"),
    "sched.jobs": ("count", "op_p50_s etl_daily; wall_s llm_curation"),
    "sched.stages": ("count", "op_p50_s etl_daily; wall_s llm_curation"),
    "sched.tasks": ("count", "op_p50_s etl_daily; wall_s llm_curation"),
    "sched.task_wait_s": ("s", "wall_s, llm_curation"),
    "exec.task_s": ("s", "wall_s, llm_curation"),
    "exec.cpu_s": ("s", "wall_s, llm_curation"),
    "exec.gc_s": ("s", "wall_s, llm_curation"),
    "exec.spill_mb": ("MB", "wall_s, llm_curation"),
    "exec.busy_frac": ("ratio", "wall_s, all"),
    "exec.skew_max": ("ratio", "wall_s, llm_curation"),
    "shuffle.write_mb": ("MB", "wall_s, llm_curation"),
    "shuffle.read_mb": ("MB", "wall_s, llm_curation"),
    "shuffle.fetch_wait_s": ("s", "wall_s, llm_curation"),
    "cache.storage_peak_mb": ("MB", "live_heap_peak_mb, llm_curation"),
    "scan.input_mb": ("MB", "op_p50_s, etl_daily"),
    "scan.input_rows": ("count", "op_p50_s, etl_daily"),
    "scan.rows_per_result_row": ("ratio", "op_p50_s, etl_daily"),
    "sink.write_s": ("s", "op_p50_s + wall_s, etl_daily"),
    "sink.output_mb": ("MB", "op_p50_s + wall_s, etl_daily"),
    "sink.files": ("count", "op_p50_s + wall_s, etl_daily"),
    "stream.batches": ("count", "wall_s, etl_daily (stream sinks)"),
    "stream.add_batch_s": ("s", "wall_s, etl_daily (stream sinks)"),
    "stream.plan_s": ("s", "wall_s, etl_daily (stream sinks)"),
    "stream.source_s": ("s", "wall_s, etl_daily (stream sinks)"),
    "stream.wal_s": ("s", "wall_s, etl_daily (stream sinks)"),
    "stream.state_rows_peak": ("count", "wall_s, etl_daily (stream sinks)"),
    "stream.state_mb_peak": ("MB", "wall_s, etl_daily (stream sinks)"),
    "stream.state_commit_s": ("s", "wall_s, etl_daily (stream sinks)"),
    "self.harness_s": ("s", "wall_s, all"),
    "self.op_s": ("s", "wall_s, all"),
    "self.build_s": ("s", "wall_s, all"),
    "self.materialize_s": ("s", "wall_s, all"),
    "self.batch_s": ("s", "wall_s, etl_daily (stream sinks)"),
    "self.job_s": ("s", "wall_s, all"),
    "self.stage_s": ("s", "wall_s, all"),
    "trace.wall_s": ("s", "tracing overhead vs untraced wall_s"),
}
MB = 1048576.0


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ----------------------------------------------------------------- build
def _fingerprint():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Classpath of the library + harness, building them when stale."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = os.path.join(target, "perfbench.stamp")
    fp = _fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == fp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(cp_file):
        die(3, f"build failed ({rc}); tail of {log}:\n" + _tail(log))
    with open(stamp, "w") as f:
        f.write(fp)
    with open(cp_file) as c:
        return c.read()


def _tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return "(no log)"


# ------------------------------------------------------------------- run
def run_jvm(cp, workload, seed, seconds, trace):
    """Run one measured JVM; returns its result document."""
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(WORK, f"{tag}.json")
    log = os.path.join(WORK, f"{tag}.log")
    if os.path.exists(out):
        os.remove(out)
    launched_ms = time.time() * 1000.0
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    # -XX:MaxHeapFreeRatio=100: the heap is never shrunk. The warm-up's
    # forced full collections would otherwise shrink it to a few hundred MB,
    # and the first measured op would pay to grow it back (1-1.5 s on
    # llm_curation, so op_p90_s was whichever query the seed put first).
    cmd = ["java", *OPENS, f"-Xmx{HEAP}", "-XX:MaxHeapFreeRatio=100",
           "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", "--mode", "run",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--data", DATA, "--work", work, "--out", out,
           "--pins", PINS, "--launched-ms", repr(launched_ms)]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        die(4, f"{tag}: JVM exit {rc}, no result; tail of {log}:\n" + _tail(log))
    with open(out) as f:
        doc = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return doc


def p90(xs):
    """Nearest-rank 90th percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)]


def end_to_end(doc):
    """metric -> (value, sample count)."""
    lat = [(o["t1"] - o["t0"]) / 1000.0 for o in doc["ops"] if o["pass"] >= 0]
    heap = [o["live_mb"] for o in doc["ops"] if o["pass"] < 0]
    walls = pass_walls(doc)
    setups = [(s["end"] - s["t0"]) / 1000.0 for s in doc["setups"]]
    return {
        "wall_s": (statistics.median(walls), len(walls)),
        "op_p50_s": (statistics.median(lat), len(lat)),
        "op_p90_s": (p90(lat), len(lat)),
        "setup_s": (statistics.median(setups), len(setups)),
        "cold_setup_s": (setups[0], 1),
        "live_heap_peak_mb": (max(heap), len(heap)),
    }


def pass_walls(doc):
    """Wall of each whole measured pass."""
    return [(p["end"] - p["start"]) / 1000.0 for p in doc["passes"]]


def _union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spans_of(doc):
    """The span tree: run > setup | op > build | materialize > batch > job >
    stage. A job's parent is the innermost span of its own op that holds its
    start; a stage's is the job that submitted it."""
    spans = []

    def add(kind, name, start, end, parent, op=-1):
        spans.append({"id": len(spans), "kind": kind, "name": name,
                      "start": start, "end": end, "parent": parent, "op": op})
        return len(spans) - 1

    run = add("run", doc["workload"], doc["launched"], doc["run_end"], -1)
    for i, s in enumerate(doc["setups"]):
        add("setup", f"setup{i}", s["t0"], s["end"], run)
    tr = doc.get("trace", {})
    inner = {}  # op index -> candidate parents of jobs, innermost first
    for i, o in enumerate(doc["ops"]):
        op = add("op", o["name"], o["t0"], o["t1"], run, i)
        b = add("build", "build", o["t0"], o["tb"], op, i)
        m = add("materialize", "materialize", o["tb"], o["t1"], op, i)
        inner[i] = [b, m]
    for bt in tr.get("batches", []):
        i = _op_at(doc["ops"], bt["start"])
        if i is not None:
            k = add("batch", "batch", bt["start"], bt["end"], inner[i][0], i)
            inner[i].insert(0, k)
    job_span = {}
    for j in tr.get("jobs", []):
        if j["op"] not in inner or j["end"] is None:
            continue
        parent = next((c for c in inner[j["op"]]
                       if spans[c]["start"] <= j["start"] <= spans[c]["end"]),
                      inner[j["op"]][-1])
        job_span[j["id"]] = (add("job", f"job{j['id']}", j["start"], j["end"],
                                 parent, j["op"]), j)
    for st in tr.get("stages", []):
        owner = next((k for k, j in job_span.values()
                      if st["id"] in j["stages"]
                      and j["start"] <= st["submitted"] <= j["end"]), None)
        if owner is not None and st["completed"]:
            add("stage", f"stage{st['id']}", st["submitted"], st["completed"],
                owner, st["op"])
    return spans


def _op_at(ops, t, slack=5.0):
    for i, o in enumerate(ops):
        if o["t0"] - slack <= t <= o["t1"] + slack:
            return i
    return None


def per_layer(doc):
    """Per-layer metrics of a traced run, per complete pass (setup.* are
    medians over the setups, *_peak over the run); plus per-op-family rows."""
    tr = doc["trace"]
    ops = doc["ops"]
    sel = {i for i, o in enumerate(ops) if o["pass"] >= 0}
    npass = max(1, len(doc["passes"]))
    stages = [s for s in tr["stages"] if s["op"] in sel]
    jobs = [j for j in tr["jobs"] if j["op"] in sel and j["end"] is not None]
    qes = [(q, _op_at(ops, q["at"])) for q in tr["qes"]]
    qes = [q for q, i in qes if i in sel]
    batches = [b for b in tr["batches"] if _op_at(ops, b["start"]) in sel]
    tasks = [t for s in stages for t in s["task_ms"]]
    jobs_by_op = {}
    for j in jobs:
        jobs_by_op.setdefault(j["op"], []).append((j["start"], j["end"]))
    covered = sum(_union_ms(jobs_by_op.get(i, []), ops[i]["t0"], ops[i]["t1"])
                  for i in sel)
    op_wall = sum(ops[i]["t1"] - ops[i]["t0"] for i in sel)
    result_rows = sum(ops[i]["rows"] for i in sel)
    skews = [max(s["task_ms"]) / statistics.median(s["task_ms"])
             for s in stages if len(s["task_ms"]) >= 4
             and statistics.median(s["task_ms"]) > 0]
    in_rows = sum(s["input_rows"] for s in stages)

    def tot(key, xs):
        return sum(x[key] for x in xs)

    def bsum(*keys):
        return sum(b["d"].get(k, 0) for b in batches for k in keys) / 1000.0

    setups = doc["setups"]
    walls = pass_walls(doc)
    m = {
        "setup.first_s": (setups[0]["end"] - setups[0]["t0"]) / 1000.0,
        "setup.session_s": statistics.median(
            (s["session_end"] - s["t0"]) / 1000.0 for s in setups),
        "setup.preflight_s": statistics.median(
            (s["end"] - s["session_end"]) / 1000.0 for s in setups),
        "driver.build_s": sum(ops[i]["tb"] - ops[i]["t0"] for i in sel) / 1000.0,
        "driver.plan_s": tot("plan_ms", qes) / 1000.0,
        "driver.nojob_s": (op_wall - covered) / 1000.0,
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": len(tasks),
        "sched.task_wait_s": tot("wait_ms", stages) / 1000.0,
        "exec.task_s": tot("run_ms", stages) / 1000.0,
        "exec.cpu_s": tot("cpu_ms", stages) / 1000.0,
        "exec.gc_s": tot("gc_ms", stages) / 1000.0,
        "exec.spill_mb": tot("spill_b", stages) / MB,
        "exec.busy_frac": sum(tasks) / (covered * 4) if covered else 0.0,
        "exec.skew_max": max(skews, default=0.0),
        "shuffle.write_mb": tot("shuffle_write_b", stages) / MB,
        "shuffle.read_mb": tot("shuffle_read_b", stages) / MB,
        "shuffle.fetch_wait_s": tot("fetch_wait_ms", stages) / 1000.0,
        "cache.storage_peak_mb": tr["storage_peak_b"] / MB,
        "scan.input_mb": tot("input_b", stages) / MB,
        "scan.input_rows": in_rows,
        "scan.rows_per_result_row": in_rows / result_rows if result_rows else 0.0,
        "sink.write_s": (sum(q["dur_ms"] for q in qes if q["write"])
                         / 1000.0 + sum(b["d"].get("addBatch", 0)
                                        for b in batches if b["file_sink"]) / 1000.0),
        "sink.output_mb": tot("output_b", stages) / MB,
        "sink.files": sum(ops[i]["files"] for i in sel),
        "stream.batches": len(batches),
        "stream.add_batch_s": bsum("addBatch"),
        "stream.plan_s": bsum("queryPlanning"),
        "stream.source_s": bsum("latestOffset", "getBatch"),
        "stream.wal_s": bsum("walCommit", "commitOffsets"),
        "stream.state_rows_peak": max((b["state_rows"] for b in batches), default=0),
        "stream.state_mb_peak": max((b["state_b"] for b in batches), default=0) / MB,
        "stream.state_commit_s": tot("state_commit_ms", batches) / 1000.0,
        "trace.wall_s": statistics.median(walls),
    }
    # per-pass normalization of the summed (not peak, not setup) metrics
    for k in list(m):
        if not (k.startswith("setup.") or k.endswith("_peak") or k.endswith("_peak_mb")
                or k in ("exec.busy_frac", "exec.skew_max", "trace.wall_s",
                         "scan.rows_per_result_row")):
            m[k] = m[k] / npass
    spans = spans_of(doc)
    self_s = self_times(spans, sel)
    for kind in ("op", "build", "materialize", "batch", "job", "stage"):
        m[f"self.{kind}_s"] = self_s.get(kind, 0.0) / 1000.0 / npass
    m["self.harness_s"] = (sum(walls) * 1000.0 - op_wall) / 1000.0 / npass
    return m, spans, families(doc, sel, jobs, stages, qes)


def self_times(spans, sel):
    """Per kind: span time not covered by its children (ops in `sel`)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        if s["op"] in sel:
            self_ms = (s["end"] - s["start"]) - _union_ms(
                kids.get(s["id"], []), s["start"], s["end"])
            out[s["kind"]] = out.get(s["kind"], 0.0) + max(0.0, self_ms)
    return out


def families(doc, sel, jobs, stages, qes):
    """One row per op family (a registry query, a JobRunner job, a sink)."""
    ops = doc["ops"]
    rows = {}
    for i in sorted(sel):
        o = ops[i]
        r = rows.setdefault(o["family"], dict(n=0, wall=0.0, build=0.0, plan=0.0,
                                              nojob=0.0, jobs=0, stages=0, tasks=0,
                                              task=0.0, gc=0.0, shuffle=0.0,
                                              rows_in=0, spill=0.0))
        js = [(j["start"], j["end"]) for j in jobs if j["op"] == i]
        wall = o["t1"] - o["t0"]
        r["n"] += 1
        r["wall"] += wall / 1000.0
        r["build"] += (o["tb"] - o["t0"]) / 1000.0
        r["nojob"] += (wall - _union_ms(js, o["t0"], o["t1"])) / 1000.0
        r["jobs"] += len(js)
        st = [s for s in stages if s["op"] == i]
        r["stages"] += len(st)
        r["tasks"] += sum(len(s["task_ms"]) for s in st)
        r["task"] += sum(s["run_ms"] for s in st) / 1000.0
        r["gc"] += sum(s["gc_ms"] for s in st) / 1000.0
        r["shuffle"] += sum(s["shuffle_write_b"] for s in st) / MB
        r["rows_in"] += sum(s["input_rows"] for s in st)
        r["spill"] += sum(s["spill_b"] for s in st) / MB
        r["plan"] += sum(q["plan_ms"] for q in qes
                         if o["t0"] - 5 <= q["at"] <= o["t1"] + 5) / 1000.0
    return rows


def write_trace(doc, metrics, spans, fams, e2e):
    d = os.path.join(WORK, "trace", f"{doc['workload']}-seed{doc['seed']}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "spans.jsonl"), "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    with open(os.path.join(d, "metrics.json"), "w") as f:
        json.dump({"workload": doc["workload"], "seed": doc["seed"],
                   "nproc": doc["nproc"], "heap_max_mb": doc["heap_max_mb"],
                   "passes": len(doc["passes"]), "ops": len(doc["ops"]),
                   "per_layer": metrics,
                   "end_to_end_traced": {k: v for k, (v, _) in e2e.items()}},
                  f, indent=1)
    lines = [f"# Traced run: {doc['workload']}, seed {doc['seed']}", "",
             f"{len(doc['ops'])} ops, {len(doc['passes'])} complete pass(es); "
             "sums are per complete pass, `setup.session_s` and "
             "`setup.preflight_s` are medians over the "
             f"{len(doc['setups'])} setups, `*_peak*` are maxima over the run. "
             "`self.*` is each span kind's time not covered by its children "
             "(run > op > build | materialize > batch > job > stage).", "",
             "| metric | value | unit | moves |", "|---|---|---|---|"]
    for k, v in metrics.items():
        unit, moves = PER_LAYER[k]
        lines.append(f"| {k} | {v:.4g} | {unit} | {moves} |")
    lines += ["", "Per op family (sums over the complete passes):", "",
              "| family | ops | wall_s | build_s | plan_s | nojob_s | jobs | "
              "stages | tasks | task_s | gc_s | shuffle_mb | input_rows | spill_mb |",
              "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|"]
    for fam, r in sorted(fams.items(), key=lambda kv: -kv[1]["wall"]):
        lines.append(
            f"| {fam} | {r['n']} | {r['wall']:.3f} | {r['build']:.3f} | "
            f"{r['plan']:.3f} | {r['nojob']:.3f} | {r['jobs']} | {r['stages']} | "
            f"{r['tasks']} | {r['task']:.3f} | {r['gc']:.3f} | "
            f"{r['shuffle']:.2f} | {r['rows_in']} | {r['spill']:.2f} |")
    with open(os.path.join(d, "report.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return d


def measure(cp, workload, seed, seconds, trace):
    doc = run_jvm(cp, workload, seed, seconds, trace)
    failed = sum(1 for o in doc["ops"] if not o["ok"])
    attempted = len(doc["ops"])
    e2e = end_to_end(doc)
    print(f"# {workload} seed={seed} trace={trace} nproc={doc['nproc']} "
          f"heap_max_mb={doc['heap_max_mb']:.0f} ops={attempted} "
          f"passes={len(doc['passes'])}")
    print(f"{'ops_failed_frac':<26} {failed / attempted:>12.4g} {'ratio':<6} "
          f"n={attempted}")
    for o in doc["ops"]:
        if not o["ok"]:
            print(f"  FAILED {o['name']}: {o['error']}")
    if trace:
        metrics, spans, fams = per_layer(doc)
        where = write_trace(doc, metrics, spans, fams, e2e)
        out = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in metrics.items()}
        for k, v in metrics.items():
            print(f"{k:<26} {v:>12.6g} {PER_LAYER[k][0]:<6} n={len(doc['passes'])} pass(es)")
        print(f"# trace written to {os.path.relpath(where, ROOT)}")
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
        for k, (v, n) in e2e.items():
            print(f"{k:<26} {v:>12.6g} {END_TO_END[k]:<6} n={n}")
    return {"correct": failed == 0 and bool(doc["passes"]),
            "attempted": attempted, "failed": failed, "metrics": out}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        die(2, "--seconds must be >= 1")
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
                 PINS, DATA):
        if not os.path.exists(need):
            die(2, f"not a graft source checkout: {os.path.relpath(need, ROOT)} missing")
    cp = build()
    if a.workload != "all":
        res = measure(cp, a.workload, a.seed, a.seconds, a.trace)
    else:
        res = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
        for w in WORKLOADS:
            for t in (0, 1):
                r = measure(cp, w, a.seed, a.seconds, t)
                res["correct"] &= r["correct"]
                res["attempted"] += r["attempted"]
                res["failed"] += r["failed"]
                for k, v in r["metrics"].items():
                    res["metrics"][f"{w}.{k}"] = v
    print(json.dumps(res))


if __name__ == "__main__":
    main()
