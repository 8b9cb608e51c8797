#!/usr/bin/env python3
"""Benchmark of the graft engine: the NSL-KDD flow, corpus queries and
persisted-index reads and writes.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source with sbt into `.bench_build/`; later runs reuse
that build while the sources are unchanged. Every run generates its inputs
from the seed under `.bench_run/`, starts one JVM with a `local[N]` Spark
session (`perfbench.Main`), checks the outputs and prints one line per metric
followed by a JSON result as the last line of standard output. A traced run
(`--trace 1`) reports the per-layer metrics instead and writes its spans and
per-call counters to `.bench_out/trace-<workload>-<seed>-<code>.json`.

Results that later runs compare against are kept in `.bench_out/` under names
that carry `<code>`, a digest of the engine and benchmark sources: a run only
compares with earlier runs of the same code.

Exit status: 0 when every output check passed, 1 when a check failed, 2 when
the benchmark could not run at all (no engine sources, build failure).
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
TRACES = os.path.join(ROOT, ".bench_out")
sys.path.insert(0, HERE)

import gen  # noqa: E402

CPUS = 4
HEAP = "3g"
# input sizes per workload
SIZES = {
    "corpus": dict(docs=500, vecs=500, orders=1500, events=10000),
    "nslkdd_flow": dict(train=4000, test=1500),
    "index_lifecycle": dict(docs=400, vecs=400, orders=50, events=100),
}
WORKLOADS = sorted(SIZES)
ML_STAGES = ["load", "labels", "ohe", "ar", "standardize", "prep", "split",
             "classifier_fit", "score", "metrics"]
OPS = ["text", "dedup", "similarity", "graph", "relational", "event"]
INDEX_KINDS = ["banded", "ivf"]
INDEX_OPS = ["probe", "append", "delete", "compact"]
COUNTERS = ["sched.jobs", "sched.stages", "plan.exchanges",
            "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
            "sources.rows_read"]
SUM_KEYS = ["sources.rows_read", "sources.bytes_read", "sources.files_read",
            "entry.build_s", "entry.build_jobs", "plan.s", "plan.exchanges",
            "plan.codegen_stages", "plan.nodes_outside_codegen", "sched.jobs",
            "sched.stages", "sched.tasks", "sched.gap_s", "exec.task_s",
            "exec.cpu_s", "exec.gc_s", "exec.shuffle_read_bytes",
            "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.failed_tasks"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_digest():
    """Digest of the engine and benchmark sources, the generator and this script."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "gen.py"), os.path.join(HERE, "run.py")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark program; returns the runtime
    classpath and the source digest."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found; run from the root of a checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if ".bench_build" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"built in {time.time() - t0:.1f} s")
    return lines[-1], digest


def java(cp, args, run_dir, log):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", f"-Dderby.system.home={tmp}"] + ADD_OPENS +
           ["-cp", f"{cp}:{spark_jars}", "perfbench.Main"] + args)
    with open(log, "a") as f:
        p = subprocess.run(cmd, cwd=run_dir, stdout=f, stderr=subprocess.STDOUT,
                           timeout=170)
    return p.returncode


# ---------------------------------------------------------------- checks

def norm(v):
    """Canonical text of a value: floats to 6 significant digits, timestamps
    in UTC, nested values recursively."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0" if v == 0 else f"{v:.6g}"
    if isinstance(v, int):
        return str(v)
    if hasattr(v, "as_tuple"):  # Decimal
        return norm(float(v))
    if hasattr(v, "utcoffset"):
        if v.utcoffset() is not None:
            v = (v - v.utcoffset()).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = 0
    for r in rows:
        text = "|".join(norm(r[i]) for i in order)
        h = (h + int.from_bytes(hashlib.sha1(text.encode()).digest()[:8], "big")) % (1 << 64)
    return len(rows), h


def oracle_check(data, out, facts):
    """Row count and order-independent hash of each query's first result
    against DuckDB running the query's oracle SQL on the same inputs."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in os.listdir(data):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, t)}')")
    problems = []
    for q in facts["queries"]:
        sql = facts["oracle_sql"].get(q)
        if sql is None:
            problems.append(f"{q}: no oracle SQL")
            continue
        cur = con.execute(sql)
        ocols = [d[0] for d in cur.description]
        odig = digest(ocols, cur.fetchall())
        cur = con.execute(f"SELECT * FROM read_parquet('{out}/results/{q}/*.parquet')")
        scols = [d[0] for d in cur.description]
        sdig = digest(scols, cur.fetchall())
        if sorted(ocols) != sorted(scols):
            problems.append(f"{q}: columns {sorted(scols)} vs oracle {sorted(ocols)}")
        elif sdig != odig:
            problems.append(f"{q}: rows/hash {sdig} vs oracle {odig}")
        elif sdig[0] != facts["reference"][q]["rows"]:
            problems.append(f"{q}: saved result has {sdig[0]} rows, call returned "
                            f"{facts['reference'][q]['rows']}")
    return problems


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, math.ceil(q * len(xs)) - 1))]


def end_to_end(rep):
    """End-to-end metrics: (value, unit, sample count)."""
    rounds = rep["rounds"]
    by_call = {}
    for c in rep["calls"]:
        if c["error"] is None:
            by_call.setdefault(c["name"], []).append(c["s"])
    meds = [statistics.median(xs) for xs in by_call.values()]
    calls = sum(len(xs) for xs in by_call.values())
    return {
        "setup_s": (rep["setup_s"], "s", 1),
        "wall_s": (statistics.median(rounds) if rounds else 0.0, "s", len(rounds)),
        "call_gmean_s": (statistics.geometric_mean(meds) if meds else 0.0, "s", calls),
    }


def per_layer(rep):
    traced = [c for c in rep["calls"] if "sched.jobs" in c]
    n_rounds = max(1, len({c["round"] for c in traced}))
    m = {}
    for k in SUM_KEYS:
        m[k] = sum(c[k] for c in traced) / n_rounds
    jp = [c["sched.job_p50_s"] for c in traced if c["sched.jobs"]]
    m["sched.job_p50_s"] = statistics.median(jp) if jp else 0.0
    m["exec.skew"] = max([c["exec.skew"] for c in traced], default=0.0)
    for o in OPS:
        m[f"ops.{o}.s"] = sum(c["s"] for c in traced if c["layer"] == "entry" and c["kind"] == o) / n_rounds
    stages = {}
    for c in traced:
        if c["layer"] == "ml":
            key = c["name"].replace("_cv", "").replace("_test", "")
            stages[key] = stages.get(key, 0.0) + c["s"]
    for s in ML_STAGES:
        m[f"ml.{s}_s"] = stages.get(s, 0.0) / n_rounds
    score_test = [c["s"] for c in traced if c["name"] == "score_test"]
    test_rows = rep["facts"].get("test_rows", 0)
    m["ml.score_rows_per_s"] = test_rows / statistics.median(score_test) if score_test else 0.0
    storage = rep.get("storage", {})
    for k in INDEX_KINDS:
        for op in INDEX_OPS:
            xs = [c["s"] for c in traced if c["name"] == f"{k}.{op}"]
            m[f"index.{k}.{op}_s"] = statistics.median(xs) if xs else 0.0
        writes = [c for c in traced if c["name"].startswith(f"{k}.") and c["kind"] == "write"]
        m[f"index.{k}.bytes_written"] = sum(c["exec.bytes_written"] for c in writes) / n_rounds
        probes = [c for c in traced if c["name"] == f"{k}.probe"]
        results = sum(c.get("results", 0) for c in probes)
        m[f"index.{k}.rows_examined_per_result"] = (
            sum(c["sources.rows_read"] for c in probes) / results if results else 0.0)
        st = storage.get(k, {})
        m[f"index.{k}.files"] = st.get("files", 0)
        m[f"index.{k}.tombstones"] = st.get("tombstones", 0)
    for kind in ["read", "write"]:
        xs = [c["s"] for c in rep["calls"] if c["layer"] == "index" and c["kind"] == kind]
        name = "probe" if kind == "read" else "write"
        m[f"index.{name}_p50_s"] = statistics.median(xs) if xs else 0.0
        m[f"index.{name}_p90_s"] = quantile(xs, 0.9)
    m["index.space_amp"] = rep.get("space_amp", 0.0)
    m["cache.held_mb"] = rep["cache"]["held_bytes"] / 2 ** 20
    m["cache.blocks"] = rep["cache"]["blocks"]
    m["trace.bookkeeping_s"] = rep["trace_bookkeeping_s"] / max(1, len(rep["rounds"]))
    attempted = len(rep["calls"]) + len(rep["setup"])
    failed = sum(c["error"] is not None for c in rep["calls"] + rep["setup"])
    m["error_rate"] = failed / attempted if attempted else 0.0
    return m


def unstable_counters(rep):
    """Deterministic counters that differ between calls of the same name."""
    seen, bad = {}, set()
    for c in rep["calls"]:
        if "sched.jobs" not in c or c["layer"] == "index":
            continue
        vals = tuple(c[k] for k in COUNTERS)
        prev = seen.setdefault(c["name"], vals)
        for k, a, b in zip(COUNTERS, prev, vals):
            if a != b:
                bad.add(f"{c['name']}:{k}")
    return sorted(bad)


def compare_traces(old, rep):
    """Per-call deterministic counters against an earlier traced run of the
    same workload and seed, calls matched by name and round."""
    def table(r):
        out = {}
        for c in r["calls"]:
            if "sched.jobs" in c:
                out.setdefault((c["name"], c["round"]), tuple(c[k] for k in COUNTERS))
        return out
    a, b = table(old), table(rep)
    diff = set()
    for key in set(a) & set(b):
        for k, x, y in zip(COUNTERS, a[key], b[key]):
            if x != y:
                diff.add(f"{key[0]}:{k}")
    return sorted(diff)


def ledger(name):
    path = os.path.join(TRACES, name)
    return path, (json.load(open(path)) if os.path.exists(path) else None)


def save(path, obj):
    os.makedirs(TRACES, exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f)


def flow_repeat_check(seed, code, facts):
    """One seed must give the same flow results in every run of the same code."""
    keys = ("selected_features", "cv_confusion", "test_confusion")
    now = {k: facts[k] for k in keys}
    path, before = ledger(f"flow-{seed}-{code}.json")
    if before is None:
        save(path, now)
        return []
    return [f"nslkdd_flow seed {seed}: {k} differs from an earlier run"
            for k in keys if before[k] != now[k]]


# ---------------------------------------------------------------- run

def inputs(workload, seed, data):
    s = SIZES[workload]
    if workload == "nslkdd_flow":
        gen.nslkdd(data, seed, s["train"], s["test"])
    else:
        gen.corpus(data, seed, s["docs"], s["vecs"], s["orders"], s["events"])


def run(args):
    cp, digest = build()
    code = digest[:16]
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    log = os.path.join(run_dir, "jvm.log")
    os.makedirs(out)
    try:
        problems = []
        t_start = time.time()
        inputs(args.workload, args.seed, data)
        rc = java(cp, ["--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--data", data, "--out", out, "--cpus", str(CPUS)], run_dir, log)
        rep_path = os.path.join(out, "report.json")
        if rc != 0 or not os.path.exists(rep_path):
            sys.stderr.write(open(log).read()[-3000:])
            die(f"benchmark process exited with {rc}")
        rep = json.load(open(rep_path))
        t_jvm = time.time()
        problems += rep["problems"]
        problems += [f"set-up step '{s['name']}' failed: {s['error']}"
                     for s in rep["setup"] if s["error"]]
        problems += [f"call {c['name']} (round {c['round']}) failed: {c['error']}"
                     for c in rep["calls"] if c["error"]]
        if args.workload == "corpus" and not any("first call" in p for p in problems):
            problems += oracle_check(data, out, rep["facts"])
        print(f"benchmark process {t_jvm - t_start:.1f} s, output checks {time.time() - t_jvm:.1f} s")
        if args.workload == "nslkdd_flow" and rep["rounds"]:
            problems += flow_repeat_check(args.seed, code, rep["facts"])
        if not rep["rounds"]:
            problems.append("no timed round completed")
        attempted = len(rep["calls"]) + len(rep["setup"])
        failed = sum(c["error"] is not None for c in rep["calls"] + rep["setup"])
        print(f"workload {args.workload} seed {args.seed}: {len(rep['rounds'])} rounds, "
              f"{len(rep['calls'])} calls, local[{rep['cpus']}], one client")
        wall = end_to_end(rep)["wall_s"][0]
        wpath, walls = ledger(f"wall-{args.workload}-{code}.json")
        if args.trace:
            m = per_layer(rep)
            # overhead: traced wall_s against the untraced runs of this code
            m["trace.overhead_s"] = wall - statistics.median(walls) if walls else 0.0
            unstable = unstable_counters(rep)
            tpath, old = ledger(f"trace-{args.workload}-{args.seed}-{code}.json")
            if old is not None:
                unstable += [f"vs previous run: {d}" for d in compare_traces(old, rep)]
            m["trace.unstable_counters"] = len(unstable)
            for u in unstable:
                print(f"  counter differs: {u}")
            save(tpath, {k: rep[k] for k in ("workload", "seed", "session_s", "setup", "rounds",
                                              "calls", "spans")})
            print(f"trace written to {os.path.relpath(tpath, ROOT)}")
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}
        else:
            if rep["rounds"]:
                save(wpath, (walls or [])[-49:] + [wall])
            metrics = {}
            for k, (v, unit, n) in end_to_end(rep).items():
                print(f"  {k:<12} {v:12.4f} {unit:<3} (n={n})")
                metrics[k] = {"value": v, "unit": unit}
        for p in problems:
            print(f"CHECK FAILED: {p}")
        print(json.dumps({"correct": not problems, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if not problems else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def unit_of(name):
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.skew", "index.space_amp", "error_rate") or name.endswith("per_result"):
        return "ratio"
    return "count"


def selftest():
    """Generator determinism, the NSL-KDD load contract, and the timed flow
    composition against NslKddFlow.run."""
    cp, _ = build()
    run_dir = os.path.join(RUNS, f"selftest-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    failures = []
    try:
        a, b, c = (os.path.join(run_dir, x) for x in "abc")
        for d, seed in ((a, 5), (b, 5), (c, 6)):
            gen.nslkdd(d, seed, 1500, 500)
            gen.corpus(d, seed, 60, 60, 40, 200)
        for f in sorted(os.listdir(a)):
            same = open(os.path.join(a, f), "rb").read() == open(os.path.join(b, f), "rb").read()
            other = open(os.path.join(a, f), "rb").read() == open(os.path.join(c, f), "rb").read()
            if not same:
                failures.append(f"{f}: one seed gave different bytes")
            if other and f not in ("region.parquet", "nation.parquet"):
                failures.append(f"{f}: two seeds gave the same bytes")
        lines = open(os.path.join(a, "train.csv")).read().splitlines()
        if any(len(l.split(",")) != 43 for l in lines):
            failures.append("train.csv: a line without 43 fields")
        if not any(l.split(",")[14] == "2.0" for l in lines):
            failures.append("train.csv: no stray su_attempted = 2.0 rows")
        if len({l.split(",")[19] for l in lines}) != 1:
            failures.append("train.csv: num_outbound_cmds is not constant")
        out = os.path.join(run_dir, "out")
        rc = java(cp, ["--mode", "selftest", "--data", a, "--out", out, "--cpus", str(CPUS)],
                  run_dir, os.path.join(run_dir, "jvm.log"))
        if rc != 0:
            failures.append(f"flow self-test process exited with {rc}")
        else:
            failures += json.load(open(os.path.join(out, "report.json")))["failures"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for f in failures:
        print(f"SELFTEST FAILED: {f}")
    print("selftest " + ("failed" if failures else "passed"))
    return 1 if failures else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        return selftest()
    if not args.workload:
        die("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
