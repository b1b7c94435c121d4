#!/usr/bin/env python3
"""Benchmark of the MALTOPUFT ETL engine: one workload, one seed, one run.

Usage, from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the engine and the harness with sbt
(offline). Each run then generates its inputs from the seed, starts one JVM
with one Spark session on local[nproc], drives the workload's operations from
one closed-loop client for S seconds (whole passes, at least one), checks
every operation's output and prints one JSON object as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json and
the run's record is kept in perfbench/results/; with --trace 1 they are the
per-layer ones, and the run writes its spans, layer summary and tracing
overhead next to the untraced records. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import inputs
import layers
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
RESULTS_DIR = os.path.join(HERE, "results")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.01"))
RUN_LIMIT_S = 170.0
GENERATION_REPS = 3

# q57 first: the first query in the JVM pays its first-run costs (class
# loading, JIT, code generation), so q87, the slowest query and hence the
# workload's op_tail_s, is timed without them.
HEAVY_QUERIES = ["q57_incremental_dedup", "q87_incremental_release"]
WORKLOADS = ("maltopuft_etl", "heavy_queries")
WARM_UP = [("warm", "generic")]

# The throughput collector, as for a batch job: on 4 cores it ran the
# MeerTRAP ingest 92 s against G1's 99 s (one pair) with a smaller heap.
JVM = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
# Spark 4 on JDK 17 outside spark-submit, as in the engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_steal_s():
    """CPU time the host took from this machine so far (/proc/stat steal)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads, so a stale build is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            for f in files if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the engine (no build.sbt / src/main here)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = ("-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.isfile(repos) else ""))
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = open(log_path).read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if rc != 0 or not cp:
        fail(f"build failed (see {log_path}):\n" + "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


# ---------------------------------------------------------------- plan

def make_plan(workload, seed, work):
    """Writes the workload's inputs.

    Returns (warm-up ops, ops, expected counts, input generation seconds).
    Both workloads time each operation as its first run in the JVM, the way
    a batch job meets it; the warm-up is one small generic job.
    """
    if workload == "maltopuft_etl":
        gen_times = []
        for rep in range(GENERATION_REPS):
            t0 = time.perf_counter()
            root = os.path.join(work, f"meertrap{rep}")
            key, exp, files = inputs.meertrap_partition(root, seed)
            atnf_csv = os.path.join(work, f"atnf{rep}.csv")
            atnf_exp = inputs.atnf_snapshot(atnf_csv, seed)
            gen_times.append(time.perf_counter() - t0)
            if rep == 0:
                expected = {"meertrap": exp, "atnf": atnf_exp, "files": files}
                ops = [("meertrap", os.path.join(work, "meertrap0"), key),
                       ("atnf", os.path.join(work, "atnf0.csv"))]
            else:
                shutil.rmtree(root)
                os.remove(atnf_csv)
        return WARM_UP, ops, expected, statistics.median(gen_times)
    # A fixed order: the first operation meets the JVM's cold start, so a
    # permuted order would move that cost between the queries' latencies.
    return WARM_UP, [("query", n, SF_DIR) for n in HEAVY_QUERIES], {}, 0.0


# ---------------------------------------------------------------- checks

def check_ops(result, expected, refs, con):
    """Returns a list of (op, error-or-None) for every measured operation."""
    verdicts = []
    for op in result["ops"]:
        err = op["error"]
        if err is None:
            try:
                if op["kind"] == "meertrap":
                    err = oracle.check_meertrap(con, op, expected["meertrap"])
                elif op["kind"] == "atnf":
                    err = oracle.check_atnf(con, op, expected["atnf"])
                else:
                    err = oracle.check_query(con, op, refs.get(op["name"]))
            except Exception as e:  # an unreadable output is a failed operation
                err = f"check raised {type(e).__name__}: {e}"
        verdicts.append((op, err))
    return verdicts


# ---------------------------------------------------------------- metrics

def tail_percentile(n):
    """Highest percentile of a fixed ladder with at least 10 samples beyond it."""
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            return p
    return 100.0


def quantile(values, p):
    """Nearest-rank percentile (p in 0..100)."""
    v = sorted(values)
    k = max(1, min(len(v), -(-len(v) * p // 100)))
    return v[int(k) - 1]


def end_to_end(result, setup_s):
    times = [op["seconds"] for op in result["ops"]]
    passes = result["passes"]
    p = tail_percentile(len(times))
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": statistics.median(passes), "unit": "s"},
        "op_p50_s": {"value": statistics.median(times), "unit": "s"},
        "op_tail_s": {"value": quantile(times, p), "unit": "s"},
        "peak_rss_mb": {"value": result["vm_hwm_kb"] / 1024.0, "unit": "MB"},
    }, {"op_samples": len(times), "op_tail_percentile": p, "passes": len(passes)}


OVERHEAD_BASE_RUNS = 5


def tracing_overhead(workload, traced_wall_s):
    """Traced wall_s against the median of this checkout's latest untraced runs.

    Only the latest few: a shared host's speed drifts over tens of minutes,
    and older runs would measure that drift, not the tracing.
    """
    walls = []
    for name in os.listdir(RESULTS_DIR):
        path = os.path.join(RESULTS_DIR, name)
        if name.startswith(workload + "-seed") and name.endswith(".json") \
                and name.count(".") == 1:
            with open(path) as f:
                rec = json.load(f)
            if rec["correct"]:
                walls.append((os.path.getmtime(path), rec["metrics"]["wall_s"]["value"]))
    walls = [w for _, w in sorted(walls)[-OVERHEAD_BASE_RUNS:]]
    if not walls:
        return {"traced_wall_s": traced_wall_s, "untraced_runs": 0,
                "note": "no untraced run of this workload in this checkout yet"}
    base = statistics.median(walls)
    return {"traced_wall_s": traced_wall_s, "untraced_wall_s": base,
            "untraced_runs": len(walls), "overhead_s": traced_wall_s - base,
            "overhead_share": (traced_wall_s - base) / base}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    classpath = ensure_build()
    started = time.monotonic()  # the run's time limit leaves the build out
    if args.workload != "maltopuft_etl" and not os.path.isdir(SF_DIR):
        fail(f"query data not found at {SF_DIR} (set PERFBENCH_SF_DIR)")

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        warm, ops, expected, gen_s = make_plan(args.workload, args.seed, work)
        cores = os.cpu_count() or 1
        plan = os.path.join(work, "plan.tsv")
        with open(plan, "w") as f:
            f.write(f"conf\tmaster\tlocal[{cores}]\n")
            f.write(f"conf\tseconds\t{args.seconds}\n")
            f.write(f"conf\ttrace\t{args.trace}\n")
            f.write(f"conf\tlocal_dir\t{work}\n")
            for tag, rows in (("warmup", warm), ("op", ops)):
                for r in rows:
                    f.write("\t".join((tag,) + r) + "\n")
        result_path = os.path.join(work, "result.json")
        cmd = JVM + [f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Harness", plan, result_path]
        launched, steal0 = time.time(), cpu_steal_s()
        with open(os.path.join(work, "harness.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("harness timed out")
        steal_s = cpu_steal_s() - steal0
        if rc != 0 or not os.path.isfile(result_path):
            tail = open(os.path.join(work, "harness.log")).read().splitlines()[-30:]
            fail(f"harness exited with {rc}:\n" + "\n".join(tail))
        with open(result_path) as f:
            result = json.load(f)

        con = oracle.connect(SF_DIR if args.workload != "maltopuft_etl" else None)
        t0 = time.perf_counter()
        refs = oracle.references(con, result["oracle_sql"])
        refs_s = time.perf_counter() - t0
        verdicts = check_ops(result, expected, refs, con)
        warm_errors = [w for w in result["warmups"] if w["error"]]
        for op, err in verdicts:
            if err:
                print(f"FAILED {op['kind']} {op['name']} (pass {op['pass']}): {err}",
                      file=sys.stderr)
        for w in warm_errors:
            print(f"FAILED warm-up {w['kind']} {w['name']}: {w['error']}", file=sys.stderr)

        session_s = result["ready_epoch_ms"] / 1000.0 - launched
        setup_s = gen_s + session_s + result["warmup_s"] + refs_s
        failed = sum(1 for _, e in verdicts if e) + len(warm_errors)
        summary = {"correct": failed == 0, "attempted": len(verdicts) + len(warm_errors),
                   "failed": failed}
        e2e, info = end_to_end(result, setup_s)
        info.update({"setup_parts_s": {"inputs": gen_s, "session": session_s,
                                       "warmup": result["warmup_s"], "references": refs_s},
                     "workload": args.workload, "seed": args.seed,
                     "host_cpu_steal_s": steal_s})
        if args.workload == "maltopuft_etl":
            info["inputs"] = expected["files"]
        os.makedirs(RESULTS_DIR, exist_ok=True)
        stem = os.path.join(RESULTS_DIR, f"{args.workload}-seed{args.seed}")
        if args.trace:
            per_layer = layers.summarize(result)
            overhead = tracing_overhead(args.workload, e2e["wall_s"]["value"])
            layers.write(stem, result, per_layer, overhead, info)
            print(f"perfbench: tracing overhead {json.dumps(overhead)}", file=sys.stderr)
            metrics = per_layer
        else:
            with open(stem + ".json", "w") as f:
                json.dump(dict(summary, metrics=e2e, info=info), f, indent=1)
            metrics = e2e
        print(json.dumps(dict(summary, metrics=metrics)))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
