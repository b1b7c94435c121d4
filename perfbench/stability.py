#!/usr/bin/env python3
"""Stability check: sets of untraced runs of one checkout, compared.

Usage, from the repository root:

    python3 perfbench/stability.py [--sets 2] [--runs 10] [--workload NAME ...]

Each set runs every workload `--runs` times, each run with another seed
(set k, run i uses seed 1000*k + i). For each workload and end-to-end metric
it reports every set's median, quartiles and spread (the quartile distance as
a share of the median, as `statistics.quantiles(values, n=4)` gives them), and
the drift of each later set's median from the first set's. It flags a spread
above the metric's bound in BENCHMARK.json, a drift worse than the bound, and
any run that failed or was not correct. The report is
printed and written to perfbench/results/stability.json. Exit code 1 if
anything was flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, p.stderr[-2000:]
    return json.loads(lines[-1]), None


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values = {}  # (set, workload) -> metric -> [values]
    flags = []
    for s in range(args.sets):
        for w in workloads:
            for i in range(args.runs):
                seed = 1000 * s + i
                res, err = run_once(w, seed, bench["run_seconds"])
                if res is None or not res["correct"] or res["failed"]:
                    flags.append(f"{w} seed {seed}: run failed or incorrect: {err or res}")
                    continue
                for k, v in res["metrics"].items():
                    values.setdefault((s, w), {}).setdefault(k, []).append(v["value"])
                print(f"set {s} {w} seed {seed}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)

    report = {}
    for w in workloads:
        for metric, bound in bounds.items():
            sets = [values.get((s, w), {}).get(metric, []) for s in range(args.sets)]
            if any(len(v) < 2 for v in sets):
                flags.append(f"{w} {metric}: too few runs")
                continue
            stats = [spread(v) for v in sets]
            for k, st in enumerate(stats):
                if st["spread"] > bound:
                    flags.append(f"{w} {metric}: set {k} spread {st['spread']:.3f} > bound {bound}")
                if k:
                    drift = st["median"] / stats[0]["median"] - 1
                    st["drift"] = drift
                    if drift > bound:
                        flags.append(f"{w} {metric}: set {k} median {drift:+.3f} worse than set 0")
            report.setdefault(w, {})[metric] = {"bound": bound, "sets": stats}
            print(f"{w:14s} {metric:12s} bound {bound:.2f} " + " | ".join(
                f"med {st['median']:.4g} q1 {st['q1']:.4g} q3 {st['q3']:.4g} "
                f"spread {st['spread']:.3f}" + (f" drift {st['drift']:+.3f}" if "drift" in st else "")
                for st in stats))
    for f in flags:
        print("FLAG", f)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "stability.json"), "w") as f:
        json.dump({"report": report, "flags": flags,
                   "raw": {f"{s}:{w}": v for (s, w), v in values.items()}}, f, indent=1)
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
