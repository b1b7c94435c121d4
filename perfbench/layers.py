"""Folds a traced run's spans, jobs and stages into per-layer metrics.

A span is the time the client spent in one public call into the engine; its
self time excludes its child spans. Each Spark job carries the span that
submitted it (for a sampled span, the one open at its submission time), each
stage its job, so task time, shuffle and spill land on the span whose call
caused them. Times and counts are totals per pass.
Probe spans (counts taken after an operation's clock stopped) are left out of
every time.

A layer a workload does not exercise reports 0.
"""
import json
import statistics

# The heavy composites and the layer each one exercises most.
COMPOSITE_LAYER = {"q87_incremental_release": "corpus",
                   "q57_incremental_dedup": "streaming"}
MB = 1024.0 * 1024.0

UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio"}


def _unit(name):
    """A metric's unit from its name's suffix; counts otherwise."""
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


class Trace:
    def __init__(self, result):
        self.spans = {s["id"]: s for s in result["spans"]}
        self.children = {}
        for s in result["spans"]:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.span_jobs = {}
        for j in result["jobs"]:
            self.span_jobs.setdefault(self.innermost(j["span"], j["submit_ns"]), []).append(j)
        self.job_stages = {}
        for st in result["stages"]:
            self.job_stages.setdefault(st["job"], []).append(st)

    def innermost(self, sid, at_ns):
        """The deepest span under `sid` (itself included) open at `at_ns`.

        A job carries the span the client had open when it was submitted; a
        sampled span below that one (a call inside an unmodified entry
        point) is found by the job's submission time.
        """
        while True:
            inner = [c for c in self.children.get(sid, [])
                     if self.spans[c]["start_ns"] <= at_ns < self.spans[c]["end_ns"]]
            if not inner:
                return sid
            sid = inner[0]

    def dur(self, sid):
        s = self.spans[sid]
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def self_time(self, sid):
        return self.dur(sid) - sum(self.dur(c) for c in self.children.get(sid, []))

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x, []))
        return out

    def jobs(self, sids):
        return [j for s in sids for j in self.span_jobs.get(s, [])]

    def stage_sum(self, sids, key):
        return sum(st[key] for j in self.jobs(sids) for st in self.job_stages.get(j["id"], []))

    def named(self, root, name):
        """Spans named `name` in the subtree of `root`."""
        return [s for s in self.subtree(root) if self.spans[s]["name"] == name]


def summarize(result):
    """Per-layer metrics of a traced run."""
    t = Trace(result)
    ops = result["ops"]
    n_pass = len(result["passes"])
    roots = {}  # op seq -> root span id
    for s in result["spans"]:
        if s["parent"] == -1 and not s["probe"]:
            roots[s["op"]] = s["id"]

    def op_roots(kind, name=None):
        return [roots[o["seq"]] for o in ops
                if o["kind"] == kind and (name is None or o["name"] == name) and o["seq"] in roots]

    m = {}
    # sources / meertrap / atnf (maltopuft_etl)
    mt = op_roots("meertrap")
    src = [s for r in mt for n in ("RunSummarySource.read", "SpcclSource.read")
           for s in t.named(r, n)]
    m["sources.build_s"] = sum(t.dur(s) for s in src) / n_pass
    m["sources.listing_tasks"] = sum(j["tasks"] for j in t.jobs(
        [x for s in src for x in t.subtree(s)])) / n_pass
    mt_ops = [o for o in ops if o["kind"] == "meertrap"]
    files = sum(o["metrics"].get("json_files_read", 0) for o in mt_ops)
    uniq = sum(o["metrics"].get("unique_run_summaries", 0) for o in mt_ops)
    m["sources.dedup_ratio"] = uniq / files if files else 0.0
    build = [s for r in mt for s in t.named(r, "MeertrapPipeline.run")]
    m["meertrap.build_s"] = sum(t.self_time(s) for s in build) / n_pass
    m["meertrap.build_jobs"] = len(t.jobs(build)) / n_pass
    writes = [s for r in mt for s in t.subtree(r) if t.spans[s]["name"].startswith("write:")]
    m["meertrap.write_s"] = sum(t.dur(s) for s in writes) / n_pass
    mets = [s for r in mt for s in t.named(r, "MeertrapPipeline.metrics")]
    m["meertrap.metrics_s"] = sum(t.dur(s) for s in mets) / n_pass
    m["meertrap.metrics_jobs"] = len(t.jobs([x for s in mets for x in t.subtree(s)])) / n_pass
    m["meertrap.task_s"] = t.stage_sum([x for r in mt for x in t.subtree(r)], "run_ms") \
        / 1000.0 / n_pass
    m["atnf.run_s"] = sum(t.dur(r) for r in op_roots("atnf")) / n_pass

    # functions / queries (heavy_queries)
    inits = [s["id"] for s in result["spans"] if s["name"] == "Sessions.init"]
    m["functions.init_s"] = statistics.median([t.dur(s) for s in inits]) if inits else 0.0
    q = op_roots("query")
    qb = [s for r in q for s in t.named(r, "build")]
    qa = [s for r in q for s in t.named(r, "action")]
    m["queries.build_s"] = sum(t.dur(s) for s in qb) / n_pass
    m["queries.action_s"] = sum(t.dur(s) for s in qa) / n_pass
    m["queries.jobs"] = len(t.jobs([x for r in q for x in t.subtree(r)])) / n_pass

    # corpus / streaming (heavy_queries)
    for query, layer in COMPOSITE_LAYER.items():
        r = op_roots("query", query)
        b = [s for x in r for s in t.named(x, "build")]
        a = [s for x in r for s in t.named(x, "action")]
        everything = [y for x in r for y in t.subtree(x)]
        m[f"{layer}.build_s"] = sum(t.dur(s) for s in b) / n_pass
        m[f"{layer}.build_jobs"] = len(t.jobs([y for s in b for y in t.subtree(s)])) / n_pass
        m[f"{layer}.action_s"] = sum(t.dur(s) for s in a) / n_pass
        m[f"{layer}.task_s"] = t.stage_sum(everything, "run_ms") / 1000.0 / n_pass
        m[f"{layer}.shuffle_mb"] = t.stage_sum(everything, "shuffle_write_b") / MB / n_pass
        m[f"{layer}.spill_mb"] = t.stage_sum(everything, "spill_b") / MB / n_pass

    # gates: each gated query rerun as registered minus its gate-free variant
    reruns = {o["name"]: o for o in result["serving"] if o["kind"] == "query"}
    m["gates.gate_s"] = sum(
        max(0.0, reruns[o["name"]]["seconds"] - o["seconds"])
        for o in result["serving"] if o["kind"] == "serving" and o["name"] in reruns)

    # core
    m["core.peak_storage_mb"] = result.get("peak_storage_b", 0) / MB
    m["core.leftover_rdds"] = max([o["leftover_rdds"] for o in ops] +
                                  [result.get("leftover_rdds_end", 0)])
    return {k: {"value": v, "unit": _unit(k)} for k, v in m.items()}


def write(stem, result, per_layer, overhead, info):
    """Span file, per-layer summary and tracing overhead of a traced run."""
    t = Trace(result)
    t0 = min((s["start_ns"] for s in result["spans"]), default=0)
    with open(stem + ".spans.jsonl", "w") as f:
        for s in result["spans"]:
            jobs = t.jobs([s["id"]])
            f.write(json.dumps({
                "id": s["id"], "op": s["op"], "parent": s["parent"], "name": s["name"],
                "probe": s["probe"], "start_s": (s["start_ns"] - t0) / 1e9,
                "end_s": (s["end_ns"] - t0) / 1e9, "self_s": t.self_time(s["id"]),
                "jobs": len(jobs), "tasks": sum(j["tasks"] for j in jobs)}) + "\n")
    with open(stem + ".layers.json", "w") as f:
        json.dump({"per_layer": per_layer, "tracing_overhead": overhead, "info": info,
                   "ops": [{k: o[k] for k in ("seq", "pass", "kind", "name", "seconds",
                                              "leftover_rdds", "metrics")}
                           for o in result["ops"] + result["serving"]]},
                  f, indent=1)
