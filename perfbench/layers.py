"""Per-layer metrics of a traced run, from the spans and Spark events the
JVM recorded (perfbench/src/perfbench/Trace.scala).

Layers are named after the engine's modules. Every metric is a median
over the measured passes of a per-pass total, unless it says otherwise;
a layer the workload does not use reports 0. Which end-to-end metric each
one should move, and on which workload, is in perfbench/README.md.
"""
import glob
import os
import statistics

KERNELS = ("minhash", "shingles", "intersect_size", "levenshtein", "dot", "simhash")
STATEFUL = ("kl", "tumble", "join")
GATES = ("ivf",)

BASE_NAMES = (["pass_s_traced", "load_s", "build_s", "eager_jobs", "plan_s", "exec_s", "jobs",
               "stages", "tasks", "job_busy_s", "driver_gap_s", "executor_cpu_s", "executor_run_s",
               "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"]
              + [f"kernel.{k}_s" for k in KERNELS]
              + ["stream.add_batch_ms", "stream.planning_ms", "stream.wal_commit_ms",
                 "stream.state_rows", "stream.state_mb", "stream.late_dropped",
                 "gate.tick_ms", "gate.admitted", "gate.dropped", "index.files", "index.mb",
                 "index.topk_ms", "index.compact_ms"])

UNITS = {"eager_jobs": "count", "jobs": "count", "stages": "count", "tasks": "count",
         "stream.state_rows": "count", "stream.late_dropped": "count", "gate.admitted": "count",
         "gate.dropped": "count", "index.files": "count", "shuffle_write_mb": "MB",
         "shuffle_read_mb": "MB", "spill_mb": "MB", "stream.state_mb": "MB", "index.mb": "MB"}

MB = 1048576.0


def unit(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith(".jobs"):
        return "count"
    return "ms" if name.endswith("_ms") else "s"


def _union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if s > end:
            total += e - s
        elif e > end:
            total += e - end
        end = max(end, e)
    return total


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _tag_pass(query_name):
    """Measured pass of a streaming query named perfbench_<q>_p<i>, else None."""
    tag = query_name.rsplit("_", 1)[-1]
    return int(tag[1:]) if tag.startswith("p") and tag[1:].isdigit() else None


def _dir_stats(root):
    files = [f for f in glob.glob(f"{root}/**/*", recursive=True) if os.path.isfile(f)]
    return len(files), sum(os.path.getsize(f) for f in files) / MB


def names(queries):
    """Every per-layer metric, with a per-query pair for each query of the
    batch workload (reported by every workload, 0 where it does not run)."""
    return BASE_NAMES + [f"q.{q}.{m}" for q in queries for m in ("s", "jobs")]


def per_layer(res, trace, workload, queries, manifest=None):
    spans = trace["spans"]
    passes = sorted((s for s in spans if s["name"] == "pass"), key=lambda s: s["pass"])
    ops = [s for s in spans if s.get("kind") == "op" and s["pass"] >= 0]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    jobs = trace["jobs"]
    stages = trace["stages"]
    all_names = names(queries)
    out = {n: 0.0 for n in all_names}

    def per_pass(fn):
        return _median(fn(p) for p in passes)

    def inside(t, p):
        return p["start"] <= t <= p["end"]

    def phase(p, name):
        return sum(c["end"] - c["start"] for o in ops if o["pass"] == p["pass"]
                   for c in children.get(o["id"], []) if c["name"] == name) / 1000.0

    def eager(p):
        n = 0
        for o in ops:
            if o["pass"] != p["pass"]:
                continue
            for c in children.get(o["id"], []):
                if c["name"] == "build":
                    n += sum(1 for j in jobs if j["group"] == f"op-{o['id']}"
                             and c["start"] <= j["start"] <= c["end"])
        return n

    def gap(p):
        spans_jobs = [(j["start"], j["end"]) for j in jobs]
        return sum((o["end"] - o["start"]) - _union(spans_jobs, o["start"], o["end"])
                   for o in ops if o["pass"] == p["pass"]) / 1000.0

    def stage_sum(key, p, scale):
        return sum(s[key] for s in stages if inside(s["end"], p)) / scale

    out["pass_s_traced"] = _median((p["end"] - p["start"]) / 1000.0 for p in passes)
    out["load_s"] = res["load_s"]
    out["build_s"] = per_pass(lambda p: phase(p, "build"))
    out["eager_jobs"] = per_pass(eager)
    out["plan_s"] = per_pass(lambda p: phase(p, "plan"))
    # execution: the noop write of a batch query, the processing of a tick
    out["exec_s"] = per_pass(lambda p: phase(p, "exec") + phase(p, "ingest"))
    out["jobs"] = per_pass(lambda p: sum(1 for j in jobs if inside(j["start"], p)))
    out["stages"] = per_pass(lambda p: sum(1 for s in stages if inside(s["end"], p)))
    out["tasks"] = per_pass(lambda p: stage_sum("tasks", p, 1))
    out["job_busy_s"] = per_pass(
        lambda p: _union([(j["start"], j["end"]) for j in jobs], p["start"], p["end"]) / 1000.0)
    out["driver_gap_s"] = per_pass(gap)
    out["executor_cpu_s"] = per_pass(lambda p: stage_sum("cpu_ns", p, 1e9))
    out["executor_run_s"] = per_pass(lambda p: stage_sum("run_ms", p, 1000.0))
    out["gc_s"] = per_pass(lambda p: stage_sum("gc_ms", p, 1000.0))
    out["shuffle_write_mb"] = per_pass(lambda p: stage_sum("shuffle_write", p, MB))
    out["shuffle_read_mb"] = per_pass(lambda p: stage_sum("shuffle_read", p, MB))
    out["spill_mb"] = per_pass(lambda p: stage_sum("spill", p, MB))
    for k in KERNELS:
        out[f"kernel.{k}_s"] = res["kernels"].get(f"kernel.{k}_s", 0.0)

    for q in queries:
        mine = [o for o in ops if o["name"] == q]
        if mine:
            out[f"q.{q}.s"] = _median((o["end"] - o["start"]) / 1000.0 for o in mine)
            out[f"q.{q}.jobs"] = _median(
                sum(1 for j in jobs if j["group"] == f"op-{o['id']}") for o in mine)

    if workload == "stream_ingest":
        prog = [p for p in trace["progress"] if _tag_pass(p["query"]) is not None]

        def of(kinds):
            return [p for p in prog if p["query"].split("_")[1] in kinds]
        stateful = of(STATEFUL)
        out["stream.add_batch_ms"] = _median(p["durations"].get("addBatch", 0) for p in stateful)
        out["stream.planning_ms"] = _median(
            p["durations"].get("queryPlanning", 0) for p in stateful)
        out["stream.wal_commit_ms"] = _median(p["durations"].get("walCommit", 0) for p in stateful)

        def at_end(p_idx, key):
            total = 0
            for kind in STATEFUL:
                mine = [p for p in stateful
                        if _tag_pass(p["query"]) == p_idx and p["query"].split("_")[1] == kind]
                if mine:
                    last = max(mine, key=lambda p: p["batch"])
                    total += sum(s[key] for s in last["state"])
            return total
        idx = [p["pass"] for p in passes]
        out["stream.state_rows"] = _median(at_end(i, "rows") for i in idx)
        out["stream.state_mb"] = _median(at_end(i, "bytes") / MB for i in idx)
        out["stream.late_dropped"] = _median(
            sum(s["dropped"] for p in stateful if _tag_pass(p["query"]) == i for s in p["state"])
            for i in idx)
        out["gate.tick_ms"] = _median(p["durations"].get("triggerExecution", 0)
                                      for p in of(GATES) if p["input_rows"] > 0)
        admitted = sum(n for _, n in res["check"]["admitted"])
        out["gate.admitted"] = admitted
        if manifest:
            out["gate.dropped"] = sum(manifest["vecs_offered"]) - admitted
        out["index.files"], out["index.mb"] = _dir_stats(os.path.join(res["check"]["root"], "ivf"))

        def child_ms(name):
            return _median(c["end"] - c["start"] for o in ops
                           for c in children.get(o["id"], []) if c["name"] == name)
        out["index.topk_ms"] = child_ms("topk")
        out["index.compact_ms"] = child_ms("compact")

    return {n: {"value": out[n], "unit": unit(n)} for n in all_names}
