"""Arithmetic of the benchmark: summary statistics, span self time, and the
reduction of one run's samples and spans to its metrics.

Pure functions over plain data; perfbench/test_stats.py checks them.
"""
import math
import re
import statistics

TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MB = 1024.0 * 1024.0


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs):
    """Highest percentile of TAIL_LEVELS with at least ten samples beyond it,
    by nearest rank: (level, value), or None when no level qualifies."""
    s = sorted(xs)
    n = len(s)
    for level in TAIL_LEVELS:
        tenths = round(level * 10)
        rank = -(-tenths * n // 1000)  # ceil(level% of n), in integers
        if rank >= 1 and n - rank >= 10:
            return level, s[rank - 1]
    return None


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`, so that
    overlapping intervals (concurrent jobs) count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)


# ---- end-to-end metrics (untraced passes) ---------------------------------

def end_to_end(result, verdict):
    """Metrics of one run over its untraced measured passes, plus the
    samples behind each. A query execution fails when it throws; the first
    warm-up pass's executions also fail when their result does not match
    the oracle."""
    passes = [p for p in result["passes"] if p["phase"] == "measure" and not p["traced"]]
    latencies = {}
    for p in passes:
        for q in p["queries"]:
            latencies.setdefault(q["name"], []).append(q["latency_s"])
    runs = [q for p in result["passes"] for q in p["queries"]]
    warmup = next(p for p in result["passes"] if p["phase"] == "warmup")
    checked = {q["name"]: q for q in warmup["queries"]}
    failed = sum(1 for q in runs if q["error"]) + sum(
        1 for name, why in verdict.items() if why and not checked[name]["error"])
    heap = [p["mem_peak_mb"] for p in passes if p["mem_peak_mb"] is not None]
    samples = {
        "setup_s": [result["setup_s"]],
        "wall_s": [p["wall_s"] for p in passes],
        "query_geomean_s": [x for xs in latencies.values() for x in xs],
        "cpu_s": [p["cpu_s"] for p in passes],
        "mem_peak_mb": heap,
    }
    metrics = {
        "setup_s": result["setup_s"],
        "wall_s": median(samples["wall_s"]),
        "query_geomean_s": geomean(median(xs) for xs in latencies.values()),
        "cpu_s": median(samples["cpu_s"]),
        "mem_peak_mb": median(heap) if heap else float("nan"),
    }
    return metrics, samples, len(runs), failed


def tracing_overhead(passes):
    """Median over consecutive (untraced, traced) pass pairs, in either
    order, of the traced minus the untraced wall time."""
    diffs = []
    for a, b in zip(passes[0::2], passes[1::2]):
        if a["traced"] != b["traced"]:
            t, u = (a, b) if a["traced"] else (b, a)
            diffs.append(t["wall_s"] - u["wall_s"])
    return median(diffs)


# ---- per-layer metrics (traced passes) ------------------------------------

STORE_WRITE = re.compile(r"^(write\w*Store|appendTo\w*Store)\b")
STORE_COMPACT = re.compile(r"^(compact\w*Store|foldGenerations)\b")
GATE = re.compile(r"\bgate\b.*\bgen=")

LAYER_METRICS = [
    "queries.build_s", "queries.drain_s", "queries.driver_gap_s",
    "queries.build_jobs",
    "catalyst.executions", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.job_s",
    "scheduler.tasks_per_stage", "scheduler.core_busy_ratio",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.deserialize_s",
    "shuffle.read_mb", "shuffle.write_mb", "spill.mb", "scan.read_mb",
    "sink.write_mb",
    "plans.nodes", "plans.codegen_s",
    "store.write_jobs", "store.write_s", "store.compact_jobs",
    "store.compact_s", "gate.jobs", "gate.s",
    "streaming.batches", "streaming.batch_s", "streaming.input_rows",
]


def _place(spans, records):
    """Attach every job, plan and micro-batch record to a query span: the one
    it names, else the query span open at its time. Records outside every
    query span are dropped (fence job, untraced work)."""
    by_id = {s["id"]: s for s in spans}
    queries = sorted((s for s in spans if s["kind"] == "query"),
                     key=lambda s: s["start"])
    placed = []
    for r in records:
        parent = by_id.get(r["parent"])
        while parent is not None and parent["kind"] != "query":
            parent = by_id.get(parent["parent"])
        if parent is None:
            t = r["start"] if r["kind"] in ("job", "batch") else r["end"]
            parent = next((q for q in queries if q["start"] <= t <= q["end"]), None)
        if parent is not None:
            placed.append((r, parent))
    return placed


def per_layer(result, lines):
    """Per-layer metrics of a traced run: each is a per-pass total (or ratio)
    over the traced measured passes, reduced to their median, plus the
    tracing overhead of the untraced/traced pass pairs."""
    spans = [x for x in lines if x["kind"] in ("run", "pass", "query", "build", "drain")]
    records = [x for x in lines if x["kind"] in ("job", "qe", "batch")]
    walls = {p_i: p["wall_s"] for p_i, p in enumerate(result["passes"])}
    cpus = result["cpus"]
    placed = _place(spans, records)
    per_pass = {}
    for p in (s for s in spans if s["kind"] == "pass"):
        p_index = int(p["name"][len("pass"):])
        if result["passes"][p_index]["phase"] != "measure":
            continue
        qids = {s["id"] for s in spans if s["kind"] == "query" and s["parent"] == p["id"]}
        builds = [s for s in spans if s["kind"] == "build" and s["parent"] in qids]
        drains = [s for s in spans if s["kind"] == "drain" and s["parent"] in qids]
        mine = [r for r, q in placed if q["id"] in qids]
        jobs = [r for r in mine if r["kind"] == "job"]
        qes = [r for r in mine if r["kind"] == "qe"]
        batches = [r for r in mine if r["kind"] == "batch"]
        build_ids = {b["id"] for b in builds}

        def span_of(job):
            return (job["start"], job["end"] if job["end"] == job["end"] else job["start"])

        def jsum(key):
            return sum(j["attrs"][key] for j in jobs)

        def labelled(rx):
            sel = [j for j in jobs if rx.search(j["name"])]
            return len(sel), covered([span_of(j) for j in sel], p["start"], p["end"])

        m = {}
        m["queries.build_s"] = sum(b["end"] - b["start"] for b in builds)
        m["queries.drain_s"] = sum(d["end"] - d["start"] for d in drains)
        m["queries.driver_gap_s"] = sum(
            self_time(b["start"], b["end"],
                      [span_of(j) for j in jobs if j["parent"] == b["id"]])
            for b in builds)
        m["queries.build_jobs"] = sum(1 for j in jobs if j["parent"] in build_ids)
        m["catalyst.executions"] = len(qes)
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_s"] = sum(q["attrs"][f"{phase}_s"] for q in qes)
        m["scheduler.jobs"] = len(jobs)
        m["scheduler.stages"] = jsum("stages")
        m["scheduler.tasks"] = jsum("tasks")
        m["scheduler.job_s"] = covered([span_of(j) for j in jobs], p["start"], p["end"])
        m["scheduler.tasks_per_stage"] = (m["scheduler.tasks"] / m["scheduler.stages"]
                                          if m["scheduler.stages"] else 0.0)
        m["exec.run_s"] = jsum("run_s")
        m["scheduler.core_busy_ratio"] = m["exec.run_s"] / (walls[p_index] * cpus)
        m["exec.cpu_s"] = jsum("cpu_s")
        m["exec.gc_s"] = jsum("gc_s")
        m["exec.deserialize_s"] = jsum("deserialize_s")
        m["shuffle.read_mb"] = jsum("shuffle_read_b") / MB
        m["shuffle.write_mb"] = jsum("shuffle_write_b") / MB
        m["spill.mb"] = jsum("spill_b") / MB
        m["scan.read_mb"] = jsum("scan_read_b") / MB
        m["sink.write_mb"] = jsum("sink_write_b") / MB
        m["plans.nodes"] = sum(q["attrs"]["plans_nodes"] for q in qes)
        m["plans.codegen_s"] = sum(q["attrs"]["codegen_s"] for q in qes)
        m["store.write_jobs"], m["store.write_s"] = labelled(STORE_WRITE)
        m["store.compact_jobs"], m["store.compact_s"] = labelled(STORE_COMPACT)
        m["gate.jobs"], m["gate.s"] = labelled(GATE)
        m["streaming.batches"] = len(batches)
        m["streaming.batch_s"] = sum(b["end"] - b["start"] for b in batches)
        m["streaming.input_rows"] = sum(b["attrs"]["input_rows"] for b in batches)
        per_pass[p_index] = m
    out = {k: median([m[k] for m in per_pass.values()]) for k in LAYER_METRICS}
    out["trace.overhead_s"] = tracing_overhead(
        [p for p in result["passes"] if p["phase"] == "measure"])
    return out
