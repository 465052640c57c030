"""Reduces one harness run (its spans and output checks) to the benchmark's
metrics: end-to-end metrics from an untraced run, per-layer metrics from a
traced one. Per-layer sums over the warm passes are divided by the number
of warm passes, so runs that fit a different number of passes compare.
"""
import math
import statistics

MODULES = ["operators", "preprocess", "functions", "ml", "text", "similarity", "streaming"]

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "query_p50_s": "s",
    "query_p90_s": "s", "heap_live_mb": "MB", "ok_share": "ratio",
}

PER_LAYER = {
    **{f"{m}.{k}": "s" for m in MODULES for k in ("build_s", "exec_s")},
    "sources.scan_mb": "MB", "sources.rows_read": "count",
    "catalyst.analysis_s": "s", "catalyst.optimizer_s": "s", "catalyst.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s", "codegen.stages": "count",
    "codegen.compiles_per_stage": "ratio",
    "codegen.cold_compiles": "count", "codegen.cold_compile_s": "s",
    "scheduler.sql_executions": "count", "scheduler.jobs": "count",
    "scheduler.stages": "count", "scheduler.tasks": "count", "scheduler.job_s": "s",
    "driver.idle_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.deserialize_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "storage.rdd_blocks_created": "count", "storage.leaked_blocks": "count",
    "storage.live_broadcasts": "count",
    "streaming.batches": "count", "streaming.batch_s": "s", "streaming.state_rows": "count",
    "jvm.gc_s": "s", "jvm.classes_loaded": "count", "jvm.codecache_mb": "MB",
    "trace.warm_s": "s",
}


def dur(span):
    return (span["end"] - span["start"]) / 1e3


def union_s(intervals):
    """Seconds covered by the union of (start_ms, end_ms) intervals."""
    total, reach = 0.0, -math.inf
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total / 1e3


class Run:
    """One harness result: spans indexed by pass and query."""

    def __init__(self, result):
        self.result = result
        spans = result["spans"]
        by_id = {s["id"]: s for s in spans}
        self.queries = [s for s in spans if s["kind"] == "query"]
        self.pass_of = {q["id"]: by_id[q["parent"]]["name"] for q in self.queries}
        self.passes = [s for s in spans if s["kind"] == "pass"]
        self.warm_passes = [p for p in self.passes if p["name"].startswith("warm")]
        self.spans = spans

    def in_pass(self, kind, warm=True):
        """Spans of one kind that belong to a query of the warm (or cold) passes."""
        want = (lambda p: p.startswith("warm")) if warm else (lambda p: p == "cold")
        return [s for s in self.spans if s["kind"] == kind and s["query"] in self.pass_of
                and want(self.pass_of[s["query"]])]

    def warm_pass_s(self):
        """A typical warm pass: each query's median over the warm passes,
        summed over the deck, so a burst of machine noise in one pass
        moves one sample of each query it hits, not the whole figure."""
        times = {}
        for q in self.in_pass("query"):
            times.setdefault(q["name"], []).append(dur(q))
        return sum(statistics.median(v) for v in times.values())


def end_to_end(run, failed, attempted):
    pool = [dur(q) for q in run.in_pass("query")]
    # interpolated between order statistics: steadier than nearest rank on
    # the few dozen warm executions a run holds
    p90 = statistics.quantiles(pool, n=10, method="inclusive")[8]
    metrics = {
        "setup_s": run.result["setup_s"],
        "cold_s": sum(dur(q) for q in run.in_pass("query", warm=False)),
        "warm_s": run.warm_pass_s(),
        "query_p50_s": statistics.median(pool),
        "query_p90_s": p90,
        "heap_live_mb": max(p["counters"]["heap_live_mb"] for p in run.passes),
        "ok_share": 1.0 - failed / attempted,
    }
    above = sum(1 for v in pool if v > p90)
    return metrics, {"warm_samples": len(pool), "samples_above_p90": above}


def per_layer(run):
    n = len(run.warm_passes)
    owner = run.result["owner"]

    def total(kind, key=None, warm=True):
        spans = run.in_pass(kind, warm)
        return sum(s["counters"].get(key, 0.0) if key else dur(s) for s in spans)

    m = {}
    for module in MODULES:
        for kind, name in (("build", "build_s"), ("consume", "exec_s")):
            m[f"{module}.{name}"] = sum(
                dur(s) for s in run.in_pass(kind) if owner[s["name"]] == module)
    m["sources.scan_mb"] = total("stage", "input_bytes") / 1e6
    m["sources.rows_read"] = total("stage", "input_rows")
    m["catalyst.analysis_s"] = total("plan", "analysis_s")
    m["catalyst.optimizer_s"] = total("plan", "optimization_s")
    m["catalyst.planning_s"] = total("plan", "planning_s")
    m["codegen.compiles"] = total("query", "compiles")
    m["codegen.compile_s"] = total("compile")
    m["codegen.stages"] = total("sql", "wsc_stages")
    m["scheduler.sql_executions"] = len(run.in_pass("sql"))
    m["scheduler.jobs"] = len(run.in_pass("job"))
    m["scheduler.stages"] = len(run.in_pass("stage"))
    m["scheduler.tasks"] = total("stage", "tasks")
    jobs_by_query = {}
    for j in run.in_pass("job"):
        jobs_by_query.setdefault(j["query"], []).append((j["start"], j["end"]))
    m["scheduler.job_s"] = sum(union_s(iv) for iv in jobs_by_query.values())
    m["driver.idle_s"] = total("query") - m["scheduler.job_s"]
    for key in ("run_s", "cpu_s", "gc_s", "deserialize_s"):
        m[f"executor.{key}"] = total("stage", key)
    m["shuffle.write_mb"] = total("stage", "shuffle_write_bytes") / 1e6
    m["shuffle.read_mb"] = total("stage", "shuffle_read_bytes") / 1e6
    m["shuffle.fetch_wait_s"] = total("stage", "fetch_wait_s")
    m["shuffle.spill_mb"] = total("stage", "spill_bytes") / 1e6
    m["storage.rdd_blocks_created"] = total("query", "rdd_blocks_created")
    m["storage.leaked_blocks"] = total("query", "leaked_blocks")
    m["storage.live_broadcasts"] = total("query", "live_broadcasts")
    m["streaming.batches"] = len(run.in_pass("batch"))
    m["streaming.batch_s"] = total("batch")
    m["streaming.state_rows"] = total("batch", "state_rows_updated")
    for key in ("gc_s", "classes_loaded", "codecache_mb"):
        m[f"jvm.{key}"] = sum(p["counters"][f"jvm_{key}"] for p in run.warm_passes)
    m = {k: v / n for k, v in m.items()}
    # ratios, cold-pass figures and the median pass are not per-pass sums
    m["codegen.compiles_per_stage"] = (
        m["codegen.compiles"] / m["codegen.stages"] if m["codegen.stages"] else 0.0)
    m["codegen.cold_compiles"] = total("query", "compiles", warm=False)
    m["codegen.cold_compile_s"] = total("compile", warm=False)
    m["trace.warm_s"] = run.warm_pass_s()
    return m
