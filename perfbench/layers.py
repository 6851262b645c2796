"""Per-layer metrics of a traced run, from the benchmark's spans and
counters, the Spark event log and the streaming listener.

Sums are per unit of work of the timed phase (a request on ``api_mix``,
a pass on ``batch_headline``), so they compare across runs whose timed
phase did a different number of units.  The streaming layer's numbers
come from the twin pass a traced ``api_mix`` run adds.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .trace import self_times

STREAMING = ("streaming.", "plans.registry.executes_on_build")


def summarize(spans, counters: dict, jobs: dict, progress: list, units: int,
              window: tuple, cores: int, tracked_count: int, prefix: str = "T") -> dict:
    """Layer metrics of the requests whose id starts with ``prefix``."""

    def _timed(rid: str | None) -> bool:
        return bool(rid) and rid.startswith(prefix)

    u = max(units, 1)
    spans = [s for s in spans if _timed(s.request)]
    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
    total = {n: sum(s.dur for s in v) for n, v in by_name.items()}
    selft = self_times(spans)
    self_by_name = defaultdict(float)
    for s in spans:
        self_by_name[s.name] += selft[s.id]

    groups = {g: a for g, a in jobs.items() if _timed(g)}

    def jsum(key):
        return sum(a.get(key, 0) for a in groups.values())

    def c(name):
        return counters.get(name, 0)

    # Jobs submitted while a route call was running, per request.
    calls = [s for s in by_name.get("plans.api.call", ()) if s.parent is not None]
    in_call = 0
    for s in calls:
        submits = groups.get(s.request, {}).get("submit_times", ())
        in_call += sum(s.start <= t <= s.end for t in submits)

    # A registry build that ran a streaming query executed on build.
    parents = {s.parent for s in by_name.get("streaming.run_to_memory", ())}
    executes = sum(s.id in parents for s in by_name.get("plans.registry.build", ()))

    wall = max(window[1] - window[0], 1e-9)
    rows = c("rows_to_driver")
    batch_ms = [p["batch_ms"] for p in progress]
    dur = lambda *keys: sum(p["durations"].get(k, 0) for p in progress for k in keys)  # noqa: E731
    state_rows = [sum(s["rows"] for s in p["state"]) for p in progress]
    state_mem = [sum(s["memory"] for s in p["state"]) for p in progress]
    rates = [p["rows_per_s"] for p in progress if p["input_rows"]]
    persists = c("functions.caching.scoped_persist_calls")
    dispatches = c("functions.dispatch.serve_exact_calls")

    out = {
        "plans.api.call_ms": 1000 * total.get("plans.api.call", 0) / u,
        "plans.api.materialize_ms": 1000 * total.get("materialize", 0) / u,
        "plans.api.jobs_in_call": in_call / u,
        "plans.api.rows_to_driver": rows / u,
        "sources.catalog.load_table_calls": c("sources.catalog.load_table_calls") / u,
        "sources.catalog.load_table_ms": 1000 * total.get("sources.catalog.load_table", 0) / u,
        "sources.scan.records_read_per_row_returned": jsum("records_read") / max(rows, 1),
        "plans.registry.build_s": total.get("plans.registry.build", 0) / u,
        "plans.registry.executes_on_build": executes / u,
        "spark.plan_s": total.get("spark.plan", 0) / u,
        "spark.exec_s": total.get("spark.exec", 0) / u,
        "spark.jobs": jsum("jobs") / u,
        "spark.stages": jsum("stages") / u,
        "spark.tasks": jsum("tasks") / u,
        "spark.task_s": jsum("task_s") / u,
        "spark.executor_cpu_s": jsum("executor_cpu_s") / u,
        "spark.parallel_efficiency": jsum("executor_cpu_s") / (wall * cores),
        "spark.shuffle_read_bytes": jsum("shuffle_read_bytes") / u,
        "spark.shuffle_write_bytes": jsum("shuffle_write_bytes") / u,
        "spark.spill_bytes": jsum("spill_bytes") / u,
        "spark.gc_s": jsum("gc_s") / u,
        "spark.peak_exec_mem_bytes": max(
            (a.get("peak_exec_mem_bytes", 0) for a in groups.values()), default=0),
        "functions.localrel.local_df_calls": c("functions.localrel.local_df_calls") / u,
        "functions.localrel.local_df_ms": 1000 * total.get("functions.localrel.local_df", 0) / u,
        "functions.localrel.rows": c("functions.localrel.rows") / u,
        "functions.caching.scoped_persist_calls": persists / u,
        "functions.caching.hit_ratio": c("functions.caching.hits") / persists if persists else 0.0,
        "functions.caching.tracked_count": tracked_count,
        "functions.dispatch.serve_exact_calls": dispatches / u,
        "functions.dispatch.exact_ratio": c("functions.dispatch.exact") / dispatches if dispatches else 0.0,
        "streaming.batches": len(progress) / u,
        "streaming.batch_p50_ms": statistics.median(batch_ms) if batch_ms else 0.0,
        "streaming.query_planning_ms": dur("queryPlanning") / u,
        "streaming.wal_commit_ms": dur("walCommit", "commitOffsets") / u,
        "streaming.state_commit_ms": sum(
            s["commit_ms"] for p in progress for s in p["state"]) / u,
        "streaming.state_rows": max(state_rows, default=0),
        "streaming.state_memory_bytes": max(state_mem, default=0),
        "streaming.input_rows_per_s": statistics.median(rates) if rates else 0.0,
        "streaming.run_to_memory_s": total.get("streaming.run_to_memory", 0) / u,
    }
    # Per operator module: execution seconds of the headline queries.
    for s in by_name.get("spark.exec", ()):
        module = s.attrs.get("module")
        if module:
            key = f"operators.{module}.exec_s"
            out[key] = out.get(key, 0.0) + s.dur / u
    out["self_s"] = {n: v / u for n, v in sorted(self_by_name.items())}
    return out
