"""Benchmark-side tracing: spans around calls into the engine's layers,
counters at the same boundaries, Spark event-log accounting per job
group, and streaming progress from a StreamingQueryListener.

Everything is kept in memory and summarised when the run ends; nothing
here changes what the engine computes.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

PACKAGE = "rippled_historical_database_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by
    its children (overlapping children count once)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


class Tracer:
    """Span recorder.  ``enabled=False`` makes every hook a no-op so the
    untraced run pays nothing but a flag test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, request: str | None = None, **attrs):
        return _SpanCtx(self, name, request, attrs)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += n

    def wrap(self, name: str, fn, on_call=None, **attrs):
        """``fn`` wrapped in a span; ``on_call(args, kwargs, result)``
        may record counters."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, **attrs):
                result = fn(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, result)
            return result

        return traced

    def reset_counters(self) -> None:
        with self._lock:
            self.counters.clear()

    def counters_snapshot(self) -> dict[str, float]:
        with self._lock:
            return dict(self.counters)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name, request, attrs):
        self.t, self.name, self.request, self.attrs = tracer, name, request, attrs

    def __enter__(self):
        if not self.t.enabled:
            return self
        stack = self.t._stack()
        parent = stack[-1] if stack else None
        self.id = next(self.t._ids)
        self.parent = parent.id if parent else None
        if self.request is None and parent is not None:
            self.request = parent.request
        self.start = time.time()
        stack.append(self)
        return self

    def __exit__(self, *exc):
        if not self.t.enabled:
            return False
        end = time.time()
        self.t._stack().pop()
        span = Span(self.id, self.name, self.start, end, self.parent,
                    self.request, self.attrs)
        with self.t._lock:
            self.t.spans.append(span)
        return False


def patch_everywhere(module, attr: str, wrapper) -> None:
    """Replace ``module.attr`` and every engine module's imported alias
    of the same object with ``wrapper``."""
    orig = getattr(module, attr)
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        if getattr(mod, attr, None) is orig:
            setattr(mod, attr, wrapper)


def install_layer_hooks(tracer: Tracer, registry: dict) -> None:
    """Wrap the public entry points of each engine layer."""
    import importlib

    api = importlib.import_module(f"{PACKAGE}.plans.api")
    catalog = importlib.import_module(f"{PACKAGE}.sources.catalog")
    localrel = importlib.import_module(f"{PACKAGE}.functions.localrel")
    caching = importlib.import_module(f"{PACKAGE}.functions.caching")
    dispatch = importlib.import_module(f"{PACKAGE}.functions.dispatch")
    memory_sink = importlib.import_module(f"{PACKAGE}.streaming.memory_sink")

    for name in dir(api):
        fn = getattr(api, name)
        if (name.startswith("get_") or name == "normalize") and callable(fn):
            setattr(api, name, tracer.wrap("plans.api.call", fn))

    for q in registry.values():
        q.spark = tracer.wrap("plans.registry.build", q.spark, query=q.name)

    patch_everywhere(catalog, "load_table", tracer.wrap(
        "sources.catalog.load_table", catalog.load_table,
        lambda a, k, r: tracer.count("sources.catalog.load_table_calls")))

    def on_local(args, kwargs, result):
        tracer.count("functions.localrel.local_df_calls")
        rows = args[1] if len(args) > 1 else kwargs.get("rows")
        if hasattr(rows, "__len__"):
            tracer.count("functions.localrel.rows", len(rows))

    patch_everywhere(localrel, "local_df",
                     tracer.wrap("functions.localrel.local_df", localrel.local_df, on_local))

    persist = caching.scoped_persist

    def scoped_persist(df):
        key = df.semanticHash()
        tracer.count("functions.caching.scoped_persist_calls")
        tracer.count("functions.caching.hits", key in caching._TRACKED)
        return persist(df)

    patch_everywhere(caching, "scoped_persist", functools.wraps(persist)(scoped_persist))

    def on_dispatch(args, kwargs, result):
        tracer.count("functions.dispatch.serve_exact_calls")
        tracer.count("functions.dispatch.exact", bool(result))

    patch_everywhere(dispatch, "serve_exact", tracer.wrap(
        "functions.dispatch.serve_exact", dispatch.serve_exact, on_dispatch))

    patch_everywhere(memory_sink, "run_to_memory", tracer.wrap(
        "streaming.run_to_memory", memory_sink.run_to_memory))

    from pyspark.sql.classic.dataframe import DataFrame

    collect = DataFrame.collect

    def counted_collect(self):
        rows = collect(self)
        tracer.count("rows_to_driver", len(rows))
        return rows

    DataFrame.collect = counted_collect


class StreamProgress:
    """Collects streaming progress events on the session."""

    def __init__(self, spark):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "name": p.name,
                    "at": time.time(),
                    "batch_ms": p.batchDuration,
                    "durations": dict(p.durationMs),
                    "input_rows": p.numInputRows,
                    "rows_per_s": p.processedRowsPerSecond,
                    "state": [
                        {"rows": s.numRowsTotal, "memory": s.memoryUsedBytes,
                         "commit_ms": s.commitTimeMs}
                        for s in p.stateOperators
                    ],
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Events of the newest application log under ``log_dir``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f)]
    if not files:
        return []
    newest = max(files, key=os.path.getmtime)
    with open(newest) as f:
        return [json.loads(line) for line in f if line.strip()]


def job_accounting(events: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks and summed task metrics."""
    job_group, stage_job, job_submit = {}, {}, {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id")
            job_submit[jid] = e.get("Submission Time", 0) / 1000.0
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for jid, group in job_group.items():
        acc[group]["jobs"] += 1
        acc[group].setdefault("submit_times", []).append(job_submit[jid])
    stages_seen = set()
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = e["Stage ID"]
        group = job_group.get(stage_job.get(sid))
        a = acc[group]
        if (group, sid) not in stages_seen:
            stages_seen.add((group, sid))
            a["stages"] += 1
        m = e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        im = m.get("Input Metrics") or {}
        a["tasks"] += 1
        a["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        a["records_read"] += im.get("Records Read", 0)
        a["peak_exec_mem_bytes"] = max(a["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
    return {g: dict(v) for g, v in acc.items()}
