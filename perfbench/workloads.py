"""The workloads.  Each one drives the engine through its public
functions on one warm session, times a cold pass and a timed phase,
checks every result, and returns an :class:`Outcome`.

Request ids (also the Spark job group in a traced run) start with
``C.`` in the cold pass, ``T`` in the timed phase and ``S.`` in the
streaming twin pass of a traced ``api_mix`` run.
"""

from __future__ import annotations

import importlib
import os
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from . import api_mix, procstat, stats
from .trace import PACKAGE

API_CLIENTS = 2
# A batch run times at least MIN_PASSES passes.  Each batch time is the
# fastest of its readings: the first timed pass still carries JIT warm-up
# and the host only ever slows a pass, so the faster reading is the steadier.
MIN_PASSES = 2
# Each client sends at least MIN_BLOCKS blocks of the mix (about 52
# lookups and 24 rollups in all, enough for a p75 and a p50 with 10
# samples beyond), starting none after LOOP_CAP_S.
MIN_BLOCKS = 2
LOOP_CAP_S = 60.0
TPCH = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_volume",
        "q6_forecast_revenue", "q10_returned_items", "q18_large_orders")
FEW_KEY = ("stream_rsi_wilder",)
KEY_HEAVY = ("stream_stateful_account_buckets",)


@dataclass
class Context:
    spark: object
    sf_dir: str
    seed: int
    seconds: float
    tracer: object
    registry: dict
    tables: dict          # generated row counts by table


@dataclass
class Outcome:
    metrics: dict         # end-to-end metrics by name
    attempted: int
    failures: list
    units: int            # units of work in the timed phase
    unit: str
    window: tuple         # epoch (start, end) of the timed phase
    counters: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


class TimedPhase:
    """CPU seconds of the whole process tree and the phase's epoch
    window; resets the tracer's counters on entry.  ``peak_rss_mb`` is
    the summed peak RSS of the live process tree at the phase's end; it
    goes into the record only (over ten seeds it spread by a fifth of its
    median, with how many Python workers were alive)."""

    def __init__(self, ctx):
        self.tracer = ctx.tracer

    def __enter__(self):
        self.tracer.reset_counters()
        self.cpu0 = procstat.cpu_seconds()
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.t1 = time.time()
        self.cpu = procstat.cpu_seconds() - self.cpu0
        self.counters = self.tracer.counters_snapshot()
        self.peak_rss_mb = procstat.peak_rss_bytes() / 2**20
        return False


class _Collected:
    """Collected rows in the shape ``tests.oracle.compare`` reads."""

    def __init__(self, df):
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self):
        return self._rows


def _oracle_check(ctx: Context, results: dict) -> list[str]:
    """Compare each query's result with its registry DuckDB oracle."""
    from tests.oracle import compare, duckdb_connection

    con = duckdb_connection(ctx.sf_dir)
    failures = []
    for name, result in results.items():
        try:
            errs = compare(result, con, ctx.registry[name].oracle, strict=True)
        except Exception as exc:  # noqa: BLE001 -- an unreadable result fails
            errs = [f"{type(exc).__name__}: {exc}"]
        failures += [f"{name}: {e}" for e in errs[:1]]
    con.close()
    return failures


def _materialize(ctx: Context, rid: str, name: str, collect: bool):
    """Build one query and evaluate every output column: into the noop
    sink, or by collecting the rows (returned for the oracle check)."""
    tracer, build = ctx.tracer, ctx.registry[name].spark
    if tracer.enabled:
        ctx.spark.sparkContext.setJobGroup(rid, name)
    with tracer.span("request", request=rid, query=name):
        df = build(ctx.spark, ctx.sf_dir)
        if tracer.enabled:
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec", module=build.__module__.rsplit(".", 1)[-1]):
            if collect:
                return _Collected(df)
            df.write.format("noop").mode("overwrite").save()
    return df


def _pass(ctx: Context, tag: str, names: list[str], collect: bool = False):
    """One pass over ``names``: (wall, per-query walls, results)."""
    per, results = {}, {}
    t0 = time.perf_counter()
    for name in names:
        a = time.perf_counter()
        results[name] = _materialize(ctx, f"{tag}.{name}", name, collect)
        per[name] = time.perf_counter() - a
    return time.perf_counter() - t0, per, results


def _timed_passes(ctx: Context, names: list[str]):
    """Whole passes: at least MIN_PASSES, and until ``seconds`` have passed.
    Returns each pass's wall, per-query walls and CPU-seconds."""
    walls, pers, cpus = [], [], []
    with TimedPhase(ctx) as phase:
        start = time.perf_counter()
        while len(walls) < MIN_PASSES or time.perf_counter() - start < ctx.seconds:
            cpu0 = procstat.cpu_seconds()
            wall, per, _ = _pass(ctx, f"T{len(walls)}", names)
            cpus.append(procstat.cpu_seconds() - cpu0)
            walls.append(wall)
            pers.append(per)
    return walls, pers, cpus, phase


def _mean_ms(query_s: dict, names) -> float:
    """Mean over ``names`` of each query's fastest wall, in ms."""
    return 1000 * statistics.fmean(query_s[n] for n in names)


def batch_headline(ctx: Context) -> Outcome:
    names = [n for n, q in ctx.registry.items() if q.bench]
    light = [n for n in names if n in TPCH]
    heavy = [n for n in names if n not in TPCH]
    # The cold pass collects its rows for the oracle check; the timed
    # passes evaluate into the noop sink.
    cold, cold_per, rows = _pass(ctx, "C", names, collect=True)
    walls, pers, cpus, phase = _timed_passes(ctx, names)
    failures = _oracle_check(ctx, rows)
    query_s = {n: min(p[n] for p in pers) for n in names}
    return Outcome(
        metrics={
            "cold_pass_s": cold,
            "light_ms": _mean_ms(query_s, light),
            "heavy_ms": _mean_ms(query_s, heavy),
            "ops_per_s": len(names) / min(walls),
            "cpu_s": min(cpus),
        },
        attempted=len(names) * (len(walls) + 1),
        failures=failures,
        units=len(walls), unit="pass", window=(phase.t0, phase.t1),
        counters=phase.counters,
        detail={"batch.pass_s": min(walls), "batch.cold_pass_s": cold,
                "peak_rss_mb": phase.peak_rss_mb, "passes": len(walls),
                "passes_s": walls, "passes_cpu_s": cpus, "light": light, "heavy": heavy,
                "query_s": query_s, "cold_query_s": cold_per},
    )


def stream_twins(ctx: Context) -> dict:
    """One pass over a few-key and a key-heavy streaming twin, for the
    streaming layer's numbers in a traced ``api_mix`` run, after its
    timed phase.  Building a twin runs its stream to completion, so the
    build is the measured work.  It rides on ``api_mix`` rather than
    ``batch_headline`` because the traced batch run is the longer one."""
    names = list(FEW_KEY + KEY_HEAVY)
    with TimedPhase(ctx) as phase:
        wall, per, results = _pass(ctx, "S", names)
    failures = _oracle_check(ctx, {n: _Collected(df) for n, df in results.items()})
    return {
        "stream.few_key_s": sum(per[n] for n in FEW_KEY),
        "stream.key_heavy_s": sum(per[n] for n in KEY_HEAVY),
        "pass_s": wall, "cpu_s": phase.cpu, "peak_rss_mb": phase.peak_rss_mb,
        "window": (phase.t0, phase.t1), "counters": phase.counters,
        "attempted": len(names), "failures": failures,
    }


def _latency_summary(values: list[float]) -> dict:
    """Sample count, median and the highest percentile the samples
    support (MIN_BEYOND samples above it), in ms."""
    out = {"n": len(values)}
    top = stats.highest_percentile(len(values))  # None, or at least 50
    for pct in sorted({50, top}) if top else ():
        out[f"p{pct:g}_ms"] = 1000 * stats.percentile(values, pct)
    return out


def api(ctx: Context) -> Outcome:
    from tests.oracle import duckdb_connection

    api_module = importlib.import_module(f"{PACKAGE}.plans.api")
    event_users = pq.read_table(os.path.join(ctx.sf_dir, "events.parquet"),
                                columns=["user_id"]).column(0).to_pylist()
    items = api_mix.make_mix(ctx.seed, 200, users=ctx.tables["users"],
                             ledgers=ctx.tables["orders"], event_users=event_users)
    runner = api_mix.Runner(ctx.spark, ctx.sf_dir, ctx.tracer, api_module)

    # Cold pass: the first mix entry of every route, once, right after
    # set-up.  It doubles as the warm-up.
    first = {}
    for item in items:
        first.setdefault(item.route, item)
    t0 = time.perf_counter()
    for route in sorted(first):
        runner.run_item("C", first[route])
    cold = time.perf_counter() - t0
    n_cold = len(runner.samples)

    with TimedPhase(ctx) as phase:
        wall = runner.closed_loop(items, API_CLIENTS, ctx.seconds, MIN_BLOCKS, LOOP_CAP_S)
    timed = runner.samples[n_cold:]

    failures = [f"{s.key}: {s.error}" for s in runner.samples if s.error]
    con = duckdb_connection(ctx.sf_dir)
    ok = [s for s in runner.samples if not s.error]
    ref = api_mix.references(con, {s.key for s in ok})
    con.close()
    failures += api_mix.count_failures([(s.key, s.fingerprint) for s in ok], ref)
    attempted = len(runner.samples)
    stream = None
    if ctx.tracer.enabled:
        stream = stream_twins(ctx)
        failures += stream.pop("failures")
        attempted += stream.pop("attempted")

    lookups = [s.latency_s for s in timed if s.kind == api_mix.LOOKUP]
    rollups = [s.latency_s for s in timed if s.kind == api_mix.ROLLUP]
    summary = {}
    for label, values in (("lookup", lookups), ("rollup", rollups)):
        summary[label] = _latency_summary(values)
        if "p50_ms" not in summary[label]:
            failures.append(f"{label}: {len(values)} samples, p50 needs {stats.needed(50)}")
            summary[label]["p50_ms"] = 1000 * max(values, default=float("nan"))
    return Outcome(
        metrics={
            "cold_pass_s": cold,
            "light_ms": summary["lookup"]["p50_ms"],
            "heavy_ms": summary["rollup"]["p50_ms"],
            "ops_per_s": len(timed) / wall,
            "cpu_s": phase.cpu / len(timed) * 100,
        },
        attempted=attempted,
        failures=failures,
        units=len(timed), unit="request", window=(phase.t0, phase.t1),
        counters=phase.counters,
        detail={
            "clients": API_CLIENTS, "cold_requests": n_cold, "window_s": wall,
            "peak_rss_mb": phase.peak_rss_mb, "stream": stream,
            "api.cold_pass_s": cold, "api.rps": len(timed) / wall,
            "api.lookup": summary["lookup"], "api.rollup": summary["rollup"],
            "route_p50_ms": {
                r: 1000 * statistics.median(v) for r in sorted(api_mix.ROUTES)
                if (v := [s.latency_s for s in timed if s.key[0] == r])},
        },
    )


WORKLOADS = {
    "api_mix": (api, {"sf": 0.01, "users": 1500}),
    "batch_headline": (batch_headline, {"sf": 0.01, "users": 1500}),
}
