"""The plan memo behind ``Query.spark``: each registered query is built
once per (session, query, ``realpath(sf_dir)``, data version), and every
call returns a new DataFrame over the stored analyzed plan.

A hit must give the rows a fresh build gives and skip the build's own
jobs; a rewrite of an input file must rebuild; the module function that
``register()`` returns must build on every call."""

from __future__ import annotations

import gc
import os
import shutil
import sys
import threading

import pytest

from rippled_historical_database_spark.functions import caching
from rippled_historical_database_spark.functions.dispatch import verify_mode
from rippled_historical_database_spark.operators import scan
from rippled_historical_database_spark.operators import similarity as S
from rippled_historical_database_spark.plans.registry import all_queries

QUERIES = all_queries()

# The registry queries the plans.api routes read through ``api._q``.
ROUTE_QUERIES = [
    "active_accounts", "agg_fee_daily", "agg_fee_per_ledger",
    "agg_fee_stats_quantiles", "graph_node_degrees", "graph_reciprocal_links",
    "manifests_by_validator", "parse_escrows", "rate_dual_vwap",
    "read_live_rolling_metric", "top_markets_daily", "validator_reports",
]
HEADLINE = [n for n, q in QUERIES.items() if q.bench]


def _copy(src: str, dst) -> str:
    """A writable copy of a test-data directory (the inputs are read-only)."""
    os.makedirs(dst)
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    return str(dst)


def _jobs_in_group(spark, group: str, call):
    """``call()``'s result and the ids of the Spark jobs it ran."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def quant_dir(spark, sf_dir, monkeypatch, tmp_path):
    """A data copy whose learned quantization range is already trained
    (into a temporary artifact root), so building
    ``embedding_quantize_int8`` on it runs only the artifact's schema
    read."""
    monkeypatch.setattr(S, "QUANT_ARTIFACT_ROOT", str(tmp_path / "artifacts"))
    d = _copy(sf_dir, tmp_path / "sf")
    S.quant_ranges_artifact(spark, d).collect()
    return d


def test_hit_skips_the_build_and_its_job(spark, quant_dir):
    q = QUERIES["embedding_quantize_int8"]
    build = lambda: q.spark(spark, quant_dir)  # noqa: E731
    miss, miss_jobs = _jobs_in_group(spark, "plan-memo-miss", build)
    hit, hit_jobs = _jobs_in_group(spark, "plan-memo-hit", build)
    assert miss_jobs, "the miss ran no job: the probe cannot see a build"
    assert hit_jobs == []
    rows = hit.collect()
    assert rows == miss.collect()
    assert rows == S.embedding_quantize_int8(spark, quant_dir).collect()


@pytest.mark.parametrize("name", sorted(set(HEADLINE + ROUTE_QUERIES)))
def test_hit_after_a_run_matches_the_oracle(name, spark, sf_dir, duck):
    """A hit served after the miss's Dataset has run (its plan executed,
    its persists filled) is still bit-exact against the oracle."""
    from tests.oracle import compare

    q = QUERIES[name]
    q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    hits = caching.memo_stats()["plan_hits"]
    df = q.spark(spark, sf_dir)
    assert caching.memo_stats()["plan_hits"] == hits + 1
    errors = compare(df, duck, q.oracle, strict=True)
    assert not errors, f"{name}: " + "; ".join(errors)


def test_module_function_builds_every_call(spark, quant_dir):
    q = QUERIES["embedding_quantize_int8"]
    fn = S.embedding_quantize_int8
    assert q.spark.__wrapped__ is fn
    assert (q.spark.__module__, q.spark.__name__) == (fn.__module__, fn.__name__)
    before = caching.memo_stats()
    for i in range(2):
        _, jobs = _jobs_in_group(
            spark, f"plan-memo-raw-{i}", lambda: fn(spark, quant_dir)
        )
        assert jobs, f"module call {i} ran no build job"
    after = caching.memo_stats()
    assert (after["plan_hits"], after["plan_misses"]) == (
        before["plan_hits"], before["plan_misses"]
    )


def test_calls_get_new_datasets_over_one_plan(spark, sf_dir):
    q = QUERIES["scan_count_only"]
    a, b = q.spark(spark, sf_dir), q.spark(spark, sf_dir)
    assert a is not b and a._jdf is not b._jdf
    ident = spark._jvm.java.lang.System.identityHashCode
    assert ident(a._jdf) != ident(b._jdf)
    assert ident(a._jdf.queryExecution()) != ident(b._jdf.queryExecution())
    assert a._jdf.logicalPlan().equals(b._jdf.logicalPlan())
    assert a.collect() == b.collect()


def test_hits_leave_the_stored_plan_untagged(spark, sf_dir, tmp_path):
    """Each Dataset adds its id to a set tagged on its plan's root (the
    ambiguous self-join check).  Hits put theirs on a root of their own,
    so the stored plan's set does not grow with a hot query's calls."""
    d = _copy(sf_dir, tmp_path / "sf")
    q = QUERIES["scan_count_only"]
    q.spark(spark, d)
    key = ("scan_count_only", os.path.realpath(d), verify_mode())
    stored = caching._MEMOS[spark].plans[key].jvm
    tag = spark._jvm.org.apache.spark.sql.classic.Dataset.DATASET_ID_TAG()

    def ids() -> int:
        held = stored.getTagValue(tag)
        return held.get().size() if held.isDefined() else 0

    before = ids()
    for _ in range(5):
        q.spark(spark, d).count()
    assert ids() == before


def test_plans_over_the_row_cap_are_not_kept(spark, monkeypatch):
    """A plan's local relations count against ``MEMO_MAX_ROWS``: one
    over the cap is built on every call, and the least recently used
    plans go once the total is over it."""
    from rippled_historical_database_spark.functions.localrel import local_df

    monkeypatch.setattr(caching, "MEMO_MAX_ROWS", 5)
    other = spark.newSession()

    def relation(n):
        return lambda: local_df(other, [(i,) for i in range(n)], "a long")

    before = caching.memo_stats()
    big = caching.memoize_plan(other, "big", 1, relation(6))
    assert caching.memoize_plan(other, "big", 1, relation(6)).collect() == big.collect()
    after = caching.memo_stats()
    assert after["plan_misses"] - before["plan_misses"] == 2
    assert after["plan_oversize"] - before["plan_oversize"] == 2
    assert len(caching._MEMOS[other].plans) == 0

    caching.memoize_plan(other, "a", 1, relation(3))
    caching.memoize_plan(other, "b", 1, relation(2))
    assert list(caching._MEMOS[other].plans) == ["a", "b"]
    caching.memoize_plan(other, "c", 1, relation(1))  # 6 rows: "a" goes
    assert list(caching._MEMOS[other].plans) == ["b", "c"]


def test_verify_mode_is_part_of_the_key(spark, sf_dir, tmp_path, monkeypatch):
    """A build reads the oracle-verify env (a size-dispatched query
    raises under it), so a call in verify mode never hits a plan built
    outside it."""
    from rippled_historical_database_spark.functions.dispatch import VERIFY_ENV

    d = _copy(sf_dir, tmp_path / "sf")
    q = QUERIES["scan_count_only"]
    monkeypatch.delenv(VERIFY_ENV, raising=False)
    q.spark(spark, d)
    misses = caching.memo_stats()["plan_misses"]
    monkeypatch.setenv(VERIFY_ENV, "1")
    q.spark(spark, d)
    assert caching.memo_stats()["plan_misses"] == misses + 1
    q.spark(spark, d)
    monkeypatch.setenv(VERIFY_ENV, "0")
    q.spark(spark, d)
    assert caching.memo_stats()["plan_misses"] == misses + 1


def test_rewriting_an_input_rebuilds(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    d = _copy(sf_dir, tmp_path / "sf")
    q = QUERIES["scan_count_only"]
    full = q.spark(spark, d).collect()
    misses = caching.memo_stats()["plan_misses"]
    assert q.spark(spark, d).collect() == full
    assert caching.memo_stats()["plan_misses"] == misses  # a hit
    events = os.path.join(d, "events.parquet")
    table = pq.read_table(events)
    pq.write_table(table.take(list(range(0, table.num_rows, 2))), events + ".tmp")
    os.replace(events + ".tmp", events)
    half = q.spark(spark, d).collect()
    assert caching.memo_stats()["plan_misses"] == misses + 1
    assert half == scan.scan_count_only(spark, d).collect()
    assert half[0]["n"] < full[0]["n"]


def test_memo_is_per_session_and_held_weakly(spark, sf_dir, tmp_path):
    d = _copy(sf_dir, tmp_path / "sf")
    q = QUERIES["scan_count_only"]
    want = q.spark(spark, d).collect()
    other = spark.newSession()
    misses = caching.memo_stats()["plan_misses"]
    df = q.spark(other, d)
    assert caching.memo_stats()["plan_misses"] == misses + 1
    assert df.sparkSession is other
    assert df.collect() == want
    plans = caching.memo_stats()["plans"]
    del df, other
    # pyspark keeps the newest session reachable (RDD.toDF, the active
    # session): point both elsewhere before collecting.
    spark.newSession()
    spark.createDataFrame([(1,)], "a int")
    gc.collect()
    assert caching.memo_stats()["plans"] < plans


def test_least_recently_used_plan_is_evicted(spark, sf_dir, tmp_path, monkeypatch):
    d = _copy(sf_dir, tmp_path / "sf")
    monkeypatch.setattr(caching, "PLAN_MEMO_ENTRIES", 2)
    first, second, third = (
        QUERIES[n] for n in ("scan_count_only", "scan_time_range", "scan_point_lookup")
    )
    first.spark(spark, d)
    second.spark(spark, d)
    first.spark(spark, d)  # a hit: second is now the least recently used
    misses = caching.memo_stats()["plan_misses"]
    third.spark(spark, d)  # evicts second
    first.spark(spark, d)
    assert caching.memo_stats()["plan_misses"] == misses + 1
    second.spark(spark, d)
    assert caching.memo_stats()["plan_misses"] == misses + 2


def test_concurrent_callers_get_identical_rows(spark, sf_dir, tmp_path):
    """More threads than the 4 cores the tests assume build one query on
    one session, first calls racing (several may miss): every caller
    gets the same rows, and each call counts as exactly one hit or miss."""
    d = _copy(sf_dir, tmp_path / "sf")
    q = QUERIES["agg_candles_hourly"]
    callers = 8
    out: dict[int, list] = {}
    errors: list = []
    before = caching.memo_stats()

    def client(i):
        try:
            out[i] = q.spark(spark, d).collect()
        except Exception as exc:  # noqa: BLE001 -- reported below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(i,)) for i in range(callers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    after = caching.memo_stats()
    calls = (after["plan_hits"] - before["plan_hits"]) + (
        after["plan_misses"] - before["plan_misses"]
    )
    assert calls == callers
    assert out[0]
    assert all(out[i] == out[0] for i in range(callers))


def test_call_site_capture_is_off(spark, monkeypatch):
    """get_spark turns off PySpark's per-call Python call-site capture,
    a py4j-heavy cost of every F.col/F.lit in a build.  The flag is
    cached process-wide on first use: recompute it for this session."""
    from pyspark.errors import utils

    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert utils.is_debugging_enabled() is False
