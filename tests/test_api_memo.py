"""The rollup memo of plans.api: every route that reads a registry query
(``_q``) or the nested metric rollup is served from a driver-local
relation computed once per (session, query, sf_dir, data version).

A hit must return exactly the rows a fresh registry build returns, run
no Spark job, and never outlive a rewrite of its input files."""

from __future__ import annotations

import os
import shutil
import sys
import threading

import pytest

from rippled_historical_database_spark.functions import caching
from rippled_historical_database_spark.plans import api

# (route label, call) for every route whose rows come from the memo.
ROUTES = {
    "active_accounts": lambda s, d: api.get_active_accounts(s, d, "purchase"),
    "exchange_rate": lambda s, d: api.get_exchange_rate(s, d, "click"),
    "normalize": lambda s, d: api.normalize(s, d, 12.5, "view"),
    "metric_live": lambda s, d: api.get_metric(s, d, "exchange_volume", live="1day"),
    "metric": lambda s, d: api.get_metric(s, d, "payment_volume"),
    "network_fees_ledger": lambda s, d: api.get_network_fees(s, d, "ledger"),
    "network_fees_day": lambda s, d: api.get_network_fees(s, d, "day"),
    "fee_stats": lambda s, d: api.get_fee_stats(s, d),
    "top_markets": lambda s, d: api.get_top_markets(s, d),
    "validator_reports": lambda s, d: api.get_validator_reports(s, d),
    "validator_reports_one": lambda s, d: api.get_validator_reports(s, d, 3),
    "manifests": lambda s, d: api.get_manifests(s, d, "nHU3"),
    "topology_nodes": lambda s, d: api.get_topology_nodes(s, d),
    "topology_links": lambda s, d: api.get_topology_links(s, d),
    "account_escrows": lambda s, d: api.get_account_escrows(s, d, 3),
}

# Routes that return the memoized relation itself or a filter/projection
# of it: their whole plan folds to a LocalTableScan read on the driver.
LOCAL_ROUTES = [
    "active_accounts", "exchange_rate", "normalize", "metric_live", "metric",
    "network_fees_day", "fee_stats", "validator_reports_one",
    "topology_nodes", "topology_links",
]


def _fresh(monkeypatch, call, spark, sf_dir):
    """The route's rows with both memos bypassed: a fresh registry build."""
    with monkeypatch.context() as m:
        m.setattr(api, "_rollup", lambda spark, sf_dir, name, build: build())
        m.setattr(caching, "memoize_plan", lambda spark, key, version, build: build())
        page = call(spark, sf_dir)
        return page.df.schema, page.df.collect()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _copy(src: str, dst) -> str:
    """A writable copy of a test-data directory (the inputs are read-only)."""
    os.makedirs(dst)
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    return str(dst)


@pytest.mark.parametrize("route", sorted(ROUTES))
def test_hit_matches_a_fresh_registry_build(spark, sf_dir, monkeypatch, route):
    call = ROUTES[route]
    call(spark, sf_dir).df.collect()  # fill the memo
    hits = caching.memo_stats()["hits"]
    page = call(spark, sf_dir)
    assert caching.memo_stats()["hits"] == hits + 1
    rows = page.df.collect()
    schema, fresh = _fresh(monkeypatch, call, spark, sf_dir)
    assert page.df.schema == schema
    assert sorted(map(repr, rows)) == sorted(map(repr, fresh))


@pytest.mark.parametrize("route", LOCAL_ROUTES)
def test_hit_runs_no_spark_job(spark, sf_dir, route):
    """Checked with a job group: a hit's route call plus its collect
    schedule nothing, and its plan is a driver-side LocalTableScan.  The
    same group does see the jobs of a miss, so the probe can fail."""
    sc = spark.sparkContext
    call = ROUTES[route]
    group = f"memo-hit-{route}"
    try:
        sc.setJobGroup(f"memo-miss-{route}", "memo miss")
        call(spark, sf_dir).df.collect()
        sc.setJobGroup(group, "memo hit")
        page = call(spark, sf_dir)
        page.df.collect()
        assert "LocalTableScan" in _plan(page.df).splitlines()[0], _plan(page.df)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_miss_is_visible_to_the_job_group(spark, sf_dir, tmp_path):
    sc = spark.sparkContext
    fresh_dir = _copy(sf_dir, tmp_path / "sf")
    try:
        sc.setJobGroup("memo-miss-probe", "memo miss")
        api.get_fee_stats(spark, fresh_dir).df.collect()
        assert list(sc.statusTracker().getJobIdsForGroup("memo-miss-probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_metric_components_array_stays_local(spark, sf_dir):
    """The non-live metric route keeps its ARRAY<STRUCT> components
    column through the memo as a LocalTableScan."""
    api.get_metric(spark, sf_dir, "issued_value").df.collect()
    df = api.get_metric(spark, sf_dir, "issued_value").df
    assert df.schema["components"].dataType.simpleString().startswith("array<struct<")
    assert "LocalTableScan" in _plan(df).splitlines()[0], _plan(df)


def test_rewriting_an_input_changes_the_next_result(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    d = _copy(sf_dir, tmp_path / "sf")

    def totals():
        return sum(r["count"] for r in api.get_metric(spark, d, "exchange_volume").df.collect())

    full = totals()
    assert totals() == full  # a hit
    events = os.path.join(d, "events.parquet")
    table = pq.read_table(events)
    pq.write_table(table.slice(0, table.num_rows // 2), events + ".tmp")
    os.replace(events + ".tmp", events)
    misses = caching.memo_stats()["misses"]
    half = totals()
    assert caching.memo_stats()["misses"] == misses + 1
    assert half == table.num_rows // 2 < full
    assert totals() == half


def test_concurrent_callers_get_identical_rows(spark, sf_dir, tmp_path):
    """More threads than cores call one route on one session, first calls
    racing (several may miss): every caller gets the same rows, and each
    call is counted as exactly one hit or miss."""
    d = _copy(sf_dir, tmp_path / "sf")
    callers = 2 * (os.cpu_count() or 4)
    out: dict[int, list] = {}
    errors: list = []
    before = caching.memo_stats()

    def client(i):
        try:
            out[i] = api.get_fee_stats(spark, d).df.collect()
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
    assert (after["hits"] - before["hits"]) + (after["misses"] - before["misses"]) == callers
    assert out[0]
    assert all(out[i] == out[0] for i in range(callers))
    assert api.get_fee_stats(spark, d).df.collect() == out[0]


def test_oversize_result_is_served_lazily_and_counted(spark, sf_dir, tmp_path, monkeypatch):
    d = _copy(sf_dir, tmp_path / "sf")
    expected = api.get_fee_stats(spark, sf_dir).df.collect()
    monkeypatch.setattr(caching, "MEMO_MAX_ROWS", len(expected) - 1)
    before = caching.memo_stats()
    first = api.get_fee_stats(spark, d).df
    assert "LocalTableScan" not in _plan(first)
    assert first.collect() == expected
    second = api.get_fee_stats(spark, d).df
    assert "LocalTableScan" not in _plan(second)
    after = caching.memo_stats()
    assert after["oversize"] == before["oversize"] + 2
    assert after["misses"] == before["misses"] + 1  # collected once only
    assert after["hits"] == before["hits"]


def test_least_recently_used_entry_is_evicted(spark, sf_dir, tmp_path, monkeypatch):
    d = _copy(sf_dir, tmp_path / "sf")
    # Both routes return their whole memo entry, so len() is its size.
    live = lambda: api.get_metric(spark, d, "exchange_volume", live="1day").df.collect()  # noqa: E731
    nodes = lambda: api.get_topology_nodes(spark, d).df.collect()  # noqa: E731
    monkeypatch.setattr(caching, "MEMO_MAX_ROWS", len(live()) + len(nodes()))
    live()  # a hit: nodes is now the least recently used entry
    d2 = _copy(sf_dir, tmp_path / "sf2")
    api.get_metric(spark, d2, "exchange_volume", live="1day").df.collect()  # evicts nodes
    misses = caching.memo_stats()["misses"]
    live()
    assert caching.memo_stats()["misses"] == misses
    nodes()
    assert caching.memo_stats()["misses"] == misses + 1


def test_memo_is_per_session_and_held_weakly(spark, sf_dir):
    """Another session misses where this one hits, and its entries go
    when the session object does (the stored relations must not keep
    their session alive)."""
    import gc

    api.get_fee_stats(spark, sf_dir).df.collect()
    other = spark.newSession()
    misses = caching.memo_stats()["misses"]
    df = api.get_fee_stats(other, sf_dir).df
    assert caching.memo_stats()["misses"] == misses + 1
    assert df.sparkSession is other
    rows = caching.memo_stats()["rows"]
    del df, other
    # pyspark keeps the newest session reachable (RDD.toDF, the active
    # session): point both elsewhere before collecting.
    spark.newSession()
    spark.createDataFrame([(1,)], "a int")
    gc.collect()
    assert caching.memo_stats()["rows"] < rows
