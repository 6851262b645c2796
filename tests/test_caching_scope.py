"""Round-15 persist-scope probe (VERDICT r14 item 6): registered query
paths persist intermediates through functions/caching.scoped_persist,
which bounds a long-lived session's CacheManager footprint instead of
accumulating one entry per distinct persisted plan forever."""

from __future__ import annotations

import pytest

from rippled_historical_database_spark.functions import caching


def _storage_used(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_scope_dedupes_and_evicts(spark):
    dfs = [spark.range(0, 10 + i).selectExpr("id * 2 AS v") for i in range(3)]
    before = caching.tracked_count()
    out = [caching.scoped_persist(df) for df in dfs]
    assert caching.tracked_count() == before + 3
    # Re-persisting the same canonicalized plan refreshes, not grows
    # (a NEW DataFrame object for the same plan -- the re-invocation
    # shape every registered query produces on repeat runs).
    again = spark.range(0, 10).selectExpr("id * 2 AS v")
    caching.scoped_persist(again)
    assert caching.tracked_count() == before + 3
    for df in out:
        df.unpersist()
    caching.reset_scope()


def test_session_cache_growth_is_bounded(spark, monkeypatch):
    """The 3-query session probe: with a small budget, running more
    distinct persisted plans than the budget evicts the oldest --
    storage for the oldest plan is actually released."""
    monkeypatch.setattr(caching, "_BUDGET", 4)
    caching.reset_scope()
    handles = []
    for i in range(8):
        df = spark.range(0, 100 + i).selectExpr("id % 7 AS k")
        handles.append(caching.scoped_persist(df))
        df.count()  # materialize so eviction has real blocks to free
    assert caching.tracked_count() == 4
    # oldest evicted (storage released), newest retained
    assert not _storage_used(handles[0])
    assert not _storage_used(handles[3])
    assert _storage_used(handles[-1])
    caching.reset_scope()
    assert caching.tracked_count() == 0


def test_truncate_lineage_local_and_reliable(spark, tmp_path):
    """Default (no checkpoint dir): localCheckpoint shape -- plan is a
    truncated RDD scan.  With a reliable dir configured: checkpoint
    files actually land in the dir, same truncated plan shape."""
    sc = spark.sparkContext
    assert not sc._jsc.sc().getCheckpointDir().isDefined()
    df = spark.range(0, 50).selectExpr("id % 5 AS k")
    local = caching.truncate_lineage(df)
    assert "LogicalRDD" in local._jdf.queryExecution().analyzed().toString()
    try:
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        rel = caching.truncate_lineage(df)
        assert "LogicalRDD" in rel._jdf.queryExecution().analyzed().toString()
        # the checkpoint is lazy: the first action writes its files
        assert local.count() == rel.count() == 50
        ckpt_files = list((tmp_path / "ckpt").rglob("*"))
        assert ckpt_files, "reliable checkpoint wrote nothing"
    finally:
        # restore the harness default (Option(null) clears the dir)
        sc._jsc.sc().setCheckpointDir(None)
    assert not sc._jsc.sc().getCheckpointDir().isDefined()


@pytest.mark.parametrize("qname", ["graph_pagerank", "dedup_ngram_jaccard"])
def test_query_paths_track_their_persists(spark, sf_dir, qname):
    """Running a registered query that persists registers its entries
    in the scope (so a multi-query session stays bounded) and repeat
    runs do not grow the tracker.  Both runs call the module function:
    a ``Query.spark`` repeat is a plan-memo hit that never re-persists."""
    from rippled_historical_database_spark.plans.registry import all_queries

    caching.reset_scope()
    build = all_queries()[qname].spark.__wrapped__
    build(spark, sf_dir).count()
    n1 = caching.tracked_count()
    assert n1 >= 1
    build(spark, sf_dir).count()
    assert caching.tracked_count() == n1
    caching.reset_scope()
