"""Round-10 laws: the sketch-served decile drift (plan shape + bin-width
error bound + size dispatch), the streaming Ichimoku twin, and the
global-ordering helpers (two-pass row numbers / prefix sums) that
remove the last unbounded single-task Window sorts."""

from __future__ import annotations

import re

import pytest

from rippled_historical_database_spark.plans.registry import all_queries


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _window_has_aggregated_input(plan: str) -> bool:
    """True iff every Window's input relation is aggregate output, not
    raw scan rows.  Tree strings print a node's subtree directly below
    it with the primary input branch first, so the FIRST HashAggregate
    / FileScan encountered after a Window line is what that window
    actually ranks over: a FileScan first means the window sorts raw
    rows -- the 2-partition global-rank shape this test forbids.
    (A mere HashAggregate-anywhere-below check is vacuous: the
    broadcast MIN(ts) cut subtree puts an aggregate below every plan.)"""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window" not in ln:
            continue
        for nxt in lines[i + 1:]:
            if "HashAggregate" in nxt:
                break  # window input is the bounded aggregated relation
            if "Scan parquet" in nxt:
                return False  # window ranks raw scan rows
    return True


def test_drift_sketch_plan_has_no_raw_row_rank(spark, sf_dir, qs):
    """The sketch-served form must aggregate raw events down to
    (half, bin) counts BEFORE any Window runs: its windows operate on
    the bounded bin relation only, and no row_number appears at all."""
    df = qs["profile_quantile_drift_sketch"].spark(spark, sf_dir)
    plan = _executed_plan(df)
    assert "row_number" not in plan.lower(), plan
    assert _window_has_aggregated_input(plan), (
        "a Window reads raw scan output (2-partition global-rank "
        "shape):\n" + plan
    )


def test_drift_exact_plan_fails_the_same_assertion(spark, sf_dir):
    """Negative control: the exact-rank form (the small-input oracle)
    IS the raw-row-rank shape, so the discriminator must reject it --
    proving the sketch-plan test above can actually fail."""
    from rippled_historical_database_spark.operators.profiling import (
        quantile_drift_exact_plan,
    )

    plan = _executed_plan(quantile_drift_exact_plan(spark, sf_dir))
    assert "row_number" in plan.lower()
    assert not _window_has_aggregated_input(plan)


def test_drift_dispatch_serves_sketch_above_threshold(
    spark, sf_dir, qs, monkeypatch
):
    """profile_quantile_drift switches to the histogram form above
    DRIFT_EXACT_MAX_ROWS: force the threshold to 0 and the served rows
    must equal profile_quantile_drift_sketch exactly."""
    from rippled_historical_database_spark.operators import profiling

    monkeypatch.setattr(profiling, "DRIFT_EXACT_MAX_ROWS", 0)
    served = profiling.profile_quantile_drift(spark, sf_dir)
    plan = _executed_plan(served)
    assert "row_number" not in plan.lower()
    got = sorted(map(tuple, served.collect()))
    want = sorted(
        map(
            tuple,
            qs["profile_quantile_drift_sketch"].spark(spark, sf_dir).collect(),
        )
    )
    assert got == want


def test_stream_ichimoku_equals_batch(spark, sf_dir, qs):
    """The stateful replay (52-bar ring + 26-deep displacement queues
    per pair) must reproduce window_ichimoku row-for-row, including the
    NULL chikou tail and the bar-78 warmup cut."""
    batch = sorted(
        map(tuple, qs["window_ichimoku"].spark(spark, sf_dir).collect())
    )
    streamed = sorted(
        map(tuple, qs["stream_ichimoku"].spark(spark, sf_dir).collect())
    )
    assert batch, "empty ichimoku batch result -- fixture too short"
    assert streamed == batch


def test_stream_ichimoku_state_is_bounded(spark, sf_dir):
    """Replaying twice as many bars must not grow the per-pair state:
    ring capped at ICHI_S, queues at ICHI_K (the boundedness claim)."""
    from rippled_historical_database_spark.operators.candles import (
        ICHI_K,
        ICHI_S,
    )
    from rippled_historical_database_spark.streaming.rsi_stream import (
        _update_ichimoku,
    )

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    import pandas as pd

    bars = pd.DataFrame(
        {
            "bucket": pd.date_range("2024-01-01", periods=500, freq="h"),
            "high": [100.0 + (i % 7) for i in range(500)],
            "low": [99.0 - (i % 5) for i in range(500)],
            "close": [99.5 + (i % 3) for i in range(500)],
        }
    )
    st = FakeState()
    list(_update_ichimoku(("P",), iter([bars]), st))
    n, highs, lows, pend_a, pend_b = st.value
    assert n == 500
    assert len(highs) == len(lows) == ICHI_S
    assert len(pend_a) == len(pend_b) == ICHI_K


def test_drift_sketch_within_one_bin_of_exact(spark, sf_dir, qs):
    """Error bound: each sketch decile is the lower edge of the bin
    holding the exact decile, so 0 <= exact - sketch <= DRIFT_BIN_W."""
    from rippled_historical_database_spark.operators.profiling import (
        DRIFT_BIN_W,
    )

    exact = {
        r["decile"]: r
        for r in qs["profile_quantile_drift"].spark(spark, sf_dir).collect()
    }
    sk = {
        r["decile"]: r
        for r in qs["profile_quantile_drift_sketch"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(exact) == set(sk) == set(range(1, 10))
    for d in range(1, 10):
        for c in ("v_early", "v_late"):
            gap = exact[d][c] - sk[d][c]
            assert 0 <= gap <= DRIFT_BIN_W, (d, c, exact[d][c], sk[d][c])


# ------------------------- global ordering (functions/ordering.py) --


_BOUNDING_NODES = ("HashAggregate", "TakeOrderedAndProject", "GlobalLimit")


def _unbounded_global_sort_windows(plan: str) -> list[str]:
    """Lines whose Window is UNPARTITIONED (its windowspecdefinition
    leads with a sort spec, not a partition column) and whose input is
    raw scan rows (no aggregate / top-K cut between the window and the
    first parquet scan below it).  Those are the one-task global sorts
    this round eliminates; partitioned windows and bounded-artifact
    windows (offsets over per-partition totals, ranks over a LIMIT K
    cut) pass."""
    lines = plan.splitlines()
    offending = []
    for i, ln in enumerate(lines):
        specs = re.findall(r"windowspecdefinition\(([^,)]+)[,)]", ln)
        if not specs:
            continue
        unpartitioned = any(" ASC" in s or " DESC" in s for s in specs)
        if not unpartitioned:
            continue
        for nxt in lines[i + 1:]:
            if any(b in nxt for b in _BOUNDING_NODES):
                break  # bounded input: aggregate output or a top-K cut
            if "Scan parquet" in nxt or "Scan ExistingRDD" in nxt:
                offending.append(ln.strip()[:200])
                break
    return offending


@pytest.mark.parametrize(
    "name",
    [
        "graph_pagerank",
        "text_heaps_law",
        "text_zipf_slope",
        "dedup_sorted_neighborhood_pairs",
        "dedup_sn_multikey_pairs",
    ],
)
def test_no_unbounded_one_task_sort(spark, sf_dir, qs, name):
    """The formerly global-window serving paths (+ the new sorted-
    neighborhood consumer of the helper): every
    unpartitioned Window in the plan must rank/sum a bounded artifact
    (per-partition totals, a top-K cut), never raw table rows."""
    plan = _executed_plan(qs[name].spark(spark, sf_dir))
    bad = _unbounded_global_sort_windows(plan)
    assert not bad, f"one-task global sort in {name}: {bad}"


def test_unbounded_sort_discriminator_can_fail(spark, sf_dir):
    """Negative control: a raw unpartitioned rank over the documents
    scan IS the shape the discriminator forbids."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rippled_historical_database_spark.sources.catalog import (
        load_table,
    )

    d = load_table(spark, sf_dir, "documents")
    naive = d.select(
        "doc_id", F.row_number().over(Window.orderBy("doc_id")).alias("r")
    )
    assert _unbounded_global_sort_windows(_executed_plan(naive))


def _nullable_skewed(spark):
    """400 rows: 90% of ``k`` on one value, every fifth ``t`` null, a
    unique ``uid`` -- the hot-lead, nullable-tie-break shape."""
    from pyspark.sql import functions as F

    return (
        spark.range(400)
        .select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 5)
            .alias("k"),
            F.when(F.col("id") % 5 == 0, F.lit(None))
            .otherwise((F.col("id") * 37) % 11)
            .alias("t"),
            F.col("id").alias("uid"),
        )
        .repartition(7)
    )


# Total orders the equality laws cover: ascending and descending leads,
# nullable ascending and descending tie-breaks (Spark's default null
# order: first when ascending, last when descending), nullable leads.
_LAW_ORDERS = [
    ["k", "uid"],
    [("k", "desc"), "uid"],
    ["k", "t", "uid"],
    ["k", ("t", "desc"), "uid"],
    [("k", "desc"), ("t", "desc"), "uid"],
    [("t", "desc"), "uid"],
    ["t", ("uid", "desc")],
]


def _sort_cols(order):
    from pyspark.sql import functions as F

    return [
        F.col(o[0]).desc() if isinstance(o, tuple) else F.col(o).asc()
        for o in order
    ]


def test_global_row_number_matches_naive_window(spark):
    """Equality law: the two-pass numbering == the single-task window
    on skewed data with a nullable tie-break, for every order in
    _LAW_ORDERS, under a bucket count that forces non-trivial
    offsets."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rippled_historical_database_spark.functions.ordering import (
        global_row_number,
    )

    df = _nullable_skewed(spark)
    for order in _LAW_ORDERS:
        naive = df.select(
            "uid",
            F.row_number()
            .over(Window.orderBy(*_sort_cols(order)))
            .cast("bigint")
            .alias("rn"),
        )
        fast = global_row_number(df, order, "rn", num_buckets=6).select(
            "uid", "rn"
        )
        assert sorted(fast.collect()) == sorted(naive.collect()), order


def test_global_row_number_shards_a_hot_key(spark):
    """With 90% of rows on ONE leading value, the (lead, tie-break)
    boundary tuples must (a) still number exactly and (b) spread the
    hot key across >1 bucket -- for a hot string lead and for a hot
    numeric descending lead."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rippled_historical_database_spark.functions.ordering import (
        _with_bucket,
        global_row_number,
    )

    hot = F.col("id") % 10 < 9
    df = (
        spark.range(3000)
        .select(
            F.when(hot, F.lit("HOT"))
            .otherwise((F.col("id") % 7).cast("string"))
            .alias("s"),
            F.when(hot, F.lit(0.0001))
            .otherwise((F.col("id") % 7) / 10)
            .alias("x"),
            F.col("id").alias("uid"),
        )
        .repartition(13)
    )
    for order, is_hot in (
        (["s", "uid"], F.col("s") == "HOT"),
        ([("x", "desc"), "uid"], F.col("x") == 0.0001),
    ):
        naive = df.select(
            "uid",
            F.row_number()
            .over(Window.orderBy(*_sort_cols(order)))
            .cast("bigint")
            .alias("rn"),
        )
        fast = global_row_number(df, order, "rn", num_buckets=8).select(
            "uid", "rn"
        )
        assert sorted(fast.collect()) == sorted(naive.collect()), order
        bucketed, _ = _with_bucket(df, order, 8)
        hot_buckets = (
            bucketed.filter(is_hot).select("__gord_bucket").distinct().count()
        )
        assert hot_buckets > 1, f"hot key serialized into one bucket: {order}"


def test_graph_pagerank_rank_pos_buckets_are_balanced(spark, sf_dir, qs):
    """Most PageRank scores tie on the teleport floor (135 of 150 nodes
    at sf0.01), so bucketing on the score alone puts every node into
    one bucket -- the one-task sort the helper exists to avoid.
    rank_pos's (pagerank DESC, node) order must spread its nodes: no
    bucket holds more than half.  Runs at sf0.01: at sf0.001 the graph
    has 15 nodes and no tie group, so the check would be vacuous."""
    import os

    from rippled_historical_database_spark.functions.ordering import (
        _with_bucket,
    )

    scale_dir = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(scale_dir):
        pytest.skip(f"needs the sf0.01 test data next to {sf_dir}")
    ranks = qs["graph_pagerank"].spark(spark, scale_dir)
    bucketed, _ = _with_bucket(ranks, [("pagerank", "desc"), "node"], 4)
    sizes = [
        r["count"] for r in bucketed.groupBy("__gord_bucket").count().collect()
    ]
    assert max(sizes) <= sum(sizes) / 2, sizes


def test_global_running_sums_match_naive_window(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rippled_historical_database_spark.functions.ordering import (
        global_running_sums,
    )

    df = _nullable_skewed(spark).select(
        "*", (F.col("uid") % 11).alias("a"), (F.col("uid") % 5).alias("b")
    )
    for order in _LAW_ORDERS:
        w = Window.orderBy(*_sort_cols(order)).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        naive = df.select(
            "uid",
            F.sum("a").over(w).alias("ca"),
            F.sum("b").over(w).alias("cb"),
        )
        fast = global_running_sums(
            df,
            order,
            {"ca": F.col("a"), "cb": F.col("b")},
            num_buckets=6,
        ).select("uid", "ca", "cb")
        assert sorted(fast.collect()) == sorted(naive.collect()), order


# ------------------------------ sorted-neighborhood dedup laws --


def test_sorted_neighborhood_pairs_respect_window_and_threshold(
    spark, sf_dir, qs
):
    """Every emitted pair must be (a) within SN_WINDOW-1 positions in
    the (sn_key, doc_id) sort order -- recomputed naively driver-side
    -- with doc_a the predecessor, and (b) at or above the Jaccard
    threshold with a score in [0, 1]."""
    from pyspark.sql import functions as F

    from rippled_historical_database_spark.operators.dedup import (
        SN_KEY_LEN,
        SN_THRESHOLD,
        SN_WINDOW,
        _tokens,
    )
    from rippled_historical_database_spark.sources.catalog import load_table

    pairs = qs["dedup_sorted_neighborhood_pairs"].spark(spark, sf_dir)
    rows = pairs.collect()
    assert rows, "fixture produced no neighborhood pairs"

    key = F.substring(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "),
        1,
        SN_KEY_LEN,
    )
    order = sorted(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", key.alias("k"))
        .collect(),
        key=lambda r: (r.k, r.doc_id),
    )
    pos = {r.doc_id: i for i, r in enumerate(order)}
    for r in rows:
        gap = pos[r.doc_b] - pos[r.doc_a]
        assert 1 <= gap <= SN_WINDOW - 1, (r.doc_a, r.doc_b, gap)
        assert SN_THRESHOLD <= r.jaccard <= 1.0, r


def test_sorted_neighborhood_candidate_budget_is_linear(
    spark, sf_dir, qs, monkeypatch
):
    """The blocking law that distinguishes sorted neighborhood from
    equal-key blocking: candidates BEFORE the similarity filter number
    at most (W-1) * N no matter how skewed the key distribution is."""
    from rippled_historical_database_spark.operators import dedup
    from rippled_historical_database_spark.operators.dedup import SN_WINDOW
    from rippled_historical_database_spark.sources.catalog import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    # Re-run with the threshold disabled to count raw candidates.
    monkeypatch.setattr(dedup, "SN_THRESHOLD", -1.0)
    raw = dedup.dedup_sorted_neighborhood_pairs(spark, sf_dir).count()
    assert raw <= (SN_WINDOW - 1) * n_docs
    # and the tail misses exactly the boundary deficit: for each
    # offset i in 1..W-1 the last i rows have no successor, so
    # raw = sum_i (N - i) = (W-1)*N - W*(W-1)/2.
    deficit = SN_WINDOW * (SN_WINDOW - 1) // 2
    assert raw == (SN_WINDOW - 1) * n_docs - deficit


def test_sorted_neighborhood_no_cartesian(spark, sf_dir, qs):
    plan = _executed_plan(
        qs["dedup_sorted_neighborhood_pairs"].spark(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan


# ------------------------------ layout size dispatch --


@pytest.mark.parametrize(
    "name,key", [("layout_zorder_key", "zkey"), ("layout_hilbert_key", "hkey")]
)
def test_layout_dispatch_serves_boundary_artifact_above_threshold(
    spark, sf_dir, qs, monkeypatch, name, key
):
    """Above LAYOUT_EXACT_MAX_ROWS the registered layout queries must
    serve the train-once boundary-artifact form: no NTILE, no one-task
    sort anywhere in the plan, one key row per event within the grid
    range."""
    from pyspark.sql import functions as F

    from rippled_historical_database_spark.operators import layout
    from rippled_historical_database_spark.sources.catalog import load_table

    monkeypatch.setattr(layout, "LAYOUT_EXACT_MAX_ROWS", 0)
    served = getattr(layout, name)(spark, sf_dir)
    plan = _executed_plan(served)
    assert "ntile" not in plan.lower(), plan
    assert not _unbounded_global_sort_windows(plan), plan
    n_events = load_table(spark, sf_dir, "events").count()
    stats = served.agg(
        F.count("*").alias("n"),
        F.min(key).alias("lo"),
        F.max(key).alias("hi"),
    ).collect()[0]
    assert stats.n == n_events
    assert 0 <= stats.lo <= stats.hi < layout.M * layout.M


@pytest.mark.parametrize("name", ["layout_zorder_key", "layout_hilbert_key"])
def test_layout_exact_form_below_threshold_keeps_oracle_shape(
    spark, sf_dir, qs, name
):
    """Below the cut the served plan IS the exact-NTILE oracle form --
    the negative control proving the dispatch test can discriminate."""
    plan = _executed_plan(qs[name].spark(spark, sf_dir))
    assert "ntile" in plan.lower(), plan


def test_sn_multikey_second_pass_adds_recall(spark, sf_dir, qs):
    """The reason the method is multi-pass: pairs proposed ONLY by the
    suffix order must exist (prefix-blind near-dups), every pair must
    carry at least one proposing pass, and scores respect the
    threshold."""
    from rippled_historical_database_spark.operators.dedup import (
        SN_THRESHOLD,
    )

    rows = qs["dedup_sn_multikey_pairs"].spark(spark, sf_dir).collect()
    assert rows
    assert all(r.via_prefix or r.via_suffix for r in rows)
    assert any(r.via_suffix and not r.via_prefix for r in rows), (
        "suffix pass proposed nothing the prefix pass missed -- "
        "multi-key adds no recall on this fixture"
    )
    assert all(SN_THRESHOLD <= r.jaccard <= 1.0 for r in rows)
    assert all(r.doc_lo < r.doc_hi for r in rows)


def test_sn_multikey_superset_of_single_pass(spark, sf_dir, qs):
    """Canonicalized single-pass survivors must all appear in the
    multi-key result with via_prefix set (the union can only add)."""
    single = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
        for r in qs["dedup_sorted_neighborhood_pairs"]
        .spark(spark, sf_dir)
        .collect()
    }
    multi = {
        (r.doc_lo, r.doc_hi): r
        for r in qs["dedup_sn_multikey_pairs"].spark(spark, sf_dir).collect()
    }
    missing = [p for p in single if p not in multi]
    assert not missing, missing[:5]
    assert all(multi[p].via_prefix for p in single)


def test_size_dispatch_guard_raises_under_verify_env(monkeypatch):
    """r10 ADVICE (layout.py:118): a verification run over a dataset
    above a dual-form query's dispatch threshold must fail LOUDLY as a
    harness-config error, not silently serve the oracle-unpinned scale
    form.  serve_exact logs the served form and raises only when the
    harness env is set."""
    import pytest as _pytest

    from rippled_historical_database_spark.functions.dispatch import (
        serve_exact,
    )

    monkeypatch.delenv("SPARK_GRAFT_ORACLE_VERIFY", raising=False)
    assert serve_exact("q", 10, 100) is True
    assert serve_exact("q", 1000, 100) is False  # scale form, no raise

    monkeypatch.setenv("SPARK_GRAFT_ORACLE_VERIFY", "1")
    assert serve_exact("q", 10, 100) is True
    with _pytest.raises(RuntimeError, match="dispatch threshold"):
        serve_exact("q", 1000, 100)
