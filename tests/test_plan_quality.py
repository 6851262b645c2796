"""Physical-plan assertions: the optimizations the reference hand-builds
(SURVEY.md section 4) must appear in Catalyst's plans -- predicate
pushdown to parquet, broadcast joins for dimensions, whole-stage codegen.
A plan regression here is a 100-TB performance bug even when results
stay correct.
"""

from __future__ import annotations

from rippled_historical_database_spark.plans.registry import all_queries

QUERIES = all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].spark(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_scan_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scan_time_range")
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    assert "props" not in read_schema, f"unprojected column read: {read_schema}"


def test_dimension_joins_broadcast(spark, sf_dir):
    for name in ("join_index_to_payload", "q3_shipping_priority", "q5_local_volume"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join\n{plan}"


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_accounts_global")
    assert "TakeOrderedAndProject" in plan, plan


def test_aggregations_partial(spark, sf_dir):
    # Map-side partial aggregation (two HashAggregate levels around one
    # exchange) and no SortAggregate: the packed scalar sort key keeps
    # open/close hash-aggregable (see operators/candles.py _sort_key).
    plan = _plan(spark, sf_dir, "agg_candles_hourly")
    assert plan.count("HashAggregate") >= 2, plan
    assert "SortAggregate" not in plan, plan
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_no_cartesian_products(spark, sf_dir):
    # Banded candidate joins must plan as equi-joins, not cross joins.
    for name in (
        "dedup_minhash_lsh_pairs",
        "dedup_simhash_pairs",
        "dedup_ngram_jaccard",
        "ann_lsh_recall",
        "pipeline_near_dup_curation",
        "dedup_semantic_clusters",
        "multimodal_phash_neardup",  # Hamming-LSH band join (r11)
        "dedup_lsh_verified_pairs",  # candidate-then-exact-verify (r11)
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, f"{name} degenerated to cross join"


def test_semi_and_anti_joins_planned(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q4_order_priority")
    assert "LeftSemi" in plan, plan
    plan = _plan(spark, sf_dir, "q22_dormant_customers")
    assert "LeftAnti" in plan, plan


def test_q10_q18_topk_and_broadcast(spark, sf_dir):
    for name in ("q10_returned_items", "q18_large_orders"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, f"{name}: dimension join degenerated to SMJ"


def test_rolling_metric_single_scan(spark, sf_dir):
    # every rolling period computed as conditional aggregates over ONE
    # events scan (the reference scans once per period)
    plan = _plan(spark, sf_dir, "read_live_rolling_metric")
    import re

    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 2, plan  # events + the 1-row anchor aggregate


def test_latest_rate_is_hash_aggregate(spark, sf_dir):
    # max_by over the packed key: hash aggregation, no per-group sort
    plan = _plan(spark, sf_dir, "read_latest_fresh_rate")
    assert "SortAggregate" not in plan, plan
    assert "Window" not in plan, plan


def test_curation_pipeline_shuffle_budget(spark, sf_dir):
    # dedup hash + keeper join alignment + final stats = at most 3
    # exchanges; more means a stage stopped fusing
    plan = _plan(spark, sf_dir, "pipeline_corpus_curation")
    import re

    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n <= 3, plan


def test_new_tpch_shapes_no_sort_aggregate(spark, sf_dir):
    # The decorrelated subquery shapes (q2/q11/q17-style aggregate
    # join-backs, q21 rollup->reduce) must stay hash-aggregable.
    for name in (
        "q2_min_cost_supplier",
        "q9_product_profit",
        "q11_important_parts",
        "q16_supplier_part_counts",
        "q20_excess_inventory_suppliers",
        "q21_waiting_suppliers",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "SortAggregate" not in plan, f"{name} regressed to SortAggregate"


# With auto-broadcast disabled, the only BroadcastHashJoins left in a plan
# are the explicit F.broadcast() hints.  Hints are allowed ONLY on bounded
# sides -- nation (25 rows), region (5), single-row aggregates, post-HAVING
# key sets (q18's `big`).  customer/part/supplier grow linearly with SF and
# a forced broadcast of them is an executor OOM at 100x scale; those joins
# must be left to stats/AQE (which still broadcasts them at small SF --
# covered by test_dimension_joins_broadcast above).
FORCED_BROADCAST_BUDGET = {
    "q2_min_cost_supplier": 4,   # nation, region (x2: the min-cost
                                 # self-join duplicates the sn lineage in
                                 # the static plan; ReusedExchange at run)
    "q3_shipping_priority": 0,
    "q5_local_volume": 2,        # nation, region
    "q7_nation_volume": 2,       # n1, n2
    "q8_market_share": 3,        # n1, region, n2
    "q9_product_profit": 1,      # nation
    "q10_returned_items": 1,     # nation
    "q11_important_parts": 2,    # nation (x2: threshold self-join
                                 # duplicates lineage; 1-row join is BNLJ)
    "q14_promo_revenue": 0,
    "q15_top_supplier": 1,       # 1-row max-revenue aggregate (the
                                 # pushed-down equality makes it a BHJ)
    "q16_supplier_part_counts": 0,
    "q17_small_quantity_revenue": 0,
    "q18_large_orders": 1,       # post-HAVING key set `big`
    "q19_disjunctive_revenue": 0,
    "q20_excess_inventory_suppliers": 1,  # nation
    "q21_waiting_suppliers": 0,
}


def test_no_forced_broadcast_of_scale_growing_tables(spark, sf_dir):
    import re

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, budget in FORCED_BROADCAST_BUDGET.items():
            plan = _plan(spark, sf_dir, name)
            # formatted explain prints each operator twice (tree + detail);
            # count the numbered detail headers only.
            n = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
            assert n == budget, (
                f"{name}: {n} hinted broadcast joins, expected {budget} "
                f"(a hint on a scale-growing table?)\n{plan}"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q16_anti_join_planned(spark, sf_dir):
    # NOT IN over the non-nullable supplier key must plan as a broadcast
    # anti-join, not a nested-loop null-aware join.
    plan = _plan(spark, sf_dir, "q16_supplier_part_counts")
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q20_semi_join_planned(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q20_excess_inventory_suppliers")
    assert "LeftSemi" in plan, plan


def test_q21_lineitem_shuffle_reused(spark, sf_dir):
    # The EXISTS / NOT EXISTS decorrelation reads lineitem ONCE at
    # runtime (the textbook plan scans it three times): the lateness
    # rollup and its per-order reduction both hang off the same l-join-o
    # shuffle, which the static plan duplicates but execution collapses
    # into a ReusedExchange -- so the scan+shuffle cost is paid once.
    df = QUERIES["q21_waiting_suppliers"].spark(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed


def test_q12_date_range_pushed(spark, sf_dir):
    # The single-side ship-date range reaches the parquet scan even
    # though the lateness predicate spans both join sides.
    plan = _plan(spark, sf_dir, "q12_late_shipment_priority")
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_grouping_sets_single_scan_hash_agg(spark, sf_dir):
    # hour+day+week candles in ONE pass: a single events scan feeding
    # Expand -> partial/final HashAggregate; no SortAggregate despite
    # min_by/max_by (the packed scalar sort key again).
    plan = _plan(spark, sf_dir, "agg_candles_grouping_sets")
    import re

    assert len(re.findall(r"Location: InMemoryFileIndex[^\n]*events", plan)) == 1
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1, plan
    assert "SortAggregate" not in plan, plan


def test_projection_ops_zero_shuffle(spark, sf_dir):
    # The per-document text ops are pure projections and must pipeline
    # into the parquet scan stage: no Exchange anywhere in the plan.
    # (orderBy adds a final sort exchange only at the result edge --
    # strip it by checking the plan before the sort for these.)
    import re

    for name in (
        "text_repetition_stats",
        "text_rolling_hash",
        "sample_hash_splits",
    ):
        df = QUERIES[name].spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        exchanges = re.findall(r"\(\d+\) Exchange", plan)
        # The only allowed exchange is the rangepartitioning for the
        # deterministic output ORDER BY (test-harness edge, not the op).
        assert len(exchanges) <= 1, f"{name}: extra shuffles\n{plan}"
        assert "rangepartitioning" in plan or len(exchanges) == 0, (
            f"{name}: non-sort exchange\n{plan}"
        )
        assert "SortAggregate" not in plan, f"{name}\n{plan}"


def test_winnow_sketch_single_scan_per_side(spark, sf_dir):
    # Winnowing reads documents for fingerprints and for sketch sizes;
    # the candidate join must be an equi-join (hash or sort-merge), never
    # a nested-loop/cartesian expansion.
    df = QUERIES["dedup_winnow_pairs"].spark(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hash_expressions_staged_not_inlined(spark, sf_dir):
    # Catalyst inlines (does not CSE) expressions referenced inside
    # array-lambda bodies: if the token split / gram-hash arrays are not
    # staged as materialized columns first, the md5/split chains appear
    # dozens of times in the plan and the op degrades to O(n^2) hashing
    # per document (a 5x wall-clock regression at sf0.1, worse at scale).
    limits = {
        "dedup_winnow_pairs": 8,
        "dedup_simhash": 4,
        "dedup_simhash_pairs": 8,
        "dedup_minhash_lsh_pairs": 24,
        "dedup_ngram_jaccard": 12,
    }
    for name, max_md5 in limits.items():
        df = QUERIES[name].spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert plan.count("md5") <= max_md5, (
            f"{name}: md5 appears {plan.count('md5')}x (> {max_md5}) -- "
            "hash array no longer staged before the lambda"
        )
        assert plan.count("split(") <= 8, f"{name}: token split re-inlined"


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    # The benchmark shingle set must broadcast (it is eval-suite-sized);
    # the 100-TB train side must never shuffle on the shingle key.
    plan = _plan(spark, sf_dir, "pipeline_decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pii_scrub_is_shuffle_free(spark, sf_dir):
    # Pure projection: the scrub must pipeline into the scan stage; the
    # only exchange is the range partitioning of the presentation sort.
    plan = _plan(spark, sf_dir, "text_pii_scrub")
    assert "hashpartitioning" not in plan, plan


def test_shard_order_single_exchange(spark, sf_dir):
    # One hash exchange on the shard key; the rank is a per-shard local
    # sort, never a global sort of the corpus.
    plan = _plan(spark, sf_dir, "sample_shard_order")
    assert plan.count("hashpartitioning") == 1, plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    # Bin-and-refine must plan the candidate join as a hash/SMJ equi-join
    # on the bin key; inequality-only joins degenerate to nested loops.
    plan = _plan(spark, sf_dir, "join_range_interval")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dsir_scoring_pass_broadcasts_ratio_table(spark, sf_dir):
    # The 64-row bucket log-ratio table must broadcast back onto the
    # token stream; the per-doc scoring agg is the only doc-keyed
    # shuffle.  The 1-row totals side may plan as a broadcast loop join.
    plan = _plan(spark, sf_dir, "sample_dsir_weights")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pagerank_no_cartesian_and_reuses_edge_shuffle(spark, sf_dir):
    # 3 unrolled iterations: the rank-side join must stay an equi-join
    # (never a nested loop over edges), and AQE must reuse the identical
    # edge-side exchanges instead of re-shuffling edges per iteration.
    q = QUERIES["graph_pagerank"].spark(spark, sf_dir)
    pre = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in pre, pre
    q.collect()
    final = q._jdf.queryExecution().executedPlan().toString()
    # r14: the iteration-invariant base relations are persisted, so the
    # per-iteration reads come from the cache (InMemoryTableScan) --
    # accepted alongside the pre-r14 ReusedExchange mechanism, either
    # of which proves edges are not re-computed per iteration.
    assert "ReusedExchange" in final or "InMemoryTableScan" in final, (
        "edge relation re-computed per iteration"
    )


def test_whiten_broadcasts_stats_single_pass(spark, sf_dir):
    # 64-row per-dimension stats broadcast onto the flattened vectors;
    # exactly two hash shuffles (dim agg + per-vector re-agg).
    plan = _plan(spark, sf_dir, "embedding_whiten")
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("hashpartitioning") == 2, plan


def test_tfidf_no_forced_broadcast_no_cartesian(spark, sf_dir):
    # The df side is vocabulary-sized (unbounded on a web corpus), so
    # the term join must NOT carry a forced broadcast hint -- Spark/AQE
    # picks broadcast at small scale and shuffle at vocabulary scale.
    plan = _plan(spark, sf_dir, "text_tfidf_topterms")
    assert "CartesianProduct" not in plan, plan
    from rippled_historical_database_spark.plans.registry import all_queries

    opt = (
        all_queries()["text_tfidf_topterms"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # Exactly one hint: the 1-row N relation.  A second would be df.
    assert opt.count("JOIN_BROADCAST") <= 1, opt


def test_kmeans_assignment_is_zero_shuffle(spark, sf_dir):
    # Centroids are driver-held constants, so the registered query's
    # plan (the final assignment) must be a pure projection off the
    # scan: no hash exchange, no join at all -- the only exchange is
    # the presentation sort.
    plan = _plan(spark, sf_dir, "cluster_kmeans")
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_weighted_sampling_is_takeordered_not_global_sort(spark, sf_dir):
    # Bounded-K selection must plan as TakeOrderedAndProject
    # (per-partition top-k + merge), never a full Sort of the corpus.
    plan = _plan(spark, sf_dir, "sample_weighted_priority")
    assert "TakeOrderedAndProject" in plan, plan


def test_triangle_count_is_equi_joins_only(spark, sf_dir):
    # Wedge-close must stay hash/SMJ equi-joins on node ids -- a
    # nested-loop or cartesian here is quadratic death at edge scale.
    plan = _plan(spark, sf_dir, "graph_triangle_count")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sessionize_and_scd2_single_hash_exchange(spark, sf_dir):
    # The lag window, the running-sum window, and the follow-on groupBy
    # all key on user_id, so HashPartitioning(user_id) must be planned
    # ONCE and reused (the only other exchange is the presentation
    # orderBy's range partitioning).  A second hash exchange would mean
    # the (user_id, session_id/island) aggregate failed to recognize the
    # subset-key distribution -- a full extra shuffle of the event log.
    import re

    for name in ("window_sessionize", "scd2_user_tier"):
        plan = _plan(spark, sf_dir, name)
        hashes = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
        assert len(hashes) == 1, f"{name}: {hashes}\n{plan}"
        assert "user_id" in hashes[0], f"{name}: {hashes}"


def test_zorder_key_no_hash_shuffle(spark, sf_dir):
    # The registered (driver-verifiable) form pays two ntile sorts but
    # never a hash shuffle: no groupBy/join anywhere in the key
    # computation.  (The scale form replaces the exact ntile with a
    # broadcast approx-quantile boundary artifact -- zero shuffle; see
    # operators/layout.py module doc.)
    plan = _plan(spark, sf_dir, "layout_zorder_key")
    assert "hashpartitioning" not in plan, plan


def test_cdc_merge_changelog_shuffles_once(spark, sf_dir):
    # The latest-per-key window and the full-outer merge join share the
    # key, so the plan needs exactly TWO hash exchanges (one per join
    # side) -- a third would mean the changelog was re-shuffled between
    # the window and the join.
    import re

    plan = _plan(spark, sf_dir, "cdc_merge_latest")
    hashes = re.findall(r"Arguments: hashpartitioning\(", plan)
    assert len(hashes) == 2, f"{len(hashes)} hash exchanges\n{plan}"


def test_stratified_quota_no_global_sort_before_cut(spark, sf_dir):
    # Per-stratum ranking must partition by the stratum key; the only
    # full-ordering operator allowed is the presentation sort AFTER the
    # rank <= K filter (tiny result), never over the corpus.
    plan = _plan(spark, sf_dir, "sample_stratified_quota")
    assert "hashpartitioning(lang" in plan, plan


def test_asof_tolerance_single_shuffle_no_join(spark, sf_dir):
    # The union-tag as-of must plan as ONE user_id hash exchange and a
    # window -- no join operator at all (a range/theta join here would
    # be the quadratic trap the trick exists to avoid).
    import re

    plan = _plan(spark, sf_dir, "join_asof_tolerance")
    assert "Join" not in plan, plan
    hashes = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 1 and "user_id" in hashes[0], hashes


def test_funnel_single_user_shuffle_no_join(spark, sf_dir):
    # The one-pass funnel must have NO join (the k-way join lives only
    # in the oracle as the independent formulation) and exactly one
    # user-keyed hash exchange; the final funnel row is a single-
    # partition aggregate over users.
    import re

    plan = _plan(spark, sf_dir, "funnel_signup_view_purchase")
    assert "Join" not in plan, plan
    hashes = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 1 and "user_id" in hashes[0], hashes


def test_rolling_zscore_window_over_series_not_events(spark, sf_dir):
    # The RANGE window must consume the aggregated series: the plan
    # shuffles on the series keys (event_type), with partial aggregation
    # below it -- two HashAggregate levels and no second scan.
    import re

    plan = _plan(spark, sf_dir, "window_rolling_zscore")
    assert plan.count("HashAggregate") >= 2, plan
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan


def test_bigram_logprob_no_cartesian(spark, sf_dir):
    # Model joins are equi-joins on (w1[, w2]); the only nested-loop is
    # the broadcast 1-row vocab count.
    plan = _plan(spark, sf_dir, "text_bigram_logprob")
    assert "CartesianProduct" not in plan, plan


def test_capped_bigram_model_broadcasts(spark, sf_dir):
    """The capped-vocab LM's whole point: bounded model tables must
    broadcast into the scoring joins -- zero SortMergeJoin anywhere in
    the plan, so the corpus-side bigram stream never shuffles on a
    model key."""
    plan = _plan(spark, sf_dir, "text_bigram_logprob_capped")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_boilerplate_scrub_broadcasts_the_boiler_set(spark, sf_dir):
    # The scrub join must broadcast the (tiny by construction)
    # boilerplate set -- the chunk stream shuffles ONLY for the
    # distinct-doc count and the per-doc rebuild, never for the removal
    # join itself.
    plan = _plan(spark, sf_dir, "pipeline_boilerplate_scrub")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_incremental_lsh_no_cartesian(spark, sf_dir):
    # Delta-vs-index candidates must come from the band equi-join; a
    # CartesianProduct would mean the join degenerated to all-pairs.
    plan = _plan(spark, sf_dir, "dedup_incremental_lsh_pairs")
    assert "CartesianProduct" not in plan, plan


def test_pq_adc_codebook_broadcasts(spark, sf_dir):
    # Both the encoding stage and the LUT join consume the (constant,
    # 512-row) codebook via broadcast; the corpus never sort-merge-joins
    # on a model key.
    plan = _plan(spark, sf_dir, "ann_pq_adc_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_source_gate_single_exchange(spark, sf_dir):
    # The gopher metrics fuse into the gate's own scan (no doc_id join
    # back to the per-doc operator), so the only hash exchange is the
    # per-source aggregation.
    import re

    plan = _plan(spark, sf_dir, "pipeline_source_gate")
    assert "Join" not in plan, plan
    hashes = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 1 and "source" in hashes[0], hashes


def test_wet_parse_is_scan_fused(spark, sf_dir):
    # The WET parse must be a projection over the text scan -- no
    # exchange of any kind before the presentation sort.
    plan = _plan(spark, sf_dir, "source_wet_roundtrip")
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_duplicate_spans_two_hash_exchanges_no_join(spark, sf_dir):
    # The substring-dedup plan must be: ONE hash exchange keyed by the
    # window hash (the r14 duplicate-count WINDOW -- the r13 shape's
    # groupBy(h)+broadcast-join-back evaluated the expensive position/
    # hash transform lineage twice; the window form is one shuffle, one
    # pass, and needs no join at all), and ONE doc_id hash exchange
    # shared by the island windows AND both follow-on groupBys.  No
    # join of any kind, no cartesian.
    import re

    plan = _plan(spark, sf_dir, "dedup_duplicate_spans")
    hashes = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 2, f"{hashes}\n{plan}"
    keys = " ".join(hashes)
    assert "h#" in keys and "doc_id" in keys, hashes
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_nb_classifier_plan_bounded_and_no_cartesian(spark, sf_dir):
    # Model builds (per-(class, token) counts, class totals, vocab),
    # the class multiplication (broadcast nested-loop over the 5-row /
    # 1-row relations, never a cartesian of two big sides), the scoring
    # join, and the doc-keyed argmax: the whole plan must stay within
    # the 8 keyed exchanges those stages account for -- a regression
    # adding a corpus-wide re-shuffle trips this before it trips wall
    # time.
    import re

    plan = _plan(spark, sf_dir, "text_nb_lang_classifier")
    assert "CartesianProduct" not in plan, plan
    hashes = re.findall(r"Arguments: hashpartitioning\(", plan)
    assert len(hashes) <= 8, f"{len(hashes)}\n{plan}"
    assert "BroadcastExchange" in plan, plan


def test_curated_corpus_plan_broadcasts_gates(spark, sf_dir):
    # The curation composite may shuffle the corpus only for its member
    # operators' keys (source gate, components' pair graph via `node`,
    # final (lang, source) accounting); the gate and dupe sets must
    # arrive broadcast.
    import re

    plan = _plan(spark, sf_dir, "pipeline_curated_corpus")
    assert "CartesianProduct" not in plan, plan
    keys = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert len(keys) <= 4, f"{keys}\n{plan}"
    assert "BroadcastExchange" in plan, plan


def test_kneser_ney_model_broadcasts(spark, sf_dir):
    """All five Kneser-Ney model relations (bigram counts, unigram
    counts, both continuation-type tables, the 1-row type total) are
    bounded by (K+1)^2 rows and must broadcast -- zero SortMergeJoin,
    so the corpus bigram stream never shuffles on a model key."""
    plan = _plan(spark, sf_dir, "text_kneser_ney_bigram")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_mutual_information_single_corpus_shuffle(spark, sf_dir):
    """The corpus is shuffled exactly once (the joint groupBy); the
    marginals re-aggregate the tiny joint table and broadcast back, so
    every hash exchange in the plan carries joint-table keys only."""
    import re

    plan = _plan(spark, sf_dir, "profile_mutual_information")
    assert "SortMergeJoin" not in plan, plan
    hashes = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    corpus_shuffles = [h for h in hashes if "lang" in h and "source" in h]
    assert len(corpus_shuffles) == 1, f"{hashes}\n{plan}"


def test_hilbert_key_no_hash_shuffle(spark, sf_dir):
    """Same contract as the Z-order key: the 8 unrolled fold levels are
    pure projections -- ntile sorts only, never a hash shuffle."""
    plan = _plan(spark, sf_dir, "layout_hilbert_key")
    assert "hashpartitioning" not in plan, plan


def test_quality_keeper_windows_only_the_cluster_set(spark, sf_dir):
    """The keeper election's window/join run over the confirmed-dup
    cluster relation, which broadcasts onto documents -- the corpus
    never SortMergeJoins against the pair graph."""
    plan = _plan(spark, sf_dir, "pipeline_quality_keeper")
    assert "BroadcastHashJoin" in plan, plan


def test_t_closeness_single_corpus_shuffle(spark, sf_dir):
    """Spine-free TVD: one corpus exchange (the (QI, type) groupBy);
    marginals are window sums over the joint relation in-lineage."""
    import re

    plan = _plan(spark, sf_dir, "privacy_t_closeness")
    assert "SortMergeJoin" not in plan, plan
    hashes = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    # The corpus-keyed exchange carries all three grouping columns (day
    # and value_band surface as _groupingexpression#N): 3 cols + the
    # partition count.  Window exchanges over the joint relation carry
    # fewer columns.
    corpus_shuffles = [
        h for h in hashes if "event_type" in h and len(h.split(",")) >= 4
    ]
    assert len(corpus_shuffles) == 1, f"{hashes}\n{plan}"


def test_heaps_law_single_token_shuffle(spark, sf_dir):
    """The first-occurrence window is the ONLY token-stream shuffle
    (hashpartitioning on the word); everything after runs on the
    docs-sized relation.  The two-pass prefix sum references the
    per-doc child from both its offsets and its main branch, so the
    initial AQE plan prints the token shuffle once per branch with
    fresh expr ids -- canonicalize ids and count DISTINCT shuffles,
    then execute and assert the branches really did collapse into
    ReusedExchange stages (one physical token shuffle)."""
    import re

    df = QUERIES["text_heaps_law"].spark(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    hashes = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    token_shuffles = {
        re.sub(r"#\d+", "#", h) for h in hashes if re.search(r"\bw#", h)
    }
    assert len(token_shuffles) == 1, f"{hashes}\n{plan}"
    df.collect()
    final = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # r14: the per-doc checkpoint relation is persisted, so the offsets
    # and main branches read the cache (InMemoryTableScan) -- accepted
    # alongside the pre-r14 ReusedExchange collapse; either way the
    # token shuffle runs once physically.
    assert "ReusedExchange" in final or "InMemoryTableScan" in final, final


def test_ivf_pq_never_sort_merge_joins(spark, sf_dir):
    """Index build is one chained lineage (cell, then codes) and
    query-side relations (probes, LUT, centroids, codebook) all
    broadcast: the corpus must never SortMergeJoin."""
    plan = _plan(spark, sf_dir, "ann_ivf_pq_topk")
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ivf_cells_assigned_by_one_hash_aggregate(spark, sf_dir):
    """Every IVF plan assigns cells with similarity._ivf_assign's
    max-struct hash aggregate: no Window is partitioned on vec_id (the
    per-vector argmax window it replaced; the probe window ranks per
    query_id)."""
    import re

    for name in ("ann_ivf_topk", "dedup_semantic_clusters", "ann_ivf_pq_topk"):
        plan = _plan(spark, sf_dir, name)
        assert not re.search(r"windowspecdefinition\(vec_id#", plan), (
            f"{name}: Window partitioned on vec_id\n{plan}"
        )


def test_round7_no_cartesian_or_python_eval(spark, sf_dir):
    """Round-7 batch: the folds/joins stay JVM-side equi-shapes -- no
    cross joins (the broadcast digit/ntile spines are the only
    intentional tiny crossJoins, and those plan as BroadcastNestedLoop
    over one row, not CartesianProduct) and no row-at-a-time Python."""
    for name in (
        "window_macd",
        "window_obv",
        "agg_candle_gaps",
        "text_ngram_novelty",
        "graph_degree_assortativity",
        "graph_clustering_coefficient",
        "sketch_hll_intersection",
        "profile_seasonal_baseline",
        "dedup_minhash_calibration",
        "window_rsi_wilder",
        "window_atr_wilder",
        "window_stochastic_oscillator",
        "profile_cramers_v",
        "profile_gini_concentration",
        "window_keltner_channels",
        "agg_return_correlation",
        "profile_mad_outliers",
        "multimodal_resize_plan",
        "profile_autocorrelation",
        "agg_amihud_illiquidity",
        "ann_matryoshka_recall",
        "profile_cusum_drift",
        "join_interval_overlap",
        # round-11 batch ops (stream twins excluded: applyInPandas
        # plans legitimately carry a python-exec node)
        "window_donchian_channels",
        "window_gap_interpolation",
        "agg_dollar_bars",
        "multimodal_vad_segments",
        "join_asof_nearest",
        "graph_hits",
        "sample_length_bucketed_batches",
        "privacy_dp_noised_counts",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_minhash_calibration_exact_join_restricted_to_candidates(spark, sf_dir):
    """The exact-Jaccard pass must key the shingle join on the banded
    candidate set (broadcast-sized doc-size lookups), never shuffle an
    all-pairs shingle relation: at least one broadcast join and no
    cartesian anywhere."""
    plan = _plan(spark, sf_dir, "dedup_minhash_calibration")
    assert "BroadcastHashJoin" in plan, plan


def test_obv_single_exchange_per_window(spark, sf_dir):
    """OBV = candle agg + lag + cumsum all partitioned by pair: the
    plan must not introduce a global (unpartitioned) window sort."""
    plan = _plan(spark, sf_dir, "window_obv")
    assert "SortAggregate" not in plan
    # a Window with no PARTITION BY plans as a single-partition sort --
    # the WindowExec would warn; assert the pair partitioning survived
    assert "Window" in plan


def test_cramers_v_single_corpus_shuffle(spark, sf_dir):
    """Same contract as mutual information: the corpus is shuffled
    exactly once (the lang x source groupBy); chi-square terms and
    marginals are window sums over the bounded joint grid."""
    import re

    plan = _plan(spark, sf_dir, "profile_cramers_v")
    assert "SortMergeJoin" not in plan, plan
    hashes = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    # the COUNT(DISTINCT lang/source) expand re-shuffles the bounded
    # joint grid (it carries gid); only the gid-free exchange is the
    # corpus-sized one.
    corpus_shuffles = [
        h for h in hashes if "lang" in h and "source" in h and "gid" not in h
    ]
    assert len(corpus_shuffles) == 1, f"{hashes}\n{plan}"


def test_gini_single_source_exchange(spark, sf_dir):
    """The rank window's (source)-partitioned sort is the only corpus
    exchange; the grouped sum reuses the same partitioning in-stage."""
    import re

    plan = _plan(spark, sf_dir, "profile_gini_concentration")
    assert "SortMergeJoin" not in plan, plan
    hashes = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 1 and "source" in hashes[0], f"{hashes}\n{plan}"


def test_atr_and_stochastic_partition_by_pair(spark, sf_dir):
    """Both OHLC indicators must keep every window partitioned by pair
    -- an unpartitioned window over the bar series would serialize the
    whole indicator onto one task."""
    import re

    for name in ("window_atr_wilder", "window_stochastic_oscillator"):
        plan = _plan(spark, sf_dir, name)
        assert "SortMergeJoin" not in plan, name
        # every exchange keys on the pair (event_type/pair column)
        for h in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
            assert "pair" in h or "event_type" in h, f"{name}: {h}"


def test_return_correlation_joins_candles_not_trades(spark, sf_dir):
    """The alignment self-join must key on the hour bucket of the
    CANDLE-sized returns relation -- equi-join (the pair inequality is
    a post-join filter), never a cartesian; and the moments stay
    hash-aggregable."""
    plan = _plan(spark, sf_dir, "agg_return_correlation")
    assert "CartesianProduct" not in plan, plan
    assert "SortAggregate" not in plan, plan


def test_mad_outliers_bounded_joins(spark, sf_dir):
    """The medians/MAD relations are one row per event_type and must
    broadcast back onto the corpus -- no corpus-vs-corpus SMJ."""
    plan = _plan(spark, sf_dir, "profile_mad_outliers")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_resize_plan_zero_shuffle(spark, sf_dir):
    """Resize planning is a pure projection over the documents scan --
    no exchange of any kind (the orderBy is the display sort the
    driver's compare re-sorts anyway; rangepartitioning is allowed,
    hash exchanges are not)."""
    plan = _plan(spark, sf_dir, "multimodal_resize_plan")
    assert "hashpartitioning" not in plan, plan


def test_autocorrelation_single_candle_shuffle(spark, sf_dir):
    """All five lags come from one window pass: exactly one
    corpus-sized exchange (the per-pair hour window chain reuses its
    partitioning); the stack unpivot is in-stage."""
    plan = _plan(spark, sf_dir, "profile_autocorrelation")
    assert "SortMergeJoin" not in plan, plan
    assert "Generate" in plan or "Expand" in plan, plan  # the unpivot


def test_dollar_bars_two_pass_prefix_sum_plan(spark, sf_dir):
    """The chunked two-pass prefix sum (round-12 skew mitigation) must
    keep the chunk-offset join BROADCAST (the offsets relation is
    pairs x days -- tiny) and never fall back to a sort-merge join or
    an unpartitioned global window over the trade stream."""
    plan = _plan(spark, sf_dir, "agg_dollar_bars")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bm25_topk_and_no_global_sort(spark, sf_dir):
    """BM25's global top-k must plan as TakeOrderedAndProject
    (per-partition heaps + one k-row merge), and the df/corpus-stat
    sides must broadcast -- the probe-term ranking never sorts or
    shuffles the corpus globally."""
    plan = _plan(spark, sf_dir, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    # the corpus-stats scalar joins in as a broadcast, never cartesian
    # over more than the 1-row relation
    assert "CartesianProduct" not in plan, plan


# ------------------------- round-14 optimization pins -------------------


def test_corpus_curation_single_scan_no_join(spark, sf_dir):
    """r14: the keeper's gate inputs ride min_by through the dedup
    aggregation, so the plan has ONE documents scan and NO join -- a
    reappearing join means the keeper join-back (and, at scale, a
    doc_id shuffle of document text) is back."""
    import re

    plan = _plan(spark, sf_dir, "pipeline_corpus_curation")
    assert "Join" not in plan, plan
    # one numbered scan operator (the details section repeats the name)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_dollar_bars_no_per_bar_windows(spark, sf_dir):
    """r14: open/close come from packed-sort-key min_by/max_by in the
    bar hash aggregate; only the two prefix-sum windows (within
    pair-day chunks + chunk offsets) may remain, and the aggregate
    must stay hash-based (map-side partials before the bar exchange)."""
    import re

    plan = _plan(spark, sf_dir, "agg_dollar_bars")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan
    assert "SortAggregate" not in plan, plan


def test_ann_unit_normalization_not_inlined(spark, sf_dir):
    """r14: the staged-norm projection (_unit_normalized) must survive
    optimization -- if CollapseProject inlines the norm fold into the
    per-element division lambda, normalization degrades to O(dim^2)
    interpreted work per row."""
    import re

    for name in ("ann_pq_adc_topk", "ann_ivf_pq_topk"):
        df = QUERIES[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert not re.search(r"transform\(embedding[^\n]*aggregate\(", plan), (
            f"{name}: norm fold inlined into the normalize lambda"
        )


def test_ann_cosine_norms_staged_below_join(spark, sf_dir):
    """r14: the brute-force cosine projection above the broadcast join
    references staged q_norm/c_norm columns -- exactly one fold (the
    dot product) per scored pair, not three."""
    df = QUERIES["ann_cosine_topk"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    join_part = plan.split("Join", 1)[0]  # operators above the join
    assert join_part.count("aggregate(") == 1, join_part


def test_hits_lineage_truncated(spark, sf_dir):
    """r14: the HITS half-steps are localCheckpoint-ed, so the final
    plan reads materialized RDD scans instead of re-planning the whole
    unrolled iteration tree (which grew ~4x per half-step)."""
    plan = _plan(spark, sf_dir, "graph_hits")
    assert "ExistingRDD" in plan, plan[:2000]


def test_lsh_planes_are_literal_arrays(spark, sf_dir):
    """r15: the hyperplane sign vectors are md5-parity CONSTANTS folded
    to literal arrays at plan-build time (hashlib == engine md5), so
    the per-row projection carries zero md5 calls -- the old
    transform(sequence, md5) expression re-ran 8x64 interpreted md5s
    per corpus row (HOFs are never constant-folded)."""
    for name in ("ann_lsh_buckets", "ann_lsh_bucketed_topk"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("md5") == 0, (
            f"{name}: md5 back in the bucket projection"
        )


def test_pq_codebook_is_literal_relation(spark, sf_dir):
    """r15: the PQ codebook subvectors are collected once and re-enter
    as a literal local relation -- consumers scan it flat instead of
    re-analyzing the normalize+explode chain, and the encode argmin is
    a partial aggregate, not a row_number window over every (vector,
    codeword) pair.  The flat scan is a LocalTableScan (the Arrow-backed
    local_df re-entry folds to a true LocalRelation under
    arrow.localRelationThreshold) or, if the relation ever outgrows that
    threshold, a Scan ExistingRDD -- both are flat literal scans."""
    plan = _plan(spark, sf_dir, "ann_pq_adc_topk")
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan, plan[:2000]
    assert "Generate" not in plan, "codebook explode back in the plan"


# The batch candle-family queries: each reads its bars from
# operators/candles.bars, one hash aggregate over the trade stream.
CANDLE_FAMILY = (
    "window_max_drawdown",
    "agg_log_return_volatility",
    "window_bollinger_bands",
    "window_rsi_cutler",
    "window_rsi_wilder",
    "window_macd",
    "window_obv",
    "window_gap_interpolation",
    "agg_return_correlation",
    "profile_autocorrelation",
    "window_atr_wilder",
    "window_stochastic_oscillator",
    "window_keltner_channels",
    "window_donchian_channels",
    "window_ichimoku",
    "agg_candles_heikin_ashi",
    "agg_amihud_illiquidity",
)


def _plan_nodes(node):
    """Every node of a physical plan; an AdaptiveSparkPlan is a leaf
    whose tree hangs off its input plan."""
    yield node
    if node.nodeName() == "AdaptiveSparkPlan":
        yield from _plan_nodes(node.inputPlan())
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_candle_family_windows_run_on_bars_not_trades(spark, sf_dir):
    """The bars come from one hash aggregate: no window is partitioned
    on the raw trade column event_type (every window runs on the
    pair-partitioned bar series), no aggregate falls back to
    SortAggregate, and window_obv (close and volume) and
    window_gap_interpolation (the hour spine and its closes) each read
    their bars from ONE scan of events."""
    for name in CANDLE_FAMILY:
        df = QUERIES[name].spark(spark, sf_dir)
        nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
        partitions = [
            n.partitionSpec().mkString(", ")
            for n in nodes
            if n.nodeName() == "Window"
        ]
        trade_windows = [p for p in partitions if "event_type#" in p]
        assert not trade_windows, f"{name}: windows on {trade_windows}"
        assert not any(n.nodeName() == "SortAggregate" for n in nodes), name
        if name in ("window_obv", "window_gap_interpolation"):
            scans = [n for n in nodes if n.nodeName().startswith("Scan parquet")]
            assert len(scans) == 1, (name, [n.nodeName() for n in scans])
