"""Algebraic invariants from the reference's test strategy (SURVEY.md
section 5, FIXTURES.md section 5): pagination completeness, pair
inversion symmetry, rollup re-reduce associativity, balance conservation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rippled_historical_database_spark.plans.registry import all_queries
from rippled_historical_database_spark.sources.catalog import load_table

QUERIES = all_queries()


def test_pagination_law(spark, sf_dir):
    """Walking limit-N keyset markers reproduces the unpaginated result
    exactly (reference test/utils.js:7-41)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    full = [
        (r.ts, r.event_id, r.user_id)
        for r in e.orderBy("ts", "event_id").limit(300).collect()
    ]
    paged: list[tuple] = []
    marker = None
    while len(paged) < 300:
        page_df = e
        if marker is not None:
            m_ts, m_id = marker
            page_df = page_df.filter(
                (F.col("ts") > F.lit(m_ts))
                | ((F.col("ts") == F.lit(m_ts)) & (F.col("event_id") > F.lit(m_id)))
            )
        rows = page_df.orderBy("ts", "event_id").limit(50).collect()
        if not rows:
            break
        paged.extend((r.ts, r.event_id, r.user_id) for r in rows)
        marker = (rows[-1].ts, rows[-1].event_id)
    assert paged[:300] == full


def test_pair_inversion_symmetry(spark, sf_dir):
    """canonical(A/B) == canonical(B/A) with rate inverted
    (data.js:1480-1524; reference test/test.exchanges.js:109-137)."""
    e = load_table(spark, sf_dir, "events").limit(500)
    fwd = e.select(
        "event_id",
        F.col("event_type").alias("base"),
        F.concat(F.lit("m"), (F.col("user_id") % 3).cast("string")).alias("counter"),
        (F.lit(1) + F.col("user_id") / 100.0).alias("rate"),
    )
    # The same exchanges observed from the other side of the book.
    rev = fwd.select(
        "event_id",
        F.col("counter").alias("base"),
        F.col("base").alias("counter"),
        (1.0 / F.col("rate")).alias("rate"),
    )

    def canonical(df):
        swapped = F.col("base") > F.col("counter")
        return df.select(
            "event_id",
            F.least("base", "counter").alias("base"),
            F.greatest("base", "counter").alias("counter"),
            F.when(~swapped, F.col("rate")).otherwise(1.0 / F.col("rate")).alias("rate"),
        )

    a = {r.event_id: (r.base, r.counter, r.rate) for r in canonical(fwd).collect()}
    b = {r.event_id: (r.base, r.counter, r.rate) for r in canonical(rev).collect()}
    assert a.keys() == b.keys()
    for k in a:
        (b1, c1, r1), (b2, c2, r2) = a[k], b[k]
        assert (b1, c1) == (b2, c2)
        assert abs(r1 - r2) <= 1e-12 * max(abs(r1), 1.0)


def test_rollup_associativity(spark, sf_dir):
    """Daily candles re-reduced from hourly == daily candles from raw
    (FIXTURES.md 5.2; aggregation/exchanges.js:282-359)."""
    from rippled_historical_database_spark.operators.candles import (
        _candle_aggs,
        _with_legs,
    )

    rollup = QUERIES["agg_candles_daily_rollup"].spark(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    direct = (
        _with_legs(e)
        .groupBy(
            F.col("event_type").alias("pair"),
            F.date_trunc("day", "ts").alias("bucket_start"),
        )
        .agg(*_candle_aggs(final=True))
    )
    cols = sorted(rollup.columns)
    a = sorted(map(tuple, rollup.select(*cols).collect()))
    b = sorted(map(tuple, direct.select(*cols).collect()))
    assert a == b


def test_balance_conservation(spark, sf_dir):
    """Per tx: sum of balance-change rows == -fee; fee rows carry
    node_index -1 (FIXTURES.md 5.4; balanceChanges.js:129-167)."""
    df = QUERIES["parse_balance_mirror"].spark(spark, sf_dir)
    per_tx = (
        df.groupBy("event_id")
        .agg(
            F.sum("amount_change").alias("net"),
            F.min(F.when(F.col("change_type") == "fee", F.col("amount_change"))).alias(
                "fee_change"
            ),
            F.min(F.when(F.col("change_type") == "fee", F.col("node_index"))).alias(
                "fee_node"
            ),
        )
        .collect()
    )
    assert per_tx
    for r in per_tx:
        assert r.fee_node == -1
        assert abs(r.net - r.fee_change) < 1e-9


def test_streaming_matches_batch(spark, sf_dir):
    """The streaming candle aggregation equals the batch plan over the
    same input (SURVEY.md 2.9: semantics defined once)."""
    stream = QUERIES["stream_candles_hourly"].spark(spark, sf_dir)
    batch = QUERIES["agg_candles_hourly"].spark(spark, sf_dir).select(
        "pair", "bucket_start", "n_trades", "base_volume", "high", "low"
    )
    cols = sorted(stream.columns)
    a = sorted(map(tuple, stream.select(*cols).collect()))
    b = sorted(map(tuple, batch.select(*cols).collect()))
    assert a == b


def test_winnowing_guarantee(spark, sf_dir):
    """The winnowing theorem: two documents sharing a contiguous token
    run of length >= w + k - 1 (= 4 + 3 - 1 = 6 here) are GUARANTEED to
    share at least one fingerprint -- the deterministic-recall property
    that distinguishes winnowing from MinHash's probabilistic recall."""
    from rippled_historical_database_spark.operators.dedup import (
        WINNOW_W,
        _gram_hashes_over,
        _tokens,
        _winnow_over,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    docs = [
        (1, f"one two three {shared} four five six"),
        (2, f"seven eight {shared} nine ten eleven twelve"),
        (3, "totally different words with no overlap at all here"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    sk = (
        d.select("doc_id", _tokens().alias("toks"))
        .select("doc_id", _gram_hashes_over(F.col("toks")).alias("gh"))
        .select("doc_id", _winnow_over(F.col("gh")).alias("fps"))
    )
    fps = {r.doc_id: set(r.fps) for r in sk.collect()}
    assert fps[1] & fps[2], "docs sharing a >= w+k-1 run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert WINNOW_W == 4  # the guarantee bound documented above


def test_hll_estimate_within_error_bound(spark, sf_dir):
    """The HLL registers must estimate the exact distinct user count
    within the sketch's error envelope (~3 x 1.04/sqrt(64) = 39% hard
    bound; typical error is far smaller)."""
    from rippled_historical_database_spark.operators.sketches import hll_estimate

    regs = {
        r.register: r.max_rho
        for r in QUERIES["sketch_hll_registers"].spark(spark, sf_dir).collect()
    }
    exact = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    est = hll_estimate(regs)
    assert abs(est - exact) / exact < 0.39, (est, exact)


def test_hll_partial_sketches_merge_exactly(spark, sf_dir):
    """Mergeability: registers built on any partition of the input and
    combined by per-register max equal the registers built on the whole
    input -- the property that lets partial sketches from 1000 executors
    (or 1000 days) combine without re-scanning."""
    from rippled_historical_database_spark.operators.sketches import (
        N_REGISTERS,
        sketch_hll_registers,
    )

    full = {
        r.register: r.max_rho
        for r in sketch_hll_registers(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    merged: dict[int, int] = {}
    for parity in (0, 1):
        part = e.filter(F.col("event_id") % 2 == parity)
        part.createOrReplaceTempView("events_part")
        # Rebuild the sketch over the half, reusing the same expressions
        # via a filtered copy of the operator's plan.
        from rippled_historical_database_spark.operators.sketches import _rho

        h = F.conv(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        regs = (
            part.select(
                (h % N_REGISTERS).cast("int").alias("register"),
                (h / F.lit(N_REGISTERS)).cast("bigint").alias("w"),
            )
            .groupBy("register")
            .agg(F.max(_rho(F.col("w"))).alias("max_rho"))
            .collect()
        )
        for r in regs:
            merged[r.register] = max(merged.get(r.register, 0), r.max_rho)
    assert merged == full


def test_cms_never_underestimates(spark, sf_dir):
    """Count-min law: the point estimate (min over the key's cells) is
    always >= the exact frequency, and within the additive N/width
    collision bound in expectation (checked with generous slack)."""
    from rippled_historical_database_spark.operators.sketches import (
        CMS_WIDTH,
        cms_estimate,
    )

    grid = {
        (r.depth, r.col): r.counter
        for r in QUERIES["sketch_count_min"].spark(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    n_total = e.count()
    top = (
        e.groupBy("user_id").count().orderBy(F.col("count").desc()).limit(5).collect()
    )
    for row in top:
        est = cms_estimate(grid, row.user_id)
        assert est >= row["count"], (row.user_id, est, row["count"])
        assert est - row["count"] <= 10 * n_total / CMS_WIDTH


def test_quantile_histogram_estimate_within_bin_width(spark, sf_dir):
    """Histogram-sketch quantiles land within one bin width of the exact
    quantile, and the sketch merges exactly (counters sum)."""
    import duckdb

    from rippled_historical_database_spark.operators.sketches import (
        Q_BIN_WIDTH,
        quantile_estimate,
    )
    from rippled_historical_database_spark.plans.registry import all_queries

    rows = all_queries()["sketch_quantile_histogram"].spark(spark, sf_dir).collect()
    hist = {r.bin: r.counter for r in rows}
    con = duckdb.connect()
    for q in (0.1, 0.5, 0.9, 0.99):
        exact = con.sql(
            f"SELECT quantile_cont(l_extendedprice, {q}) "
            f"FROM '{sf_dir}/lineitem.parquet'"
        ).fetchone()[0]
        est = quantile_estimate(hist, q)
        assert abs(est - exact) <= Q_BIN_WIDTH, (q, est, exact)
    # merge property: splitting the input and summing partial grids
    # reproduces the global grid exactly
    half_a = {b: c // 2 for b, c in hist.items()}
    half_b = {b: c - half_a[b] for b, c in hist.items()}
    merged = {b: half_a[b] + half_b[b] for b in hist}
    assert merged == hist


def test_shard_order_is_collision_free_permutation(spark, sf_dir):
    """global_pos = pos*NSHARDS + shard must be injective over the corpus
    (two documents can never claim the same training-order slot), and
    within a shard positions are dense 1..n."""
    from rippled_historical_database_spark.plans.registry import all_queries

    rows = all_queries()["sample_shard_order"].spark(spark, sf_dir).collect()
    gps = [r.global_pos for r in rows]
    assert len(gps) == len(set(gps)), "global_pos collision"
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos_in_shard)
        assert r.global_pos == (r.pos_in_shard - 1) * 8 + r.shard
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_temperature_mixture_sums_to_budget(spark, sf_dir):
    """Sampling probabilities sum to 1 and expected draws to the budget
    (up to the 6dp emission rounding); alpha<1 must flatten the mix:
    every domain's probability sits between uniform and proportional."""
    from rippled_historical_database_spark.operators.sampling import MIX_BUDGET
    from rippled_historical_database_spark.plans.registry import all_queries

    rows = all_queries()["sample_temperature_mixture"].spark(spark, sf_dir).collect()
    n_domains = len(rows)
    total_docs = sum(r.n_docs for r in rows)
    assert abs(sum(r.sample_prob for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.expected_draws for r in rows) - MIX_BUDGET) < 1.0
    for r in rows:
        uniform = 1.0 / n_domains
        proportional = r.n_docs / total_docs
        lo, hi = sorted((uniform, proportional))
        assert lo - 1e-6 <= r.sample_prob <= hi + 1e-6, r


def test_decontaminate_never_flags_benchmark_docs(spark, sf_dir):
    """The benchmark partition itself must never appear in the flagged
    set (it is held OUT of training, not scrubbed), and every flagged
    doc is at least threshold-contaminated."""
    from rippled_historical_database_spark.operators.pipeline import (
        BENCH_MOD,
        CONTAM_THRESHOLD,
    )
    from rippled_historical_database_spark.plans.registry import all_queries

    rows = all_queries()["pipeline_decontaminate"].spark(spark, sf_dir).collect()
    assert rows, "sf data should contain at least one contaminated doc"
    for r in rows:
        assert r.doc_id % BENCH_MOD != 0
        assert r.contamination >= CONTAM_THRESHOLD
        assert r.n_overlap <= r.n_shingles


def test_pii_scrub_is_idempotent_and_complete(spark, sf_dir):
    """After redaction no email/phone pattern may remain -- scrubbing
    the scrubbed text is the identity (the redaction tokens themselves
    contain no match)."""
    import re

    from rippled_historical_database_spark.operators.text_analysis import (
        EMAIL_RE,
        PHONE_RE,
    )
    from rippled_historical_database_spark.plans.registry import all_queries
    from rippled_historical_database_spark.sources.catalog import load_table

    rows = all_queries()["text_pii_scrub"].spark(spark, sf_dir).collect()
    assert all(r.n_emails >= 1 and r.n_phones >= 1 for r in rows)
    # Rebuild one scrubbed text locally and re-apply the patterns.
    doc = load_table(spark, sf_dir, "documents").filter("doc_id = 0").collect()[0]
    aug = f"{doc.text} contact user0@example.com or call 555-010"
    scrubbed = re.sub(PHONE_RE, "<PHONE>", re.sub(EMAIL_RE, "<EMAIL>", aug))
    assert not re.search(EMAIL_RE, scrubbed)
    assert not re.search(PHONE_RE, scrubbed)


def test_semantic_dedup_keeper_rule(spark, sf_dir):
    """Keepers are exactly the docs with no lower-id near-dup in their
    cell; the lowest vec_id of every cell is always a keeper."""
    from rippled_historical_database_spark.plans.registry import all_queries

    rows = all_queries()["dedup_semantic_clusters"].spark(spark, sf_dir).collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        assert r.is_keeper == (r.n_dups_lower == 0)
        by_cell.setdefault(r.cell_id, []).append(r)
    for cell, members in by_cell.items():
        lowest = min(members, key=lambda r: r.vec_id)
        assert lowest.is_keeper, f"cell {cell}: lowest id not keeper"


def test_chunking_covers_every_token(spark, sf_dir):
    """Chunks tile each document completely: union of [start, start+len)
    covers [0, n_tokens), consecutive starts are exactly one stride
    apart, and every chunk except possibly the last is full-width."""
    from rippled_historical_database_spark.operators.sampling import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )
    from rippled_historical_database_spark.plans.registry import all_queries
    from rippled_historical_database_spark.sources.catalog import load_table

    rows = all_queries()["sample_chunk_documents"].spark(spark, sf_dir).collect()
    n_tok = {
        r.doc_id: r.n_tokens
        for r in load_table(spark, sf_dir, "documents")
        .selectExpr("doc_id", "size(split(trim(lower(text)), '\\\\s+')) AS n_tokens")
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(n_tok)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        for i, c in enumerate(chunks):
            assert c.chunk_idx == i
            assert c.start_token == i * CHUNK_STRIDE
            assert c.chunk_len == min(n_tok[doc_id] - c.start_token, CHUNK_TOKENS)
            assert c.chunk_len >= 1
        last = chunks[-1]
        assert last.start_token + last.chunk_len == n_tok[doc_id] or (
            len(chunks) == 1 and last.chunk_len == CHUNK_TOKENS
        )
        # full coverage: next chunk starts inside the previous one
        for a, b in zip(chunks, chunks[1:]):
            assert b.start_token <= a.start_token + a.chunk_len


def test_dsir_weights_separate_target_from_pool(spark, sf_dir):
    """DSIR's point: documents drawn from the target distribution must
    score higher on average than the rest of the pool (Xie et al. 2023,
    section 3 -- the importance weight is the log-likelihood ratio)."""
    w = QUERIES["sample_dsir_weights"].spark(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = w.join(docs, "doc_id")
    rows = (
        joined.groupBy(F.col("lang") == "en")
        .agg(F.avg("log_weight").alias("m"))
        .collect()
    )
    means = {r[0]: r["m"] for r in rows}
    assert means[True] > means[False], means
    # And the weight is a proper log-ratio: finite everywhere.
    assert joined.filter(F.isnan("log_weight") | F.col("log_weight").isNull()).count() == 0


def test_pagerank_mass_and_ranking(spark, sf_dir):
    """Rank mass stays in [teleport floor, 1]; every rank is positive;
    rank_pos is a gap-free permutation of 1..N."""
    pr = QUERIES["graph_pagerank"].spark(spark, sf_dir).collect()
    total = sum(r.pagerank for r in pr)
    n = len(pr)
    # No dangling redistribution: total <= 1 (+ rounding slack), and at
    # least the teleport mass (1-d) survives any structure.
    assert 0.15 - 1e-6 <= total <= 1.0 + 1e-6, total
    assert all(r.pagerank > 0 for r in pr)
    assert sorted(r.rank_pos for r in pr) == list(range(1, n + 1))
    # rank_pos must agree with the pagerank ordering (ties by node id).
    by_pos = sorted(pr, key=lambda r: r.rank_pos)
    ranks = [(-r.pagerank, r.node) for r in by_pos]
    assert ranks == sorted(ranks)


def test_whitened_embeddings_are_standardized(spark, sf_dir):
    """After per-dimension whitening: corpus-mean z is ~0 and the mean
    whitened norm is ~sqrt(DIM) -- the definition of standardization."""
    w = QUERIES["embedding_whiten"].spark(spark, sf_dir)
    row = w.agg(
        F.avg("z_mean").alias("zm"), F.avg("z_norm").alias("zn")
    ).collect()[0]
    assert abs(row.zm) < 1e-3, row.zm
    dim_sqrt = 8.0  # sqrt(64)
    assert 0.9 * dim_sqrt < row.zn < 1.1 * dim_sqrt, row.zn


def test_tfidf_top_terms_match_independent_recomputation(spark, sf_dir):
    """Oracle-independent law: recompute tf, df, N and the smoothed idf
    in plain Python from the raw documents and verify the emitted top-k
    (terms AND order) for a sample of documents -- an inverted idf or a
    broken tie-break cannot pass this.  Plus structure: pos gap-free,
    <= TOP rows, scores non-increasing."""
    import math

    from rippled_historical_database_spark.operators.corpus_ml import TFIDF_TOP

    rows = QUERIES["text_tfidf_topterms"].spark(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)

    docs = {
        r.doc_id: r.text.strip().lower().split()
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    n = len(docs)
    df: dict[str, int] = {}
    for toks in docs.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1

    for doc_id in sorted(by_doc)[:20]:
        toks = docs[doc_id]
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        scored = [
            (
                round(t_f * round(math.log((1.0 + n) / (1.0 + df[t])) + 1.0, 9), 9),
                t,
            )
            for t, t_f in tf.items()
        ]
        expected = sorted(scored, key=lambda s: (-s[0], s[1]))[:TFIDF_TOP]
        rs = sorted(by_doc[doc_id], key=lambda r: r.pos)
        assert [r.pos for r in rs] == list(range(1, len(rs) + 1))
        assert [r.term for r in rs] == [t for _, t in expected], doc_id
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True), (doc_id, scores)


def test_kmeans_converges_to_voronoi_partition(spark, sf_dir):
    """The real Voronoi law: against the centroids that PRODUCED the
    final assignment, every vector's assigned squared distance must not
    exceed (at 9-dp ranking precision) its distance to ANY other
    centroid -- an inverted rank order or off-by-one-iteration centroid
    use fails this."""
    from rippled_historical_database_spark.operators.corpus_ml import (
        KM_K,
        kmeans_state,
    )

    assigned, centroids = kmeans_state(spark, sf_dir)
    rows = assigned.select("vec_id", "v", "cluster", "d2").collect()
    clusters = {r.cluster for r in rows}
    assert clusters <= set(range(KM_K))
    assert len(clusters) >= 2, "degenerate: everything in one cluster"
    for r in rows[:100]:
        own = round(r.d2, 9)
        for cid, c in centroids.items():
            other = round(sum((x - y) * (x - y) for x, y in zip(r.v, c)), 9)
            assert own <= other, (r.vec_id, r.cluster, cid, own, other)
            if other == own:
                # ties must resolve to the smaller cluster id
                assert r.cluster <= cid


def test_weighted_sampling_favors_heavy_items(spark, sf_dir):
    """A-ES property: inclusion probability rises with weight, so the
    mean weight of the selected sample must exceed the corpus mean."""
    top = QUERIES["sample_weighted_priority"].spark(spark, sf_dir)
    sel = top.agg(F.avg("weight").alias("m")).collect()[0]["m"]
    docs = load_table(spark, sf_dir, "documents")
    pop = docs.agg(F.avg(F.col("n_chars").cast("double")).alias("m")).collect()[0]["m"]
    assert sel > pop, (sel, pop)
    # Sample is exactly K (or the corpus size) and pos is gap-free.
    rows = top.collect()
    assert [r.pos for r in rows] == list(range(1, len(rows) + 1))


def test_triangle_counts_match_python_recomputation(spark, sf_dir):
    """Oracle-independent law: per-node triangle counts recomputed by
    brute force over the collected edge set must match exactly (and the
    global sum must be divisible by 3 -- each triangle counted once per
    corner)."""
    from itertools import combinations

    out = {
        r.node: r.triangles
        for r in QUERIES["graph_triangle_count"].spark(spark, sf_dir).collect()
    }
    from rippled_historical_database_spark.operators.graph import _edges

    und = set()
    for r in _edges(spark, sf_dir).select("src", "dst").distinct().collect():
        if r.src != r.dst:
            und.add((min(r.src, r.dst), max(r.src, r.dst)))
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect: dict[int, int] = {}
    for a, b in und:
        for c in adj[a] & adj[b]:
            if c > b:  # each triangle (a<b<c) once
                for n in (a, b, c):
                    expect[n] = expect.get(n, 0) + 1
    assert out == expect
    assert sum(out.values()) % 3 == 0


def test_kmv_estimates_within_error_bound(spark, sf_dir):
    """KMV law: distinct and intersection estimates must land within the
    sketch's error envelope (~3/sqrt(k-1) = 38% hard bound for k=64;
    typical error far smaller) of the exact values."""
    rows = QUERIES["sketch_kmv_intersection"].spark(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    users = {
        t: {
            r.user_id
            for r in e.filter(F.col("event_type") == t)
            .select("user_id")
            .distinct()
            .collect()
        }
        for t in exact
    }
    assert rows
    for r in rows:
        for est, t in ((r.est_a, r.type_a), (r.est_b, r.type_b)):
            assert abs(est - exact[t]) / exact[t] < 0.38, (t, est, exact[t])
        inter = len(users[r.type_a] & users[r.type_b])
        if inter:
            assert abs(r.est_intersection - inter) / inter < 0.38, (
                r.type_a, r.type_b, r.est_intersection, inter,
            )


def test_kmv_partial_sketches_merge_exactly(spark, sf_dir):
    """Mergeability: the bottom-k of the union of two partial sketches'
    kept values equals the bottom-k of the whole input -- the property
    that lets per-executor/per-day sketches combine without rescans."""
    from rippled_historical_database_spark.operators.corpus_ml import (
        KMV_K,
        KMV_SALT,
    )
    from rippled_historical_database_spark.operators.sampling import _u

    def _kmv_u():
        return _u(KMV_SALT, F.col("user_id"))

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    u = e.select(_kmv_u().alias("u")).distinct()
    full = sorted(r.u for r in u.collect())[:KMV_K]
    half1 = e.filter(F.col("user_id") % 2 == 0).select(_kmv_u().alias("u")).distinct()
    half2 = e.filter(F.col("user_id") % 2 == 1).select(_kmv_u().alias("u")).distinct()
    merged = sorted(
        {r.u for r in half1.collect()} | {r.u for r in half2.collect()}
    )[:KMV_K]
    assert merged == full


def test_native_session_window_matches_manual(spark, sf_dir):
    """Operator equivalence: Spark's built-in session_window() (the
    streaming-capable, state-store-backed form) must produce exactly the
    sessions the manual lag/running-sum construction does.  Native
    session_window.end is last_event_ts + gap, so compare it shifted."""
    from rippled_historical_database_spark.operators.sessions import (
        GAP_SECONDS,
        session_windows_native,
        window_sessionize,
    )

    manual = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_value, 6))
        for r in window_sessionize(spark, sf_dir).collect()
    }
    import datetime as dt

    gap = dt.timedelta(seconds=GAP_SECONDS)
    native = {
        (r.user_id, r.session_start, r.session_end - gap, r.n_events,
         round(r.total_value, 6))
        for r in session_windows_native(spark, sf_dir).collect()
    }
    assert native == manual


def test_zorder_layout_shrinks_per_file_envelopes(spark, sf_dir):
    """The point of the Morton key: split the table into equal 'files'
    by zkey order, and each file's min/max envelope on a dimension must
    be tighter than under the layout sorted by the OTHER dimension
    (where every file spans ~the full range, so nothing prunes).  This
    is the both-dimensions-at-once property a single-dimension rowkey
    cannot have."""
    from rippled_historical_database_spark.plans.registry import all_queries

    rows = all_queries()["layout_zorder_key"].spark(spark, sf_dir).collect()
    by_id = {r.event_id: r for r in rows}
    t_order = [r.event_id for r in sorted(rows, key=lambda r: (r.code_t, r.event_id))]
    v_order = [r.event_id for r in sorted(rows, key=lambda r: (r.code_v, r.event_id))]
    z_order = [r.event_id for r in rows]  # already zkey-sorted
    # 16 files fix the top four zkey bits -> two high bits of EACH
    # dimension per file, so both envelopes shrink to ~1/4 range.
    n_files = 16

    def envelope_sum(order, dim):
        chunk = max(1, len(order) // n_files)
        total = 0
        for i in range(0, len(order), chunk):
            vals = [getattr(by_id[eid], dim) for eid in order[i : i + chunk]]
            total += max(vals) - min(vals)
        return total

    # Z-order beats the time-sorted layout on the value dimension and
    # the value-sorted layout on the time dimension, by at least 2x.
    assert envelope_sum(z_order, "code_v") < 0.5 * envelope_sum(t_order, "code_v")
    assert envelope_sum(z_order, "code_t") < 0.5 * envelope_sum(v_order, "code_t")


def test_zorder_written_files_prune_on_both_dimensions(spark, sf_dir, tmp_path):
    """End-to-end layout check on REAL parquet files: write events
    range-partitioned by zkey vs by time, then count how many files a
    min/max-pruned scan of each layout must touch for (a) a value-range
    predicate and (b) a time-range predicate.  The Z-order layout must
    prune files for BOTH; the time layout can only prune for time."""
    import pyarrow.parquet as pq

    from rippled_historical_database_spark.plans.registry import all_queries

    keyed = all_queries()["layout_zorder_key"].spark(spark, sf_dir)
    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    joined = e.join(keyed.select("event_id", "zkey"), "event_id")

    z_dir, t_dir = str(tmp_path / "z"), str(tmp_path / "t")
    n_files = 16
    joined.repartitionByRange(n_files, "zkey").sortWithinPartitions(
        "zkey"
    ).write.parquet(z_dir)
    joined.repartitionByRange(n_files, "ts").sortWithinPartitions(
        "ts"
    ).write.parquet(t_dir)

    import glob as g

    def _naive(v):
        return v.replace(tzinfo=None) if hasattr(v, "tzinfo") else v

    def files_touched(d, col, lo, hi):
        touched = 0
        for f in sorted(g.glob(f"{d}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(j).name for j in range(md.num_columns)]
            stats = [
                md.row_group(i).column(names.index(col)).statistics
                for i in range(md.num_row_groups)
            ]
            fmin = min(_naive(s.min) for s in stats)
            fmax = max(_naive(s.max) for s in stats)
            if not (fmax < lo or fmin > hi):
                touched += 1
        return touched

    vals = sorted(r.value for r in e.select("value").collect())
    v_lo, v_hi = vals[len(vals) // 10], vals[2 * len(vals) // 10]  # 10% band
    # value predicate: z layout prunes, time layout reads everything
    assert files_touched(z_dir, "value", v_lo, v_hi) <= n_files // 2
    assert files_touched(t_dir, "value", v_lo, v_hi) == n_files
    # the z layout still bounds time envelopes well enough to prune a
    # narrow time band (time-sorted is trivially perfect there)
    tss = sorted(r.ts for r in e.select("ts").collect())
    t_lo, t_hi = tss[len(tss) // 10], tss[len(tss) // 10 + len(tss) // 20]  # 5% band
    assert files_touched(z_dir, "ts", t_lo, t_hi) <= n_files // 2


def test_sessionize_gap_laws(spark, sf_dir):
    """Independent of the oracle (which shares the construction), verify
    the session DEFINITION against raw events: sessions partition each
    user's events exactly; consecutive events inside a session are
    <= GAP apart; consecutive sessions are > GAP apart."""
    import datetime as dt

    from rippled_historical_database_spark.operators.sessions import GAP_SECONDS

    gap = dt.timedelta(seconds=GAP_SECONDS)
    sessions = {}
    for r in QUERIES["window_sessionize"].spark(spark, sf_dir).collect():
        sessions.setdefault(r.user_id, []).append(r)
    events = {}
    for r in (
        load_table(spark, sf_dir, "events").select("user_id", "ts").collect()
    ):
        events.setdefault(r.user_id, []).append(r.ts)

    assert sessions.keys() == events.keys()
    for uid, sess in sessions.items():
        sess.sort(key=lambda s: s.session_start)
        ts = sorted(events[uid])
        # partition: session event counts sum to the user's event count,
        # and every event falls inside exactly one [start, end] span
        assert sum(s.n_events for s in sess) == len(ts)
        for s in sess:
            inside = [t for t in ts if s.session_start <= t <= s.session_end]
            assert len(inside) == s.n_events
            # max internal gap <= GAP
            assert all(
                b - a <= gap for a, b in zip(inside, inside[1:])
            ), (uid, s.session_id)
        # consecutive sessions separated by more than GAP
        for s1, s2 in zip(sess, sess[1:]):
            assert s2.session_start - s1.session_end > gap, uid


def test_cdc_incremental_fold_equals_one_shot(spark, sf_dir):
    """MERGE associativity (the foreachBatch contract): applying the
    changelog in chronological chunks, feeding each merge result back as
    the next base, must land on exactly the one-shot result.  This is
    what makes the operator a valid streaming sink -- micro-batch
    boundaries cannot change the final table."""
    from rippled_historical_database_spark.operators.cdc import (
        changelog,
        merge_changelog,
    )

    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("balance")
    )
    ch = changelog(spark, sf_dir)
    one_shot = {
        (r.key, r.balance) for r in merge_changelog(base, ch).collect()
    }

    # chunks must be CHRONOLOGICAL (micro-batches are): a later chunk
    # holding an older op would legitimately produce a different fold
    bounds = ch.selectExpr(
        "percentile(unix_micros(ts), 0.33) AS b1",
        "percentile(unix_micros(ts), 0.66) AS b2",
    ).collect()[0]
    us = F.unix_micros(F.col("ts"))
    chunks = [
        ch.filter(us <= bounds.b1),
        ch.filter((us > bounds.b1) & (us <= bounds.b2)),
        ch.filter(us > bounds.b2),
    ]
    state = base
    for c in chunks:
        state = merge_changelog(state, c).select("key", "balance")
    folded = {(r.key, r.balance) for r in state.collect()}
    assert folded == one_shot


def test_grouped_hll_merges_to_global_sketch(spark, sf_dir):
    """Sketch composability: merging the per-group register tables by
    per-register max must reproduce the GLOBAL register table exactly --
    distinct counts for every rollup level come from one pass."""
    grouped = QUERIES["sketch_hll_grouped"].spark(spark, sf_dir).collect()
    merged: dict[int, int] = {}
    for r in grouped:
        merged[r.register] = max(merged.get(r.register, 0), r.max_rho)
    glob = {
        r.register: r.max_rho
        for r in QUERIES["sketch_hll_registers"].spark(spark, sf_dir).collect()
    }
    assert merged == glob


def test_bigram_logprob_survives_short_documents(spark, tmp_path):
    """Regression: a document tokenizing to < 2 tokens must contribute
    no bigrams (matching the oracle's empty range), not crash the ANSI
    array lookup via sequence(0, -1) counting down."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3], pa.int64()),
                "text": pa.array(["solo", "two tokens here", ""]),
                "lang": pa.array(["en"] * 3),
                "source": pa.array(["t"] * 3),
                "n_chars": pa.array([4, 15, 0], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = (
        QUERIES["text_bigram_logprob"].spark(spark, str(tmp_path)).collect()
    )
    # docs 1 ("solo") and 3 ("" -> one empty token) yield no bigram rows
    assert [r.doc_id for r in rows] == [2]
    assert rows[0].n_bigrams == 2


def test_cdc_foreachbatch_stream_matches_batch(spark, sf_dir):
    """The streaming form of the CDC merge: drive the changelog through
    a readStream -> foreachBatch(merge into state) sink and assert the
    final state equals the batch one-shot merge.  Together with the
    chronological-fold law this closes the loop: the operator is a
    working Structured Streaming sink, not just fold-compatible."""
    from cdc_util import make_cdc_apply_batch

    from rippled_historical_database_spark.operators.cdc import (
        changelog,
        merge_changelog,
    )
    from rippled_historical_database_spark.sources.catalog import stream_table

    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("balance")
    )
    one_shot = {
        (r.key, r.balance)
        for r in merge_changelog(base, changelog(spark, sf_dir)).collect()
    }

    state = {"df": base.collect()}
    apply_batch = make_cdc_apply_batch(spark, state)

    q = (
        stream_table(spark, sf_dir, "events")
        .writeStream.outputMode("append")
        .foreachBatch(apply_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert {(r.key, r.balance) for r in state["df"]} == one_shot


def test_constraints_detect_injected_violations(spark, tmp_path):
    """The validator must actually count violations, not just report
    zeros on clean data: inject a duplicate id, a negative value, an
    out-of-range timestamp, and an unknown event type."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime as dt

    ok = dt.datetime(2024, 1, 5)
    rows = {
        "event_id": pa.array([1, 1, 2, 3, 4], pa.int64()),  # dup id
        "ts": pa.array([ok, ok, dt.datetime(2035, 1, 1), ok, ok],
                       pa.timestamp("us")),                  # 1 out-of-range
        "user_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "event_type": pa.array(["view", "click", "purchase", "bogus",
                                "signup"]),                  # 1 unknown
        "value": pa.array([1.0, -2.0, 3.0, 4.0, 5.0]),       # 1 negative
        "props": pa.array(["{}"] * 5),
    }
    pq.write_table(pa.table(rows), str(tmp_path / "events.parquet"))
    got = {
        r.rule: r.n_violations
        for r in QUERIES["validate_constraints"].spark(spark, str(tmp_path)).collect()
    }
    assert got == {
        "event_id_not_null": 0,
        "event_id_unique": 1,
        "ts_in_range": 1,
        "value_non_negative": 1,
        "event_type_in_domain": 1,
    }


def test_cluster_split_has_zero_leakage(spark, sf_dir):
    """The point of sample_split_by_cluster: over the same near-dup
    pair graph the leakage audit uses, NO pair may straddle splits --
    both members share a component, the component shares a keeper, and
    the split hashes the keeper.  (Per-document splitting leaks; the
    audit finding that is test-covered via its oracle.)"""
    from rippled_historical_database_spark.operators.dedup import (
        CC_JACCARD_MIN,
        dedup_minhash_lsh_pairs,
    )

    split_of = {
        r.doc_id: r.split
        for r in QUERIES["sample_split_by_cluster"].spark(spark, sf_dir).collect()
    }
    pairs = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("est_jaccard") >= CC_JACCARD_MIN)
        .select("doc_a", "doc_b")
        .collect()
    )
    assert pairs, "test corpus must contain near-dup pairs"
    leaks = [
        (p.doc_a, p.doc_b)
        for p in pairs
        if split_of[p.doc_a] != split_of[p.doc_b]
    ]
    assert leaks == []


def test_sliding_window_covers_each_event_twice(spark, sf_dir):
    """Sliding 2 h / 1 h windows: total windowed event count must be
    exactly 2x the raw count (every event in exactly its two covering
    windows), and each window's count must equal the sum of its two
    constituent hourly tumbling buckets."""
    rows = QUERIES["agg_sliding_window_counts"].spark(spark, sf_dir).collect()
    raw = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == 2 * raw

    hourly = {
        (r.event_type, r.h): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    import datetime as dt

    for r in rows:
        h1 = hourly.get((r.event_type, r.window_start), 0)
        h2 = hourly.get(
            (r.event_type, r.window_start + dt.timedelta(hours=1)), 0
        )
        assert r.n_events == h1 + h2, (r.event_type, r.window_start)


def test_retention_cohort_conservation(spark, sf_dir):
    """Retention matrix laws: week 0 retention is exactly 1.0 for every
    cohort (everyone is active in their first-seen week), cohort sizes
    sum to the distinct user count, and active_users never exceeds the
    cohort size."""
    rows = QUERIES["retention_cohorts"].spark(spark, sf_dir).collect()
    cohort_sizes = {}
    for r in rows:
        assert 0 < r.active_users <= r.cohort_users
        cohort_sizes[r.cohort_week] = r.cohort_users
        if r.week_offset == 0:
            assert r.active_users == r.cohort_users and r.retention == 1.0
    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(cohort_sizes.values()) == n_users


def test_heavy_hitter_summary_state_is_bounded(spark, sf_dir):
    """The Misra-Gries summary stage must emit <= partitions x (m+1)
    rows -- the O(m)-state-per-partition claim, asserted on the actual
    output -- with exactly one NULL-term total row per partition whose
    counts sum to the exact token count."""
    from rippled_historical_database_spark.operators.sketches import (
        HH_MG_M,
        _mg_token_summaries,
    )

    tok = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("term")
        )
    )
    n_parts = tok.rdd.getNumPartitions()
    rows = _mg_token_summaries(tok).collect()
    assert len(rows) <= n_parts * (HH_MG_M + 1), (len(rows), n_parts)
    totals = [r.est for r in rows if r.term is None]
    assert len(totals) == n_parts
    assert sum(totals) == tok.count()
    per_part_cand = len(rows) - len(totals)
    assert per_part_cand <= n_parts * HH_MG_M


def test_heavy_hitter_no_false_negatives_under_skew(spark):
    """The MG no-false-negative argument is partition-skew independent:
    craft a corpus where one partition holds almost all tokens and the
    heavy term is spread thin across partitions, then assert the
    operator still equals the exact GROUP BY ... HAVING."""
    import tempfile

    from rippled_historical_database_spark.operators.sketches import (
        HH_DENOM,
        sketch_heavy_hitters,
    )

    # 40 docs of unique filler + the heavy term sprinkled once per doc:
    # "hot" reaches the ceil(n/60) threshold only globally, never
    # locally dominant, while doc 0 is a giant filler document that
    # skews one partition.
    docs = [(0, " ".join(f"u{j}" for j in range(400)))]
    for i in range(1, 41):
        docs.append((i, "hot " + " ".join(f"d{i}w{j}" for j in range(5))))
    d = spark.createDataFrame(docs, "doc_id long, text string").repartition(8)
    with tempfile.TemporaryDirectory() as tmp:
        d.write.parquet(f"{tmp}/documents.parquet")
        out = {
            r.term: (r.cnt, r.threshold)
            for r in sketch_heavy_hitters(spark, tmp).collect()
        }
    n = 400 + 40 * 6  # exact token count: giant doc + 40 x ("hot" + 5)
    t = -(-n // HH_DENOM)  # ceil
    assert out == {"hot": (40, t)}, out


def test_constraints_report_zero_on_empty_batch(spark, tmp_path):
    """A fail-fast `n_violations == 0` gate must see literal zeros --
    not NULLs -- when a landed partition is empty (SUM over an empty
    relation is NULL; the counters use conditional COUNT)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    empty = {
        "event_id": pa.array([], pa.int64()),
        "ts": pa.array([], pa.timestamp("us")),
        "user_id": pa.array([], pa.int64()),
        "event_type": pa.array([], pa.string()),
        "value": pa.array([], pa.float64()),
        "props": pa.array([], pa.string()),
    }
    pq.write_table(pa.table(empty), str(tmp_path / "events.parquet"))
    got = {
        r.rule: r.n_violations
        for r in QUERIES["validate_constraints"].spark(spark, str(tmp_path)).collect()
    }
    assert set(got.values()) == {0}, got


def test_psi_bins_stay_fixed_for_out_of_range_values(spark, tmp_path):
    """PSI's '10 fixed bins' contract: values below 0 clamp to bin 0
    and values beyond the top edge clamp to the last bin -- the
    histogram never grows a bin id outside [0, PSI_BINS)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rippled_historical_database_spark.operators.profiling import PSI_BINS

    before = dt.datetime(2024, 1, 5)
    after = dt.datetime(2024, 10, 5)
    vals = [-250.0, -1.0, 0.0, 25.0, 9000.0]
    n = len(vals) * 2
    rows = {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([before] * len(vals) + [after] * len(vals),
                       pa.timestamp("us")),
        "user_id": pa.array([1] * n, pa.int64()),
        "event_type": pa.array(["view"] * n),
        "value": pa.array(vals * 2),
        "props": pa.array(["{}"] * n),
    }
    pq.write_table(pa.table(rows), str(tmp_path / "events.parquet"))
    bins = [
        r.bin
        for r in QUERIES["profile_psi_drift"].spark(spark, str(tmp_path)).collect()
    ]
    assert all(0 <= b < PSI_BINS for b in bins), bins
    assert 0 in bins and PSI_BINS - 1 in bins


def test_boilerplate_scrub_reconstruction_law(spark, sf_dir):
    """Scrub laws: (1) documents with zero removed chunks reconstruct
    to exactly their normalized text (the md5 matches a direct hash of
    the space-joined tokens), (2) removal genuinely fires on the
    corpus, and (3) no document is ever scrubbed to nothing at the
    5% threshold."""
    from rippled_historical_database_spark.operators.text_analysis import _tokens

    rows = {
        r.doc_id: r
        for r in QUERIES["pipeline_boilerplate_scrub"].spark(spark, sf_dir).collect()
    }
    direct = {
        r.doc_id: r.h
        for r in load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.md5(F.array_join(_tokens(), " ").cast("binary")).alias("h"),
        )
        .collect()
    }
    untouched = [r for r in rows.values() if r.n_removed == 0]
    assert untouched, "some documents must survive unscrubbed"
    for r in untouched:
        assert r.scrubbed_hash == direct[r.doc_id], r.doc_id
    assert any(r.n_removed > 0 for r in rows.values()), "removal never fired"
    assert all(r.n_removed < r.n_chunks for r in rows.values())


def test_pq_adc_beats_chance_and_is_sane(spark, sf_dir):
    """PQ quality floor: the synthetic embeddings are structureless
    random vectors (within-label cosine == cross-label), so high recall
    is impossible for ANY quantizer -- but ADC ranking must still beat
    chance by a wide margin (random top-5 of ~500 would hit ~1%), and
    distances must be non-negative and bounded by the unit-sphere
    diameter (L2^2 <= 4)."""
    gt = {}
    for r in QUERIES["ann_cosine_topk"].spark(spark, sf_dir).collect():
        gt.setdefault(r.query_id, set()).add(r.neighbor_id)
    rows = QUERIES["ann_pq_adc_topk"].spark(spark, sf_dir).collect()
    hits = sum(r.neighbor_id in gt[r.query_id] for r in rows)
    assert hits / len(rows) >= 0.2, (hits, len(rows))
    for r in rows:
        assert 0.0 <= r.adc_dist <= 4.0, r


def test_incremental_lsh_misses_nothing(spark, sf_dir):
    """The incremental-maintenance law: the delta-only run must equal
    the full-corpus LSH run filtered to pairs involving a delta doc --
    same pairs, same estimates (banding is symmetric, so processing
    only the delta provably loses no pair)."""
    from rippled_historical_database_spark.operators.dedup import (
        DELTA_MOD,
        DELTA_REM,
    )

    full = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in QUERIES["dedup_minhash_lsh_pairs"].spark(spark, sf_dir).collect()
        if r.doc_a % DELTA_MOD == DELTA_REM or r.doc_b % DELTA_MOD == DELTA_REM
    }
    inc = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in QUERIES["dedup_incremental_lsh_pairs"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert inc == full
    assert inc, "the delta split must actually exercise some pairs"


def test_epoch_capped_mixture_water_filling_laws(spark, sf_dir):
    """Water-filling laws: (1) the budget is conserved exactly
    (sum draws == 6 x corpus, to rounding), (2) no source exceeds the
    epoch cap, (3) both capped and uncapped sources occur (the
    redistribution is actually exercised), (4) among uncapped sources
    draws are proportional to weight (same water level), and (5) every
    capped source's ratio cap/w is <= every uncapped source's (the
    capped set is the correct prefix)."""
    from rippled_historical_database_spark.operators.sampling import (
        MIXC_BUDGET_EPOCHS,
        MIXC_MAX_EPOCHS,
    )

    rows = (
        QUERIES["sample_epoch_capped_mixture"].spark(spark, sf_dir).collect()
    )
    B = MIXC_BUDGET_EPOCHS * sum(r.n_docs for r in rows)
    assert abs(sum(r.draws for r in rows) - B) < 1e-3 * len(rows)
    for r in rows:
        assert r.epochs <= MIXC_MAX_EPOCHS + 1e-9
    capped = [r for r in rows if r.capped]
    free = [r for r in rows if not r.capped]
    assert capped and free, (len(capped), len(free))
    levels = {round(r.draws / r.weight, 6) for r in free}
    assert len(levels) == 1, levels  # one shared water level
    max_capped_ratio = max(
        r.n_docs * MIXC_MAX_EPOCHS / r.weight for r in capped
    )
    min_free_ratio = min(r.n_docs * MIXC_MAX_EPOCHS / r.weight for r in free)
    assert max_capped_ratio <= min_free_ratio + 1e-12


def test_duplicate_spans_guarantee_and_merge(spark, tmp_path):
    """The exact-substring guarantee: ANY shared run of >= SPAN_W tokens
    is found, overlapping windows merge to ONE maximal span of exactly
    the run's length, and runs shorter than SPAN_W are invisible."""
    from rippled_historical_database_spark.operators.dedup import (
        SPAN_W,
        dedup_duplicate_spans,
    )

    run = " ".join(f"shared{j}" for j in range(25))  # 25-token planted run
    short = " ".join(f"near{j}" for j in range(SPAN_W - 1))  # sub-threshold
    docs = [
        (1, f"a1 a2 a3 {run} a4 a5 {short}"),
        (2, f"b1 b2 {run} b3 b4 b5 b6 {short}"),
        (3, " ".join(f"c{j}" for j in range(60))),  # all-unique bystander
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    d.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: (r.n_spans, r.dup_tokens)
        for r in dedup_duplicate_spans(spark, str(tmp_path)).collect()
    }
    # Exactly one maximal span per doc covering exactly the 25-token run
    # (the 14-token shared tail is below threshold and must NOT appear,
    # and doc 3 must be absent entirely).
    assert out == {1: (1, 25), 2: (1, 25)}, out


def test_span_scrub_cuts_exactly_the_planted_run(spark, tmp_path):
    """Scrubbing removes exactly the duplicated span's tokens from the
    affected docs and leaves untouched docs byte-identical (hash of the
    rebuilt text equals the hash of the normalized original)."""
    import hashlib

    from rippled_historical_database_spark.operators.dedup import (
        dedup_span_scrub,
    )

    run = " ".join(f"shared{j}" for j in range(25))
    doc3 = " ".join(f"c{j}" for j in range(60))
    docs = [
        (1, f"a1 a2 a3 {run} a4 a5"),
        (2, f"b1 b2 {run} b3 b4 b5 b6"),
        (3, doc3),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    d.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: (r.n_tokens_before, r.n_tokens_after, r.scrubbed_hash)
        for r in dedup_span_scrub(spark, str(tmp_path)).collect()
    }
    assert out[1][:2] == (30, 5) and out[2][:2] == (31, 6), out
    # untouched doc: rebuilt == normalized original, bit-exact
    doc3_hash = hashlib.md5(doc3.encode()).hexdigest()
    assert out[3] == (60, 60, doc3_hash), out


def test_pq_refined_rerank_never_hurts_recall(spark, sf_dir):
    """The point of the exact rerank: against the brute-force ground
    truth, refined top-k recall must be >= ADC-only top-k recall for
    every query (quantization error can only drop a candidate from the
    shortlist, never reorder the final exact ranking)."""
    from rippled_historical_database_spark.operators.similarity import (
        ann_cosine_topk,
        ann_pq_adc_topk,
        ann_pq_refined_topk,
    )

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    truth = topk_sets(ann_cosine_topk(spark, sf_dir))
    adc = topk_sets(ann_pq_adc_topk(spark, sf_dir))
    ref = topk_sets(ann_pq_refined_topk(spark, sf_dir))
    assert set(ref) == set(truth)
    for qid, t in truth.items():
        r_adc = len(adc[qid] & t)
        r_ref = len(ref[qid] & t)
        assert r_ref >= r_adc, (qid, ref[qid], adc[qid], t)


def test_nb_classifier_beats_chance_on_holdout(spark, sf_dir):
    """The trained NB language classifier must beat 5-class chance on
    its held-out half (the synthetic corpus carries only a few
    lang-marker tokens per doc amid shared vocabulary, so perfection is
    impossible -- but a LEARNED model must clear random guessing)."""
    df = QUERIES["text_nb_lang_classifier"].spark(spark, sf_dir)
    rows = df.collect()
    acc = sum(r.correct for r in rows) / len(rows)
    assert acc > 0.25, acc
    # and every held-out doc got exactly one prediction
    assert len({r.doc_id for r in rows}) == len(rows)


def test_span_report_and_scrub_conserve_tokens(spark, sf_dir):
    """Cross-operator conservation: the span REPORT's dup_tokens must
    equal the SCRUB's token deficit (n_before - n_after) for every doc,
    and docs absent from the report must be untouched by the scrub --
    the two operators share one span relation and may never disagree."""
    spans = {
        r.doc_id: r.dup_tokens
        for r in QUERIES["dedup_duplicate_spans"].spark(spark, sf_dir).collect()
    }
    for r in QUERIES["dedup_span_scrub"].spark(spark, sf_dir).collect():
        deficit = r.n_tokens_before - r.n_tokens_after
        assert deficit == spans.get(r.doc_id, 0), (r.doc_id, deficit)


def test_bpe_merge_counts_monotone_and_planted_example(spark, sf_dir, tmp_path):
    """BPE law: chosen merge counts are non-increasing (a merge can only
    create pairs at most as frequent as itself), and on a planted
    micro-corpus the merges are hand-checkable -- including graceful
    exhaustion when fewer than K merges exist."""
    from rippled_historical_database_spark.operators.corpus_ml import (
        text_bpe_merges,
    )

    cnts = [
        r.cnt for r in QUERIES["text_bpe_merges"].spark(spark, sf_dir).collect()
    ]
    assert cnts == sorted(cnts, reverse=True), cnts

    d = spark.createDataFrame(
        [(1, "ab ab ab cd")], "doc_id long, text string"
    )
    d.write.parquet(str(tmp_path / "documents.parquet"))
    out = [
        (r.round, r.merged, r.cnt)
        for r in text_bpe_merges(spark, str(tmp_path)).collect()
    ]
    # merge 1: (a,b) x3; merge 2: (c,d) x1; then no pairs remain
    assert out == [(1, "ab", 3), (2, "cd", 1)], out


def test_duplicate_spans_match_python_reference_on_random_corpus(spark, tmp_path):
    """Randomized (seeded) cross-check: the distributed span detector
    must agree with an independent pure-Python implementation of the
    same semantics on a corpus with planted shared runs, self-repeats,
    and pure-noise documents."""
    import random
    import re

    from rippled_historical_database_spark.operators.dedup import (
        SPAN_W,
        dedup_duplicate_spans,
    )

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(30)]
    shared = [" ".join(rng.choice(vocab) for _ in range(rng.randint(15, 30)))
              for _ in range(3)]
    docs = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(5, 60))]
        if i % 3 == 0:  # plant a shared run
            pos = rng.randint(0, len(words))
            words[pos:pos] = shared[i % len(shared)].split()
        if i % 7 == 0:  # self-repeat
            words = words + words[: SPAN_W + 2]
        docs.append((i, " ".join(words)))
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )

    # independent reference
    counts: dict[str, int] = {}
    toks = {i: re.split(r"\s+", t.strip().lower()) for i, t in docs}
    for i, ts in toks.items():
        for p in range(len(ts) - SPAN_W + 1):
            g = " ".join(ts[p : p + SPAN_W])
            counts[g] = counts.get(g, 0) + 1
    expected = {}
    for i, ts in toks.items():
        spans = []
        for p in range(len(ts) - SPAN_W + 1):
            if counts[" ".join(ts[p : p + SPAN_W])] >= 2:
                s, e = p + 1, p + SPAN_W  # 1-based inclusive
                if spans and s <= spans[-1][1] + 1:
                    spans[-1] = (spans[-1][0], max(spans[-1][1], e))
                else:
                    spans.append((s, e))
        if spans:
            expected[i] = (len(spans), sum(e - s + 1 for s, e in spans))

    got = {
        r.doc_id: (r.n_spans, r.dup_tokens)
        for r in dedup_duplicate_spans(spark, str(tmp_path)).collect()
    }
    assert got == expected


# ----------------------------------------------- round-6 additions


def _py_xy2d(n: int, x: int, y: int) -> int:
    """Independent Hilbert reference (Wikipedia xy2d), plain Python."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def _py_d2xy(n: int, d: int) -> tuple[int, int]:
    x = y = 0
    s = 1
    t = d
    while s < n:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s *= 2
    return x, y


def test_hilbert_key_matches_python_reference(spark, sf_dir):
    """The generated CASE-arithmetic fold must agree with an
    independent textbook implementation on every produced row (guards
    against Spark and DuckDB sharing a generator bug)."""
    rows = QUERIES["layout_hilbert_key"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.hkey == _py_xy2d(256, r.code_t, r.code_v), (
            r.code_t, r.code_v, r.hkey
        )


def test_hilbert_curve_is_seamless_morton_is_not():
    """The locality claim behind choosing Hilbert over Z-order: walking
    the Hilbert key in order moves exactly one grid cell per step (max
    adjacent Manhattan distance 1 over the whole 256x256 curve), while
    the Morton walk jumps across quadrant seams (max distance M)."""
    n = 256
    worst_h = 0
    px, py = _py_d2xy(n, 0)
    for d in range(1, n * n):
        x, y = _py_d2xy(n, d)
        worst_h = max(worst_h, abs(x - px) + abs(y - py))
        px, py = x, y

    def deinterleave(z: int) -> tuple[int, int]:
        x = y = 0
        for i in range(8):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        return x, y

    worst_m = 0
    px, py = deinterleave(0)
    for z in range(1, n * n):
        x, y = deinterleave(z)
        worst_m = max(worst_m, abs(x - px) + abs(y - py))
        px, py = x, y
    assert worst_h == 1, worst_h
    assert worst_m == n, worst_m


def test_kneser_ney_is_a_proper_distribution_and_matches_python(spark, sf_dir):
    """Interpolated KN must yield sum_w2 P(w2|w1) == 1 for every
    context (the property Laplace shares but unsmoothed MLE on typed
    tables loses), and the per-doc averages must match an independent
    pure-Python model."""
    import math
    from collections import Counter

    import duckdb

    from rippled_historical_database_spark.operators.corpus_ml import (
        KN_D, LM_OOV, LM_ROUND, LM_VOCAB_K,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    toks = {i: t.lower().strip().split() for i, t in docs}
    uni = Counter(w for t in toks.values() for w in t)
    vocab = set(
        w for w, _ in sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:LM_VOCAB_K]
    )

    def m(w):
        return w if w in vocab else LM_OOV

    big = Counter()
    ctx = Counter()
    for t in toks.values():
        for a, b in zip(t, t[1:]):
            big[(m(a), m(b))] += 1
            ctx[m(a)] += 1
    n1_fwd = Counter(w1 for (w1, _) in big)
    n1_bwd = Counter(w2 for (_, w2) in big)
    tt = len(big)

    def p_kn(w1, w2):
        return max(big[(w1, w2)] - KN_D, 0.0) / ctx[w1] + (
            KN_D * n1_fwd[w1] / ctx[w1]
        ) * (n1_bwd[w2] / tt)

    # Proper distribution over the observed event space: for each
    # context, summing over every type w2 (seen anywhere) must give 1.
    types = set(w2 for (_, w2) in big) | set(n1_bwd)
    for w1 in ctx:
        total = sum(p_kn(w1, w2) for w2 in types)
        assert abs(total - 1.0) < 1e-9, (w1, total)

    expected = {}
    for i, t in toks.items():
        if len(t) < 2:
            continue
        lps = [
            round(math.log(p_kn(m(a), m(b))), LM_ROUND)
            for a, b in zip(t, t[1:])
        ]
        expected[i] = (len(lps), round(sum(lps) / len(lps), 6))

    got = {
        r.doc_id: (r.n_bigrams, r.avg_kn_logprob)
        for r in QUERIES["text_kneser_ney_bigram"].spark(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for i in expected:
        assert got[i][0] == expected[i][0], i
        assert abs(got[i][1] - expected[i][1]) < 2e-6, (i, got[i], expected[i])


def test_sliding_hll_is_union_of_daily_sketches(spark, sf_dir):
    """Window sketch == elementwise max of the daily sketches in the
    window (the mergeability law the operator exists for), and the
    estimate it implies stays inside the HLL error envelope of the
    exact trailing-3-day distinct count."""
    from collections import defaultdict

    from rippled_historical_database_spark.operators.sketches import (
        N_REGISTERS, RHO_BITS, hll_estimate,
    )

    e = load_table(spark, sf_dir, "events").select(
        F.datediff(F.to_date("ts"), F.lit("2000-01-01")).alias("day_idx"),
        "user_id",
    )
    rows = e.collect()
    # Independent daily registers in Python via the same md5 ladder.
    import hashlib

    def h48(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:12], 16)

    daily = defaultdict(dict)
    exact_users = defaultdict(set)
    for r in rows:
        h = h48(r.user_id)
        reg, w = h % N_REGISTERS, h // N_REGISTERS
        rho = (w & -w).bit_length() if w % 2 ** RHO_BITS else RHO_BITS + 1
        d = daily[r.day_idx]
        d[reg] = max(d.get(reg, 0), rho)
        exact_users[r.day_idx].add(r.user_id)

    got = defaultdict(dict)
    for r in QUERIES["sketch_hll_sliding_union"].spark(spark, sf_dir).collect():
        got[r.day_idx][r.register] = r.max_rho

    for day in daily:
        expect = {}
        for d in (day - 2, day - 1, day):
            for reg, rho in daily.get(d, {}).items():
                expect[reg] = max(expect.get(reg, 0), rho)
        assert got[day] == expect, day
        exact = len(set().union(*(exact_users.get(d, set())
                                  for d in (day - 2, day - 1, day))))
        est = hll_estimate(got[day])
        assert abs(est - exact) / exact < 0.39, (day, est, exact)


def test_quality_keeper_election_laws(spark, sf_dir):
    """keeper = the longest member (min doc_id on ties) of every CC
    cluster; cluster sizes account for every clustered doc."""
    cc = QUERIES["dedup_connected_components"].spark(spark, sf_dir).collect()
    chars = {
        r.doc_id: r.n_chars
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    members = {}
    for r in cc:
        members.setdefault(r.component, []).append(r.doc_id)
    keepers = QUERIES["pipeline_quality_keeper"].spark(spark, sf_dir).collect()
    assert {k.component for k in keepers} == set(members)
    assert sum(k.cluster_size for k in keepers) == len(cc)
    for k in keepers:
        best = min(
            members[k.component], key=lambda d: (-chars[d], d)
        )
        assert k.keeper_doc_id == best, (k.component, k.keeper_doc_id, best)
        assert k.keeper_n_chars == chars[best]


def test_mutual_information_is_nonnegative_and_consistent(spark, sf_dir):
    """Sum of mi_term_bits is the corpus MI: nonnegative (up to the
    1e-9 per-cell rounding) and zero iff the joint factorizes."""
    rows = QUERIES["profile_mutual_information"].spark(spark, sf_dir).collect()
    mi = sum(r.mi_term_bits for r in rows)
    assert mi > -1e-6 * len(rows), mi
    n = sum(r.n_xy for r in rows)
    from collections import Counter

    nx = Counter()
    ny = Counter()
    for r in rows:
        nx[r.lang] += r.n_xy
        ny[r.source] += r.n_xy
    import math

    expect = sum(
        (r.n_xy / n) * math.log((r.n_xy * n) / (nx[r.lang] * ny[r.source]), 2)
        for r in rows
    )
    assert abs(mi - expect) < 1e-6 * len(rows), (mi, expect)


def test_zipf_slope_is_negative_and_bounded(spark, sf_dir):
    row = QUERIES["text_zipf_slope"].spark(spark, sf_dir).collect()[0]
    assert 0 < row.n_terms <= 1000
    assert row.zipf_slope < 0, row


def test_hilbert_layout_prunes_like_zorder_with_tighter_seams(
    spark, sf_dir, tmp_path
):
    """The Hilbert layout must deliver the same both-dimension file
    pruning as the Z layout on REAL written parquet (value-band scan
    touches <= half the files; narrow time band likewise), and its
    total per-file envelope across both dimensions must not exceed the
    Morton layout's (no seam jumps -> never-worse locality)."""
    import glob as g

    import pyarrow.parquet as pq

    h_rows = QUERIES["layout_hilbert_key"].spark(spark, sf_dir).collect()
    z_rows = QUERIES["layout_zorder_key"].spark(spark, sf_dir).collect()
    n_files = 16

    def envelope_total(rows):
        chunk = max(1, len(rows) // n_files)
        total = 0
        for i in range(0, len(rows), chunk):
            part = rows[i : i + chunk]
            total += max(r.code_t for r in part) - min(r.code_t for r in part)
            total += max(r.code_v for r in part) - min(r.code_v for r in part)
        return total

    assert envelope_total(h_rows) <= envelope_total(z_rows), (
        envelope_total(h_rows), envelope_total(z_rows)
    )

    keyed = QUERIES["layout_hilbert_key"].spark(spark, sf_dir)
    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    joined = e.join(keyed.select("event_id", "hkey"), "event_id")
    h_dir = str(tmp_path / "h")
    joined.repartitionByRange(n_files, "hkey").sortWithinPartitions(
        "hkey"
    ).write.parquet(h_dir)

    def _naive(v):
        return v.replace(tzinfo=None) if hasattr(v, "tzinfo") else v

    def files_touched(d, col, lo, hi):
        touched = 0
        for f in sorted(g.glob(f"{d}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(j).name for j in range(md.num_columns)]
            stats = [
                md.row_group(i).column(names.index(col)).statistics
                for i in range(md.num_row_groups)
            ]
            fmin = min(_naive(s.min) for s in stats)
            fmax = max(_naive(s.max) for s in stats)
            if not (fmax < lo or fmin > hi):
                touched += 1
        return touched

    vals = sorted(r.value for r in e.select("value").collect())
    v_lo, v_hi = vals[len(vals) // 10], vals[2 * len(vals) // 10]
    assert files_touched(h_dir, "value", v_lo, v_hi) <= n_files // 2
    tss = sorted(r.ts for r in e.select("ts").collect())
    t_lo, t_hi = tss[len(tss) // 10], tss[len(tss) // 10 + len(tss) // 20]
    assert files_touched(h_dir, "ts", t_lo, t_hi) <= n_files // 2


def test_heaps_law_matches_quadratic_reference(spark, sf_dir):
    """The one-shuffle first-occurrence formulation must equal the
    naive quadratic definition (distinct words per growing prefix)
    recomputed in Python, through to the fitted coefficients."""
    import math

    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    seen: set[str] = set()
    cum_tok = 0
    pts = []
    for _i, text in docs:
        toks = [w for w in text.lower().strip().split() if w]
        cum_tok += len(toks)
        seen.update(toks)
        pts.append((round(math.log(cum_tok), 9), round(math.log(len(seen)), 9)))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    log_k = (sy - beta * sx) / n
    row = QUERIES["text_heaps_law"].spark(spark, sf_dir).collect()[0]
    assert row.n_checkpoints == n
    assert abs(row.heaps_beta - beta) < 1e-5, (row.heaps_beta, beta)
    assert abs(row.log_k - log_k) < 1e-5, (row.log_k, log_k)
    assert 0 < row.heaps_beta < 1, row


def test_t_closeness_matches_python_tvd(spark, sf_dir):
    """Spine-free TVD == the definitional sum over the FULL type
    domain, recomputed independently; global distribution never
    exceeds distance 0 from itself (sanity: pooling all groups)."""
    from collections import Counter

    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            F.date_trunc("day", "ts").alias("day"),
            F.floor(F.col("value") / 100.0).cast("int").alias("value_band"),
            "event_type",
        )
        .collect()
    )
    joint = Counter((r.day, r.value_band, r.event_type) for r in rows)
    g_tot = Counter((r.day, r.value_band) for r in rows)
    t_tot = Counter(r.event_type for r in rows)
    n = len(rows)
    got = {
        (r.day, r.value_band): (r.group_size, r.tvd, r.exceeds)
        for r in QUERIES["privacy_t_closeness"].spark(spark, sf_dir).collect()
    }
    assert set(got) == set(g_tot)
    from rippled_historical_database_spark.operators.profiling import T_CLOSE

    for g in g_tot:
        tvd = 0.5 * sum(
            abs(joint.get((g[0], g[1], t), 0) / g_tot[g] - t_tot[t] / n)
            for t in t_tot
        )
        size, got_tvd, exceeds = got[g]
        assert size == g_tot[g]
        assert abs(got_tvd - tvd) < 1e-6, (g, got_tvd, tvd)
        assert exceeds == (got_tvd > T_CLOSE)


def test_streamed_hll_registers_equal_batch_and_feed_the_union(spark, sf_dir):
    """Streaming == batch for the daily register build (the family's
    standing law), and the registered 3-day union is exactly a window
    max over this register table -- the stream feeds the union without
    ever re-reading raw events."""
    from rippled_historical_database_spark.operators.sketches import (
        N_REGISTERS, _rho,
    )

    streamed = {
        (r.day_idx, r.register): r.max_rho
        for r in QUERIES["stream_sketch_hll_daily"].spark(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 12),
        16,
        10,
    ).cast("bigint")
    batch = {
        (r.day_idx, r.register): r.max_rho
        for r in (
            e.select(
                F.datediff(F.to_date("ts"), F.lit("2000-01-01")).alias("day_idx"),
                h.alias("h"),
            )
            .select(
                "day_idx",
                (F.col("h") % N_REGISTERS).cast("int").alias("register"),
                F.expr(f"h div {N_REGISTERS}").alias("w"),
            )
            .groupBy("day_idx", "register")
            .agg(F.max(_rho(F.col("w"))).alias("max_rho"))
            .collect()
        )
    }
    assert streamed == batch

    union_rows = QUERIES["sketch_hll_sliding_union"].spark(spark, sf_dir).collect()
    for r in union_rows:
        expect = max(
            (
                streamed.get((d, r.register))
                for d in (r.day_idx - 2, r.day_idx - 1, r.day_idx)
                if (d, r.register) in streamed
            ),
            default=None,
        )
        assert r.max_rho == expect, (r.day_idx, r.register)


def test_ivf_pq_composes_its_two_halves_exactly(spark, sf_dir):
    """The composed index must agree with its verified halves: every
    returned neighbor lies in one of the query's IVF probe cells, its
    ADC distance equals the standalone PQ scorer's for that pair, and
    the ranking is exactly the PQ ranking restricted to probed cells."""
    from rippled_historical_database_spark.operators.similarity import (
        IVF_NPROBE, TOP_K, _pq_adc_ranked,
    )

    composed = QUERIES["ann_ivf_pq_topk"].spark(spark, sf_dir).collect()
    assert composed
    ivf = QUERIES["ann_ivf_topk"].spark(spark, sf_dir)
    # probe cells per query, derived from the IVF operator's own cells
    probe_cells: dict[int, set[int]] = {}
    for r in ivf.select("query_id", "cell_id").distinct().collect():
        probe_cells.setdefault(r.query_id, set()).add(r.cell_id)
    for r in composed:
        assert len(probe_cells[r.query_id]) <= IVF_NPROBE
        assert r.cell_id in probe_cells[r.query_id], r

    adc = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in _pq_adc_ranked(spark, sf_dir).collect()
    }
    for r in composed:
        assert r.adc_dist == adc[(r.query_id, r.neighbor_id)], r

    # ranking == PQ ADC order restricted to the probed-cell membership
    cells = {
        r.vec_id: r.cell_id
        for r in QUERIES["ann_ivf_topk"].spark(spark, sf_dir)
        .select(F.col("neighbor_id").alias("vec_id"), "cell_id")
        .distinct()
        .collect()
    }
    by_query: dict[int, list] = {}
    for r in composed:
        by_query.setdefault(r.query_id, []).append(r)
    for q, rows in by_query.items():
        rows.sort(key=lambda r: r.rank)
        dists = [r.adc_dist for r in rows]
        assert dists == sorted(dists), q
        assert len(rows) <= TOP_K


def test_drawdown_and_volatility_match_python_series(spark, sf_dir):
    """Both market metrics recomputed from an independently-derived
    close series: drawdown in [-1, 0], vol >= 0, values equal."""
    import math
    from collections import defaultdict

    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    last = {}
    for r in rows:
        key = (r.event_type, r.ts.replace(minute=0, second=0, microsecond=0))
        cur = last.get(key)
        if cur is None or (r.ts, r.event_id) > (cur[0], cur[1]):
            last[key] = (r.ts, r.event_id, r.value)
    series = defaultdict(list)
    for (pair, bucket), (_, _, close) in sorted(last.items(),
                                                key=lambda kv: kv[0]):
        series[pair].append(close)

    dd_got = {
        r.pair: (r.n_hours, r.max_drawdown)
        for r in QUERIES["window_max_drawdown"].spark(spark, sf_dir).collect()
    }
    vol_got = {
        r.pair: (r.n_returns, r.vol_hourly)
        for r in QUERIES["agg_log_return_volatility"].spark(spark, sf_dir).collect()
    }
    assert set(dd_got) == set(series)
    for pair, closes in series.items():
        peak, worst = closes[0], 0.0
        dds = []
        for c in closes:
            peak = max(peak, c)
            dds.append(round(c / peak - 1, 9))
        worst = round(min(dds), 6)
        assert dd_got[pair] == (len(closes), worst), pair
        assert -1 <= dd_got[pair][1] <= 0
        rets = [
            round(math.log(b / a), 9) for a, b in zip(closes, closes[1:])
        ]
        if not rets:
            assert pair not in vol_got
            continue
        n, sx = len(rets), sum(rets)
        sxx = sum(x * x for x in rets)
        vol = round(math.sqrt(max(n * sxx - sx * sx, 0)) / n, 6)
        assert vol_got[pair][0] == n
        assert abs(vol_got[pair][1] - vol) < 2e-6, (pair, vol_got[pair], vol)
        assert vol_got[pair][1] >= 0


def test_token_budget_quota_laws(spark, sf_dir):
    """Budget law: every language's kept set fits the budget, is
    prefix-closed in quality order (no skipped better-ranked doc), and
    adding the next-ranked doc would exceed the budget (maximality)."""
    from rippled_historical_database_spark.operators.sampling import (
        TOKEN_BUDGET,
    )

    rows = QUERIES["sample_token_budget_quota"].spark(spark, sf_dir).collect()
    docs = {
        r.doc_id: (r.lang, r.n_chars)
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .collect()
    }
    toks = {
        r.doc_id: len(r.text.lower().strip().split())
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    langs = {v[0] for v in docs.values()}
    for lang in langs:
        kept = sorted(by_lang.get(lang, []), key=lambda r: r.rank)
        order = sorted(
            (d for d, (lg, _) in docs.items() if lg == lang),
            key=lambda d: (-docs[d][1], d),
        )
        total = 0
        expect_kept = []
        for d in order:
            if total + toks[d] > TOKEN_BUDGET:
                break  # prefix-closed greedy: stop at the first misfit
            total += toks[d]
            expect_kept.append(d)
        assert [r.doc_id for r in kept] == expect_kept, lang
        assert total <= TOKEN_BUDGET
        if len(expect_kept) < len(order):
            nxt = order[len(expect_kept)]
            assert total + toks[nxt] > TOKEN_BUDGET, lang


def test_js_divergence_matches_full_domain_python(spark, sf_dir):
    """Spine-free JSD == the definitional full-domain computation in
    Python (including absent-word terms), and every value sits in the
    JSD range [0, 1] bits."""
    import math
    from collections import Counter

    from rippled_historical_database_spark.operators.text_analysis import (
        JS_VOCAB_K,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("source", "text")
        .collect()
    )
    uni = Counter()
    per_src = {}
    for r in docs:
        toks = [w for w in r.text.lower().strip().split() if w]
        uni.update(toks)
        per_src.setdefault(r.source, Counter()).update(toks)
    vocab = set(
        w for w, _ in sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:JS_VOCAB_K]
    )

    def mapped(cnt):
        out = Counter()
        for w, c in cnt.items():
            out[w if w in vocab else "<oov>"] += c
        return out

    corpus = mapped(uni)
    n = sum(corpus.values())
    got = {
        r.source: r.js_bits
        for r in QUERIES["text_js_divergence_by_source"].spark(spark, sf_dir).collect()
    }
    assert set(got) == set(per_src)
    for src, cnt in per_src.items():
        pm = mapped(cnt)
        ns = sum(pm.values())
        jsd = 0.0
        for w in corpus:  # full domain, absent words included
            p = pm.get(w, 0) / ns
            q = corpus[w] / n
            m = (p + q) / 2
            if p:
                jsd += 0.5 * p * math.log2(p / m)
            if q:
                jsd += 0.5 * q * math.log2(q / m)
        assert abs(got[src] - jsd) < 1e-5, (src, got[src], jsd)
        assert -1e-9 <= got[src] <= 1 + 1e-9


def test_float_aggregates_independent_of_partition_count(spark, sf_dir):
    """The DECIMAL-accumulator policy's empirical check: every
    float-bearing aggregate must produce IDENTICAL results when the
    shuffle partition count (hence accumulation order) changes --
    the property that makes the oracles exact instead of epsilon-based
    and the 1000-executor result equal to the local one."""
    names = (
        "text_kneser_ney_bigram",
        "text_js_divergence_by_source",
        "agg_log_return_volatility",
        "profile_mutual_information",
        "text_heaps_law",
        "text_zipf_slope",
        "privacy_t_closeness",
        "window_max_drawdown",
    )

    def snapshot(name):
        df = QUERIES[name].spark(spark, sf_dir)
        return sorted(tuple(r) for r in df.collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    base = {n: snapshot(n) for n in names}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        for n in names:
            assert snapshot(n) == base[n], n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_bollinger_and_rsi_match_python_series(spark, sf_dir):
    """Band/oscillator math recomputed from the independent close
    series: full windows only, mid between the bands, RSI in [0, 100],
    values equal to the definitional rolling computation."""
    import math
    from collections import defaultdict

    from rippled_historical_database_spark.operators.candles import (
        BB_K, BB_N, RSI_N,
    )

    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    last = {}
    for r in rows:
        key = (r.event_type, r.ts.replace(minute=0, second=0, microsecond=0))
        cur = last.get(key)
        if cur is None or (r.ts, r.event_id) > (cur[0], cur[1]):
            last[key] = (r.ts, r.event_id, r.value)
    series = defaultdict(list)
    for (pair, bucket), (_, _, close) in sorted(last.items(),
                                                key=lambda kv: kv[0]):
        series[pair].append((bucket, close))

    bb = defaultdict(dict)
    for r in QUERIES["window_bollinger_bands"].spark(spark, sf_dir).collect():
        bb[r.pair][r.bucket] = r
    rsi = defaultdict(dict)
    for r in QUERIES["window_rsi_cutler"].spark(spark, sf_dir).collect():
        rsi[r.pair][r.bucket] = r.rsi

    for pair, pts in series.items():
        closes = [round(c, 9) for _, c in pts]
        # Bollinger
        expect_b = {}
        for i in range(BB_N - 1, len(closes)):
            win = closes[i - BB_N + 1 : i + 1]
            n, sx = len(win), sum(win)
            sxx = sum(c * c for c in win)
            sd = math.sqrt(max(n * sxx - sx * sx, 0)) / n
            expect_b[pts[i][0]] = (
                round(sx / n, 6),
                round(sx / n + BB_K * sd, 6),
                round(sx / n - BB_K * sd, 6),
            )
        got_b = bb.get(pair, {})
        assert set(got_b) == set(expect_b), pair
        for bkt, (mid, up, lo) in expect_b.items():
            g = got_b[bkt]
            assert abs(g.mid - mid) < 2e-6 and abs(g.upper - up) < 2e-6 \
                and abs(g.lower - lo) < 2e-6, (pair, bkt)
            assert g.lower <= g.mid <= g.upper
            assert g.breakout == (g.close > g.upper or g.close < g.lower)
        # RSI
        deltas = [round(b - a, 9) for a, b in zip(closes, closes[1:])]
        expect_r = {}
        for i in range(RSI_N - 1, len(deltas)):
            win = deltas[i - RSI_N + 1 : i + 1]
            sg = sum(d for d in win if d > 0)
            sl = sum(-d for d in win if d < 0)
            expect_r[pts[i + 1][0]] = (
                100.0 if sl == 0 else round(100.0 - 100.0 / (1.0 + sg / sl), 6)
            )
        got_r = rsi.get(pair, {})
        assert set(got_r) == set(expect_r), pair
        for bkt, v in expect_r.items():
            assert abs(got_r[bkt] - v) < 2e-6, (pair, bkt, got_r[bkt], v)
            assert 0 <= got_r[bkt] <= 100


def test_snapshot_diff_round_trips(spark, sf_dir):
    """Applying the emitted changeset to snapshot A must reproduce
    snapshot B exactly, and every op arm must fire (the derived
    snapshots guarantee inserts, updates AND deletes at every SF)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    snap_a = {
        r.event_id: (r.user_id, r.value)
        for r in e.collect()
        if r.event_id % 9 != 0
    }
    snap_b = {
        r.event_id: (
            r.user_id,
            r.value + 1.0 if r.event_id % 5 == 0 else r.value,
        )
        for r in e.collect()
        if r.event_id % 7 != 0
    }
    changes = QUERIES["cdc_snapshot_diff"].spark(spark, sf_dir).collect()
    ops = {r.op for r in changes}
    assert ops == {"I", "U", "D"}, ops
    rebuilt = dict(snap_a)
    for r in changes:
        if r.op == "D":
            del rebuilt[r.event_id]
        else:
            # user_id is not in the changeset payload here; take it from
            # whichever snapshot defines the row after the change
            rebuilt[r.event_id] = (
                snap_b[r.event_id][0],
                r.new_value,
            )
            assert r.new_value == snap_b[r.event_id][1]
        if r.op == "U":
            assert r.old_value == snap_a[r.event_id][1]
    assert rebuilt == snap_b
