"""Round-11 operator laws: streaming Bollinger twin, top currencies."""

from __future__ import annotations

import pytest


def test_stream_bollinger_equals_batch(spark, sf_dir):
    """The streamed Bollinger rows must equal window_bollinger_bands
    row-for-row -- same EXACT arithmetic (decimal window sums, IEEE
    stddev, HALF_UP 6-decimal round), so equality is bitwise, not
    epsilon."""
    from rippled_historical_database_spark.operators.candles import (
        window_bollinger_bands,
    )
    from rippled_historical_database_spark.streaming.rsi_stream import (
        stream_bollinger_bands,
    )

    batch = window_bollinger_bands(spark, sf_dir).collect()
    streamed = stream_bollinger_bands(spark, sf_dir).collect()
    assert len(batch) == len(streamed) > 0
    for b, s in zip(batch, streamed):
        assert (b.pair, b.bucket) == (s.pair, s.bucket)
        assert b.close == s.close
        assert b.mid == s.mid, (b.pair, b.bucket)
        assert b.upper == s.upper, (b.pair, b.bucket)
        assert b.lower == s.lower, (b.pair, b.bucket)
        assert b.breakout == s.breakout


def test_bollinger_state_is_ring_bounded():
    """The per-pair state is exactly the BB_N-close ring: feeding 10x
    BB_N bars leaves at most BB_N doubles in state (bounded by live
    pairs, never history)."""
    import pandas as pd

    from rippled_historical_database_spark.operators.candles import BB_N
    from rippled_historical_database_spark.streaming.rsi_stream import (
        _update_bollinger,
    )

    class FakeState:
        exists = False

        def __init__(self):
            self.stored = None

        @property
        def get(self):
            return self.stored

        def update(self, v):
            self.stored = v
            self.exists = True

    st = FakeState()
    bars = pd.DataFrame(
        {
            "bucket": pd.date_range("2024-01-01", periods=10 * BB_N, freq="h"),
            "c": [float(i % 17) + 0.125 for i in range(10 * BB_N)],
        }
    )
    out = list(_update_bollinger(("XRP/USD",), iter([bars]), st))
    assert len(st.stored[0]) == BB_N
    # emission starts at the first full window
    assert len(out[0]) == 10 * BB_N - (BB_N - 1)


def test_top_currencies_rank_properties(spark, sf_dir):
    """Per-day ranks are 1..k contiguous, normalized volume is
    non-increasing within a day, and every (date, currency) is unique."""
    from rippled_historical_database_spark.operators.topk import (
        top_currencies_daily,
    )

    rows = top_currencies_daily(spark, sf_dir).collect()
    assert rows
    by_day: dict = {}
    for r in rows:
        by_day.setdefault(r.date, []).append(r)
    for day, rs in by_day.items():
        ranks = [r.rank for r in rs]
        assert ranks == list(range(1, len(rs) + 1)), day
        vols = [r.normalized_volume for r in rs]
        assert all(a >= b for a, b in zip(vols, vols[1:])), day
        assert len({r.currency for r in rs}) == len(rs)


def test_top_currencies_normalization_is_rate_division(spark, sf_dir):
    """normalized_volume * day rate == payment+exchange volume (the
    aggregation pipeline's XRP normalization, inverted)."""
    from pyspark.sql import functions as F

    from rippled_historical_database_spark.functions.numeric import dsum
    from rippled_historical_database_spark.operators.topk import (
        top_currencies_daily,
    )
    from rippled_historical_database_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    rate = {
        r.date: r.rate
        for r in e.filter(F.col("event_type") == "click")
        .groupBy(F.date_trunc("day", "ts").alias("date"))
        .agg((dsum("value") / F.count("value")).alias("rate"))
        .collect()
    }
    for r in top_currencies_daily(spark, sf_dir).collect():
        raw = (r.payment_volume or 0.0) + (r.exchange_volume or 0.0)
        assert r.normalized_volume == pytest.approx(raw / rate[r.date])


def test_stream_stochastic_equals_batch(spark, sf_dir):
    """streamed == batch row-for-row, bitwise (same exact arithmetic)."""
    from rippled_historical_database_spark.operators.candles import (
        window_stochastic_oscillator,
    )
    from rippled_historical_database_spark.streaming.rsi_stream import (
        stream_stochastic_oscillator,
    )

    batch = window_stochastic_oscillator(spark, sf_dir).collect()
    streamed = stream_stochastic_oscillator(spark, sf_dir).collect()
    assert len(batch) == len(streamed) > 0
    for b, s in zip(batch, streamed):
        assert (b.pair, b.bucket) == (s.pair, s.bucket)
        assert b.pct_k == s.pct_k, (b.pair, b.bucket)
        assert b.pct_d == s.pct_d, (b.pair, b.bucket)


def test_stream_keltner_equals_batch(spark, sf_dir):
    """streamed == batch row-for-row, bitwise (the two EMA folds
    replicated digit-for-digit with six scalars of state)."""
    from rippled_historical_database_spark.operators.candles import (
        window_keltner_channels,
    )
    from rippled_historical_database_spark.streaming.rsi_stream import (
        stream_keltner_channels,
    )

    batch = window_keltner_channels(spark, sf_dir).collect()
    streamed = stream_keltner_channels(spark, sf_dir).collect()
    assert len(batch) == len(streamed) > 0
    for b, s in zip(batch, streamed):
        assert (b.pair, b.bucket) == (s.pair, s.bucket)
        assert b.mid == s.mid, (b.pair, b.bucket)
        assert b.upper == s.upper, (b.pair, b.bucket)
        assert b.lower == s.lower, (b.pair, b.bucket)


def test_keltner_state_is_six_scalars():
    """The Keltner fold state never grows: after 1000 bars it is still
    (i, s_tp, s_tr, ema, atr, prev_close)."""
    import pandas as pd

    from rippled_historical_database_spark.streaming.rsi_stream import (
        _update_keltner,
    )

    class FakeState:
        exists = False

        def __init__(self):
            self.stored = None

        @property
        def get(self):
            return self.stored

        def update(self, v):
            self.stored = v
            self.exists = True

    st = FakeState()
    bars = pd.DataFrame(
        {
            "bucket": pd.date_range("2024-01-01", periods=1000, freq="h"),
            "high": [float(i % 13) + 2.0 for i in range(1000)],
            "low": [float(i % 13) for i in range(1000)],
            "close": [float(i % 13) + 1.0 for i in range(1000)],
        }
    )
    out = list(_update_keltner(("XRP/USD",), iter([bars]), st))
    assert len(st.stored) == 6
    assert st.stored[0] == 1000
    assert len(out[0]) == 1000 - 19  # emits from bar KC_N onward


@pytest.mark.parametrize(
    "batch_name,stream_name,cols",
    [
        ("window_macd", "stream_macd", ("macd", "signal", "histogram")),
        ("window_obv", "stream_obv", ("obv",)),
        ("window_rsi_cutler", "stream_rsi_cutler", ("rsi",)),
    ],
)
def test_stream_twin_equals_batch(spark, sf_dir, batch_name, stream_name, cols):
    """The family-completion law: every remaining batch indicator's
    streaming twin matches it row-for-row, bitwise."""
    from rippled_historical_database_spark.plans.registry import all_queries

    qs = all_queries()
    batch = qs[batch_name].spark(spark, sf_dir).collect()
    streamed = qs[stream_name].spark(spark, sf_dir).collect()
    assert len(batch) == len(streamed) > 0
    for b, s in zip(batch, streamed):
        assert (b.pair, b.bucket) == (s.pair, s.bucket)
        for c in cols:
            assert getattr(b, c) == getattr(s, c), (batch_name, b.pair, b.bucket, c)


def test_every_window_indicator_has_a_stream_twin():
    """Registry-level completeness: each window_* indicator over the
    per-pair hourly series has a stream_* twin sharing its oracle
    (window_max_drawdown's twin runs in UPDATE mode -- a running
    aggregate revised per micro-batch -- and window_ichimoku's twin
    keeps the batch name stream_ichimoku)."""
    from rippled_historical_database_spark.plans.registry import all_queries

    qs = all_queries()
    twins = {
        "window_max_drawdown": "stream_max_drawdown",
        "window_rsi_wilder": "stream_rsi_wilder",
        "window_atr_wilder": "stream_atr_wilder",
        "window_ichimoku": "stream_ichimoku",
        "window_bollinger_bands": "stream_bollinger_bands",
        "window_stochastic_oscillator": "stream_stochastic_oscillator",
        "window_keltner_channels": "stream_keltner_channels",
        "window_macd": "stream_macd",
        "window_obv": "stream_obv",
        "window_rsi_cutler": "stream_rsi_cutler",
        "window_donchian_channels": "stream_donchian_channels",
        "window_rolling_zscore": "stream_rolling_zscore",
        "window_gap_interpolation": "stream_gap_interpolation",
    }
    for batch_name, stream_name in twins.items():
        assert batch_name in qs, batch_name
        assert stream_name in qs, stream_name


def test_stream_max_drawdown_equals_batch(spark, sf_dir):
    """The update-mode twin's last revision per pair equals the batch
    final aggregate, bitwise."""
    from rippled_historical_database_spark.operators.candles import (
        window_max_drawdown,
    )
    from rippled_historical_database_spark.streaming.rsi_stream import (
        stream_max_drawdown,
    )

    batch = window_max_drawdown(spark, sf_dir).collect()
    streamed = stream_max_drawdown(spark, sf_dir).collect()
    assert len(batch) == len(streamed) > 0
    for b, s in zip(batch, streamed):
        assert b.pair == s.pair
        assert b.n_hours == s.n_hours
        assert b.max_drawdown == s.max_drawdown, b.pair


# ---------------------------------------------- Donchian channel twin


def test_stream_donchian_equals_batch(spark, sf_dir):
    """The streamed Donchian rows must equal window_donchian_channels
    row-for-row.  Every term is IEEE-exact (extrema are selections,
    mid one add + halve), so equality is bitwise with no rounding
    discipline at all."""
    from rippled_historical_database_spark.operators.candles import (
        window_donchian_channels,
    )
    from rippled_historical_database_spark.streaming.rsi_stream import (
        stream_donchian_channels,
    )

    batch = window_donchian_channels(spark, sf_dir).collect()
    streamed = stream_donchian_channels(spark, sf_dir).collect()
    assert len(batch) == len(streamed) > 0
    for b, s in zip(batch, streamed):
        assert (b.pair, b.bucket) == (s.pair, s.bucket)
        for c in ("close", "upper", "lower", "mid",
                  "breakout_up", "breakout_down"):
            assert getattr(b, c) == getattr(s, c), (b.pair, b.bucket, c)


def test_donchian_state_is_ring_bounded():
    """Per-pair state is exactly the DC_N (high, low) ring: feeding
    10x DC_N bars leaves DC_N entries; emission starts at bar DC_N+1
    (the frame EXCLUDES the current bar)."""
    import pandas as pd

    from rippled_historical_database_spark.operators.candles import DC_N
    from rippled_historical_database_spark.streaming.rsi_stream import (
        _update_donchian,
    )

    class FakeState:
        exists = False

        def __init__(self):
            self.stored = None

        @property
        def get(self):
            return self.stored

        def update(self, v):
            self.stored = v
            self.exists = True

    st = FakeState()
    n = 10 * DC_N
    bars = pd.DataFrame(
        {
            "bucket": pd.date_range("2024-01-01", periods=n, freq="h"),
            "high": [float(i % 7) + 2.0 for i in range(n)],
            "low": [float(i % 7) for i in range(n)],
            "close": [float(i % 7) + 1.0 for i in range(n)],
        }
    )
    out = list(_update_donchian(("XRP/USD",), iter([bars]), st))
    assert len(st.stored[0]) == DC_N
    assert len(st.stored[1]) == DC_N
    assert len(out[0]) == n - DC_N


# ---------------------------------------------- rolling z-score twin


def test_stream_rolling_zscore_equals_batch(spark, sf_dir):
    """The streamed z-score rows must equal window_rolling_zscore
    row-for-row -- integer baseline sums are exact, the z op sequence
    is fixed IEEE, so equality is bitwise (NULL z included)."""
    from rippled_historical_database_spark.operators.anomaly import (
        window_rolling_zscore,
    )
    from rippled_historical_database_spark.streaming.rsi_stream import (
        stream_rolling_zscore,
    )

    batch = window_rolling_zscore(spark, sf_dir).collect()
    streamed = stream_rolling_zscore(spark, sf_dir).collect()
    assert len(batch) == len(streamed) > 0
    for b, s in zip(batch, streamed):
        assert (b.event_type, b.bucket_start) == (s.event_type, s.bucket_start)
        assert b.n == s.n
        assert b.baseline_hours == s.baseline_hours
        assert b.z == s.z, (b.event_type, b.bucket_start)
        assert b.is_anomaly == s.is_anomaly


def test_rolling_zscore_state_evicts_by_index_distance():
    """A gap in the series must SHRINK the baseline (RANGE-frame
    semantics, not ROWS): after a BASELINE_HOURS-sized gap only the
    entries inside the horizon remain in state, and the first row
    after the gap scores against an empty baseline (z NULL)."""
    import pandas as pd

    from rippled_historical_database_spark.operators.anomaly import (
        BASELINE_HOURS,
    )
    from rippled_historical_database_spark.streaming.rsi_stream import (
        _update_rolling_zscore,
    )

    class FakeState:
        exists = False

        def __init__(self):
            self.stored = None

        @property
        def get(self):
            return self.stored

        def update(self, v):
            self.stored = v
            self.exists = True

    st = FakeState()
    base = pd.Timestamp("2024-01-01")
    # 48 contiguous hours, then a gap of BASELINE_HOURS+5, then 1 row.
    idxs = list(range(48)) + [48 + BASELINE_HOURS + 5]
    rows = pd.DataFrame(
        {
            "bucket_start": [base + pd.Timedelta(hours=i) for i in idxs],
            "hour_idx": [473400 + i for i in idxs],
            "n": [10 + (i % 3) for i in idxs],
        }
    )
    out = list(_update_rolling_zscore(("buy",), iter([rows]), st))
    df = out[0]
    # state bounded by the horizon: only the final entry survives
    assert len(st.stored[0]) == 1
    last = df.iloc[-1]
    assert last["baseline_hours"] == 0
    assert last["z"] is None or pd.isna(last["z"])
    assert not last["is_anomaly"]
    # in the contiguous prefix the baseline saturates at BASELINE_HOURS
    assert df["baseline_hours"].max() == BASELINE_HOURS


# ------------------------------------- LSH candidate-then-exact-verify


def test_lsh_verified_pairs_subset_of_exact_jaccard(spark, sf_dir):
    """dedup_lsh_verified_pairs = dedup_ngram_jaccard restricted to the
    LSH candidate set: every verified pair must appear in the full
    exact-Jaccard relation with identical n_common and jaccard (the
    verify stage computes the SAME statistic, only on fewer pairs),
    and the LSH restriction can only DROP pairs, never add."""
    from rippled_historical_database_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in qs["dedup_ngram_jaccard"].spark(spark, sf_dir).collect()
    }
    verified = qs["dedup_lsh_verified_pairs"].spark(spark, sf_dir).collect()
    assert len(verified) <= len(exact)
    for r in verified:
        assert (r.doc_a, r.doc_b) in exact, (r.doc_a, r.doc_b)
        n_common, jaccard = exact[(r.doc_a, r.doc_b)]
        assert r.n_common == n_common
        assert r.jaccard == jaccard


def test_shingle_pair_stats_df_pruning_is_lossless(spark, sf_dir):
    """The df>=2 shingle pruning inside shingle_pair_stats must be
    invisible in the output: a shingle held by one document can never
    produce a pair, so the pruned and unpruned relations are equal."""
    from pyspark.sql import functions as F

    from rippled_historical_database_spark.operators.dedup import (
        doc_shingles,
        shingle_pair_stats,
    )
    from rippled_historical_database_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    pruned = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b)
        for r in shingle_pair_stats(d).collect()
    }
    ds = doc_shingles(d)
    sizes = ds.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = ds.alias("a"), ds.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    unpruned = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b)
        for r in inter.join(
            sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id")
        )
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a", "doc_b", "n_common",
            F.col("sa.n").alias("n_a"), F.col("sb.n").alias("n_b"),
        )
        .collect()
    }
    assert pruned == unpruned and len(pruned) > 0


# ------------------------------------------- VAD segmentation laws


def test_vad_segments_laws(spark, sf_dir):
    """Per doc: segments are disjoint, ordered, min-length gated, and
    inside the clip's frame grid; ms bookkeeping is frame-exact."""
    from rippled_historical_database_spark.operators.multimodal import (
        FRAME_MS,
        HOP_MS,
        VAD_MIN_FRAMES,
        multimodal_vad_segments,
    )

    rows = multimodal_vad_segments(spark, sf_dir).collect()
    assert len(rows) > 0
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, segs in by_doc.items():
        prev_end = -2
        for i, s in enumerate(segs, start=1):
            assert s.segment_idx == i, (doc_id, i)
            assert s.n_frames >= VAD_MIN_FRAMES
            assert s.end_frame - s.start_frame + 1 == s.n_frames
            # disjoint AND non-adjacent: an adjacent run would have
            # been merged into one island
            assert s.start_frame > prev_end + 1, (doc_id, i)
            prev_end = s.end_frame
            assert s.start_ms == s.start_frame * HOP_MS
            assert s.end_ms == s.end_frame * HOP_MS + FRAME_MS
            assert 0.0 <= s.mean_energy < 1.0


# ------------------------------------------- nearest as-of join laws


def test_asof_nearest_single_window_single_exchange(spark, sf_dir):
    """Both fills (backward last, forward first) must fuse into ONE
    Window over one keyed exchange -- nearest costs the same single
    shuffle as backward-only (plus the output sort)."""
    from rippled_historical_database_spark.plans.registry import all_queries

    df = all_queries()["join_asof_nearest"].spark(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    # one partitionBy exchange + the final orderBy's rangepartitioning
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan


def test_asof_nearest_matches_pandas_merge_asof(spark, sf_dir):
    """Independent third-engine check: pandas merge_asof with
    direction='nearest' (the semantics the operator names) must agree
    on every probe's chosen value."""
    import pandas as pd

    from rippled_historical_database_spark.plans.registry import all_queries
    from rippled_historical_database_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "events").toPandas()
    quotes = (
        e[e.event_type == "purchase"][["user_id", "ts", "value"]]
        .sort_values(["ts", "user_id"])
        .reset_index(drop=True)
    )
    probes = (
        e[e.event_type == "view"][["user_id", "ts", "event_id"]]
        .sort_values(["ts", "user_id"])
        .reset_index(drop=True)
    )
    merged = pd.merge_asof(
        probes, quotes, on="ts", by="user_id", direction="nearest"
    )
    expect = {
        (r.user_id, r.event_id): r.value for r in merged.itertuples()
    }
    got = all_queries()["join_asof_nearest"].spark(spark, sf_dir).collect()
    assert len(got) == len(expect) > 0
    for r in got:
        exp = expect[(r.user_id, r.event_id)]
        if pd.isna(exp):
            assert r.nearest_value is None
        else:
            # merge_asof picks SOME nearest quote; on equal-distance
            # DIFFERENT-VALUE quotes implementations may disagree on
            # the tiebreak, but the distance itself is unique here
            # because event timestamps are microsecond-distinct per key
            assert r.nearest_value == exp, (r.user_id, r.event_id)


# ----------------------------------------------- HITS score laws


def test_hits_normalization_and_support(spark, sf_dir):
    """Max-normalization: some node holds authority exactly 1.0 and
    some node hub exactly 1.0; all scores in [0, 1]; authority > 0
    exactly on nodes with an in-edge, hub > 0 on nodes with an
    out-edge (after the final iteration)."""
    from rippled_historical_database_spark.operators.graph import (
        _edges,
        graph_hits,
    )

    rows = graph_hits(spark, sf_dir).collect()
    assert rows
    assert all(0.0 <= r.authority <= 1.0 for r in rows)
    assert all(0.0 <= r.hub <= 1.0 for r in rows)
    assert max(r.authority for r in rows) == 1.0
    assert max(r.hub for r in rows) == 1.0
    e = _edges(spark, sf_dir).select("src", "dst").distinct().collect()
    has_in = {r.dst for r in e}
    has_out = {r.src for r in e}
    for r in rows:
        assert (r.authority > 0) == (r.node in has_in), r.node
        assert (r.hub > 0) == (r.node in has_out), r.node


# ------------------------------------ length-bucketed batching laws


def test_length_bucketed_batches_laws(spark, sf_dir):
    """Accounting closes: batch doc counts sum to the corpus size,
    batch ids are dense in [0, ceil(bucket_n/B)), every batch max fits
    its bucket cap, and waste is bounded below 1."""
    import math

    from rippled_historical_database_spark.operators.sampling import (
        BATCH_DOCS,
        LEN_BUCKETS,
        sample_length_bucketed_batches,
    )
    from rippled_historical_database_spark.sources.catalog import load_table

    rows = sample_length_bucketed_batches(spark, sf_dir).collect()
    assert rows
    n_docs_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs_total
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.len_bucket, []).append(r)
    caps = list(LEN_BUCKETS)
    for cap, batches in by_bucket.items():
        assert cap in caps
        lower = caps[caps.index(cap) - 1] if caps.index(cap) > 0 else 0
        bucket_n = sum(b.n_docs for b in batches)
        n_batches = math.ceil(bucket_n / BATCH_DOCS)
        assert sorted(b.batch_id for b in batches) == list(
            range(len(batches))
        )
        assert len(batches) <= n_batches
        for b in batches:
            assert lower < b.max_tokens <= cap
            assert b.sum_tokens <= b.padded_tokens
            assert 0.0 <= b.waste_frac < 1.0
            assert b.padded_tokens == b.n_docs * b.max_tokens


# ------------------------------------------ gap interpolation laws


def test_gap_interpolation_laws(spark, sf_dir):
    """The repaired series is a complete hourly spine per pair; real
    bars pass through bit-identically; every interpolated close lies
    inside its neighbors' value interval (linear interpolation cannot
    overshoot)."""
    from rippled_historical_database_spark.operators.candles import (
        bars,
        window_gap_interpolation,
    )

    real = {
        (r.pair, r.bucket): r.close
        for r in bars(spark, sf_dir)
        .select("pair", "bucket", "close")
        .collect()
    }
    rows = window_gap_interpolation(spark, sf_dir).collect()
    assert rows
    by_pair: dict[str, list] = {}
    for r in rows:
        by_pair.setdefault(r.pair, []).append(r)
    n_interp = 0
    for pair, series in by_pair.items():
        buckets = [r.bucket for r in series]
        # complete spine: hourly, no holes, endpoints are real bars
        assert all(
            (b2 - b1).total_seconds() == 3600
            for b1, b2 in zip(buckets, buckets[1:])
        ), pair
        assert (pair, buckets[0]) in real and (pair, buckets[-1]) in real
        for i, r in enumerate(series):
            if not r.is_interpolated:
                assert r.close == real[(pair, r.bucket)]
                continue
            n_interp += 1
            prev = next(
                series[j] for j in range(i - 1, -1, -1)
                if not series[j].is_interpolated
            )
            nxt = next(
                series[j] for j in range(i + 1, len(series))
                if not series[j].is_interpolated
            )
            lo, hi = sorted((prev.close, nxt.close))
            assert lo - 1e-9 <= r.close <= hi + 1e-9, (pair, r.bucket)
    assert n_interp > 0


def test_stream_gap_interpolation_equals_batch(spark, sf_dir):
    """Repair-on-close twin: streamed == batch row-for-row, bitwise
    (exact integer hour ratios, same IEEE sequence, same 9-dp round)."""
    from rippled_historical_database_spark.operators.candles import (
        window_gap_interpolation,
    )
    from rippled_historical_database_spark.streaming.rsi_stream import (
        stream_gap_interpolation,
    )

    batch = window_gap_interpolation(spark, sf_dir).collect()
    streamed = stream_gap_interpolation(spark, sf_dir).collect()
    assert len(batch) == len(streamed) > 0
    for b, s in zip(batch, streamed):
        assert (b.pair, b.bucket) == (s.pair, s.bucket)
        assert b.close == s.close, (b.pair, b.bucket)
        assert b.is_interpolated == s.is_interpolated


# ------------------------------------------------ dollar-bar laws


def test_dollar_bars_laws(spark, sf_dir):
    """Conservation + boundary laws: bar ids are dense per pair, bars
    are time-ordered and non-overlapping, each non-final bar closes
    only once the RUNNING notional has crossed its boundary (sum of
    bars 0..k >= (k+1)*T -- a single bar can fall short when the
    previous bar's last trade overshot, so the invariant is on the
    running total, not the bar), and volumes/trade counts close
    against the filtered trade stream."""
    from pyspark.sql import functions as F

    from rippled_historical_database_spark.operators.candles import (
        DOLLAR_BAR_T,
        DUST,
        agg_dollar_bars,
    )
    from rippled_historical_database_spark.sources.catalog import load_table

    bars = agg_dollar_bars(spark, sf_dir).collect()
    assert bars
    e = load_table(spark, sf_dir, "events").filter(
        ~(F.col("value") < DUST)
    )
    n_trades = e.count()
    assert sum(b.n_trades for b in bars) == n_trades
    by_pair: dict[str, list] = {}
    for b in bars:
        by_pair.setdefault(b.pair, []).append(b)
    for pair, bs in by_pair.items():
        ids = [b.bar_id for b in bs]
        # strictly increasing from 0; a gap is legal exactly when one
        # trade carries more than a whole bar's notional (floor-of-
        # cumsum binning skips the ids its overshoot covers)
        assert ids[0] == 0 and ids == sorted(set(ids)), pair
        for prev, nxt in zip(bs, bs[1:]):
            assert prev.end_ts <= nxt.start_ts, pair
        running = 0.0
        for b in bs[:-1]:  # every bar except the final partial one
            running += b.dollar_volume
            assert running >= (b.bar_id + 1) * DOLLAR_BAR_T - 1e-3, (
                pair, b.bar_id,
            )
        for b in bs:
            assert b.start_ts <= b.end_ts
            assert b.low <= min(b.open, b.close)
            assert b.high >= max(b.open, b.close)


def test_stream_dollar_bars_equals_batch(spark, sf_dir):
    """Update-mode twin: each (pair, bar)'s last revision equals the
    batch bar bitwise -- including the final partial bar."""
    from rippled_historical_database_spark.operators.candles import (
        agg_dollar_bars,
    )
    from rippled_historical_database_spark.streaming.rsi_stream import (
        stream_dollar_bars,
    )

    batch = agg_dollar_bars(spark, sf_dir).collect()
    streamed = stream_dollar_bars(spark, sf_dir).collect()
    assert len(batch) == len(streamed) > 0
    for b, s in zip(batch, streamed):
        assert (b.pair, b.bar_id) == (s.pair, s.bar_id)
        for c in ("start_ts", "end_ts", "open", "high", "low", "close",
                  "base_volume", "dollar_volume", "n_trades"):
            assert getattr(b, c) == getattr(s, c), (b.pair, b.bar_id, c)


# --------------------------------------------- DP release laws


def test_dp_noised_counts_laws(spark, sf_dir):
    """Mechanism laws: the release is reproducible (seeded draw),
    non-negative, and every noised count sits within the grid's
    maximum noise magnitude b*ln(1000) of the true count; epsilon is
    stamped on every row and true counts never appear as a column."""
    import math

    from pyspark.sql import functions as F

    from rippled_historical_database_spark.operators.profiling import (
        DP_EPSILON,
        privacy_dp_noised_counts,
    )
    from rippled_historical_database_spark.sources.catalog import load_table

    rows = privacy_dp_noised_counts(spark, sf_dir).collect()
    again = privacy_dp_noised_counts(spark, sf_dir).collect()
    assert rows == again and rows
    assert "noised_count" in rows[0].asDict()
    assert "c" not in rows[0].asDict()
    true = {
        (r.event_type, r.date): r.c
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("date"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    max_noise = math.log(1000.0) / DP_EPSILON + 0.5  # + the final round
    assert len(rows) == len(true)
    noise_seen = set()
    for r in rows:
        assert r.noised_count >= 0
        assert r.epsilon == DP_EPSILON
        t = true[(r.event_type, r.date)]
        assert abs(r.noised_count - t) <= max_noise, (r.event_type, r.date)
        noise_seen.add(r.noised_count - t)
    # the draw actually varies across groups (not a constant offset)
    assert len(noise_seen) > 1


# ------------------------------------------- moments sketch laws


def test_central_moments_merge_exactly(spark, sf_dir):
    """The five power sums must merge exactly from any slicing: sketch
    over the whole table == decimal-sum of per-day partial sketches;
    derived stats cross-check scipy-free against plain Python.
    (Round 14 split the query into sums/derived/exact probes -- the
    merge law lives on the sums surface, the float cross-check on the
    derived surface, keyed together by event_type.)"""
    from pyspark.sql import functions as F

    from rippled_historical_database_spark.operators.sketches import (
        sketch_central_moments,
        sketch_central_moments_derived,
    )
    from rippled_historical_database_spark.sources.catalog import load_table

    whole = {
        r.event_type: r for r in sketch_central_moments(spark, sf_dir).collect()
    }
    derived = {
        r.event_type: r
        for r in sketch_central_moments_derived(spark, sf_dir).collect()
    }
    # partial sketches use the SAME per-row decimal powers as the
    # operator (2-dp value -> exact decimal squares/cubes/quartics) so
    # re-merged decimals must equal the whole-table decimals EXACTLY.
    c = F.col("value").cast("decimal(9,2)")
    c2 = (c * c).cast("decimal(19,4)")
    c3 = (c2 * c).cast("decimal(28,6)")
    partial = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum(c).alias("s1"),
            F.sum(c2).alias("s2"),
            F.sum(c3).alias("s3"),
            F.sum((c3 * c).cast("decimal(38,8)")).alias("s4"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("s1").cast("decimal(38,2)").alias("s1"),
            F.sum("s2").cast("decimal(38,4)").alias("s2"),
            F.sum("s3").cast("decimal(38,6)").alias("s3"),
            F.sum("s4").cast("decimal(38,8)").alias("s4"),
        )
        .collect()
    )
    assert len(partial) == len(whole) > 0

    def _recon(w, k):
        # r15: the exact surface ships each scaled sum as base-10^18
        # BIGINT limbs; recombine to the exact integer, then undo the
        # 10^2k power scaling (exact in python ints -> Fraction-free
        # because the limbs are exact integers).
        hi = getattr(w, f"s{k}_hi")
        lo = getattr(w, f"s{k}_lo")
        return hi * 10**18 + lo

    from decimal import Decimal

    for p in partial:
        w = whole[p.event_type]
        # decimal partials re-merge to the EXACT whole-table sums
        # (limb recombination is exact integer arithmetic)
        assert p.n == w.n, p.event_type
        for k, col in ((1, p.s1), (2, p.s2), (3, p.s3), (4, p.s4)):
            assert Decimal(col).scaleb(2 * k) == _recon(w, k), (
                p.event_type, k,
            )
    # derived stats agree with a plain-Python computation over the
    # SAME sums surface
    for et, r in whole.items():
        d = derived[et]
        n = r.n
        s1, s2, s3, s4 = (
            _recon(r, 1) / 1e2, _recon(r, 2) / 1e4,
            _recon(r, 3) / 1e6, _recon(r, 4) / 1e8,
        )
        mean = s1 / n
        m2 = (s2 - s1 * s1 / n) / n
        assert d.mean == round(mean, 6) or abs(d.mean - mean) < 1e-6
        skew = (s3 - 3 * mean * s2 + 2 * n * mean ** 3) / (n * m2 ** 1.5)
        assert abs(d.skewness - skew) < 1e-5, et
        kurt = (
            s4 - 4 * mean * s3 + 6 * mean * mean * s2 - 3 * n * mean ** 4
        ) / (n * m2 ** 2) - 3
        assert abs(d.excess_kurtosis - kurt) < 1e-5, et
