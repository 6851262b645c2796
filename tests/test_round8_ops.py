"""Laws for the round-8 operator batch beyond the driver's oracle
compare: Heikin-Ashi recursion vs an independent Python replay and its
streaming twin, Ichimoku channel containment, boundary-census algebra,
entropy bounds, calibration/band accounting, decile monotonicity, and
audio-frame integer exactness."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from rippled_historical_database_spark.plans.registry import all_queries
from rippled_historical_database_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def qs():
    return all_queries()


from tests.rounding import fround_py as _r  # noqa: E402 -- shared fround replay


# ---------------------------------------------------------- Heikin-Ashi

def _python_heikin_ashi(bars):
    """Independent replay of the recursion over (o, h, l, c) tuples."""
    out, ho, hc = [], None, None
    for o, h, lo, c in bars:
        hc_new = _r((o + h + lo + c) / 4)
        ho = _r((o + c) / 2) if ho is None else _r((ho + hc) / 2)
        hc = hc_new
        out.append((ho, max(h, ho, hc_new), min(lo, ho, hc_new), hc_new))
    return out


def test_heikin_ashi_matches_python_recursion(spark, sf_dir, qs):
    from rippled_historical_database_spark.operators.candles import (
        bars as hourly_bars,
    )

    got = qs["agg_candles_heikin_ashi"].spark(spark, sf_dir).collect()
    pair = got[0]["pair"]
    bars = [
        (r["open"], r["high"], r["low"], r["close"])
        for r in hourly_bars(spark, sf_dir)
        .select("pair", "bucket", "open", "high", "low", "close")
        .filter(F.col("pair") == pair)
        .orderBy("bucket")
        .collect()
    ]
    exp = _python_heikin_ashi(bars)
    rows = [r for r in got if r["pair"] == pair]
    assert len(rows) == len(exp)
    for r, (ho, hh, hl, hc) in zip(rows, exp):
        assert (r["ha_open"], r["ha_high"], r["ha_low"], r["ha_close"]) == (
            ho, hh, hl, hc,
        ), r["bucket"]


def test_heikin_ashi_bar_sanity(spark, sf_dir, qs):
    for r in qs["agg_candles_heikin_ashi"].spark(spark, sf_dir).collect():
        assert r["ha_high"] >= max(r["ha_open"], r["ha_close"])
        assert r["ha_low"] <= min(r["ha_open"], r["ha_close"])


def test_stream_heikin_ashi_equals_batch(spark, sf_dir, qs):
    batch = qs["agg_candles_heikin_ashi"].spark(spark, sf_dir).collect()
    streamed = qs["stream_heikin_ashi"].spark(spark, sf_dir).collect()
    key = lambda r: (r["pair"], r["bucket"])  # noqa: E731
    assert sorted(map(tuple, streamed), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, batch), key=lambda t: (t[0], t[1])
    )
    assert {key(r) for r in streamed} == {key(r) for r in batch}


# -------------------------------------------------------------- Ichimoku

def test_ichimoku_channel_containment(spark, sf_dir, qs):
    """Every midpoint line lies inside the pair's global [low, high]
    envelope; tenkan reacts at least as fast as kijun (9-bar channel is
    a subset of the 26-bar one, so tenkan's channel is narrower)."""
    from rippled_historical_database_spark.operators.candles import (
        bars,
    )

    env = {
        r["pair"]: (r["lo"], r["hi"])
        for r in bars(spark, sf_dir)
        .select("pair", "bucket", "high", "low", "close")
        .groupBy("pair")
        .agg(F.min("low").alias("lo"), F.max("high").alias("hi"))
        .collect()
    }
    rows = qs["window_ichimoku"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        lo, hi = env[r["pair"]]
        for col in ("tenkan", "kijun", "senkou_a", "senkou_b"):
            assert lo - 1e-9 <= r[col] <= hi + 1e-9, (r["pair"], col)
        if r["chikou"] is not None:
            assert lo <= r["chikou"] <= hi


# ----------------------------------------------------- boundary census

def test_boundary_overlap_census_algebra(spark, sf_dir, qs):
    rows = qs["dedup_boundary_overlap"].spark(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    pref, suf, both = Counter(), Counter(), Counter()
    for (text,) in docs:
        toks = text.strip().lower().split()
        if len(toks) < 6:
            continue
        pk, sk = " ".join(toks[:3]), " ".join(toks[-3:])
        pref[pk] += 1
        suf[sk] += 1
        if pk == sk:
            both[pk] += 1
    got = {r["boundary_key"]: r for r in rows}
    assert set(got) == set(pref) | set(suf)
    for k, r in got.items():
        assert r["n_prefix_docs"] == pref.get(k, 0)
        assert r["n_suffix_docs"] == suf.get(k, 0)
        assert r["n_self"] == both.get(k, 0)
        assert r["candidate_pairs"] == (
            r["n_prefix_docs"] * r["n_suffix_docs"] - r["n_self"]
        )


# -------------------------------------------------------- word entropy

def test_word_entropy_bounds(spark, sf_dir, qs):
    rows = qs["text_word_entropy"].spark(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    max_words = (
        d.select(F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    for r in rows:
        assert 0.0 <= r["avg_entropy_bits"] <= r["max_entropy_bits"] + 1e-9
        assert r["max_entropy_bits"] <= math.log2(max_words) + 1e-6


# --------------------------------------------------- calibration bins

def test_calibration_bins_accounting(spark, sf_dir, qs):
    rows = qs["profile_calibration_bins"].spark(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    assert sum(r["n"] for r in rows) == e.count()
    for r in rows:
        assert 0.0 <= r["mean_predicted"] <= 1.0
        assert 0.0 <= r["frac_positive"] <= 1.0
        assert r["gap"] == pytest.approx(
            round(r["frac_positive"] - r["mean_predicted"], 9), abs=1e-9
        )
        # bin b holds predictions in [b/10, (b+1)/10)
        assert r["bin"] / 10 - 1e-9 <= r["mean_predicted"] <= (
            r["bin"] + 1
        ) / 10 + 1e-9


# -------------------------------------------------------- decile drift

def test_quantile_drift_monotone(spark, sf_dir, qs):
    rows = sorted(
        qs["profile_quantile_drift"].spark(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 10))
    for a, b in zip(rows, rows[1:]):
        assert a["v_early"] <= b["v_early"]
        assert a["v_late"] <= b["v_late"]
    for r in rows:
        assert r["shift"] == pytest.approx(
            round(r["v_late"] - r["v_early"], 9), abs=1e-9
        )


# -------------------------------------------------------- audio frames

def test_audio_frames_integer_exact(spark, sf_dir, qs):
    rows = qs["multimodal_audio_frames"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["start_ms"] == r["frame_idx"] * 10
        assert r["start_sample"] == (r["sample_rate"] * r["start_ms"]) // 1000
        assert r["total_samples"] == (
            r["sample_rate"] * r["duration_ms"]
        ) // 1000
        assert r["n_frames"] == (r["duration_ms"] - 25) // 10 + 1
        assert 0 <= r["frame_idx"] < min(r["n_frames"], 5)
    # every synthetic clip is >= 200 ms -> >= 18 frames -> 5 sampled
    per_doc = Counter(r["doc_id"] for r in rows)
    assert all(c == 5 for c in per_doc.values())


# ------------------------------------------------------- point in band

def test_point_in_band_partitions_events(spark, sf_dir, qs):
    rows = qs["join_point_in_band"].spark(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    assert len(rows) == 10
    assert sum(r["n_events"] for r in rows) == e.count()
    total = e.agg(F.sum("value")).collect()[0][0]
    assert sum(r["total_value"] for r in rows) == pytest.approx(
        total, rel=1e-9
    )
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] == b["lo"]  # bands tile the line with no gaps


def test_point_in_band_plan_is_hash_join(spark, sf_dir, qs):
    plan = (
        qs["join_point_in_band"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
