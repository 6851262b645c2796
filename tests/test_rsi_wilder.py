"""Wilder's-EMA RSI: the repo's first RECURSIVE stateful streaming
operator (the stateful buckets are associative; Wilder smoothing is
avg_t = f(avg_{t-1}), so each output depends on the previous OUTPUT).

Laws pinned here:
  * batch fold == independent pure-Python recursion replay (the
    verdict-mandated oracle, implemented from the indicator definition
    with no shared code);
  * streamed (applyInPandasWithState) == batch fold row-for-row;
  * monotonic series pin RSI at 100 / 0 exactly;
  * emission starts at the (N+1)-th close (N deltas seed the SMA);
  * the batch plan stays a single pair-keyed aggregation -- no
    cartesian product, no per-row Python.
"""

from __future__ import annotations


import pytest

from rippled_historical_database_spark.operators.candles import (
    DD_ROUND,
    RSI_N,
    bars,
    rsi_from_avgs,
    wilder_avgs_from_closes,
)

from tests.rounding import fround_py as _r  # noqa: E402 -- shared fround replay


def _python_wilder(closes: list[float]) -> list[float]:
    """Independent replay of the textbook definition: rounded deltas,
    SMA-of-first-N seed, Wilder EMA afterwards, RSI = 100 - 100/(1+RS)."""
    deltas = [_r(b - a) for a, b in zip(closes, closes[1:])]
    gains = [max(d, 0.0) for d in deltas]
    losses = [max(-d, 0.0) for d in deltas]
    out = []
    ag = al = None
    for i in range(len(deltas)):
        if i == RSI_N - 1:
            sg = sl = 0.0
            for g in gains[:RSI_N]:
                sg += g
            for l in losses[:RSI_N]:
                sl += l
            ag, al = _r(sg / RSI_N), _r(sl / RSI_N)
        elif i >= RSI_N:
            ag = _r((ag * (RSI_N - 1) + gains[i]) / RSI_N)
            al = _r((al * (RSI_N - 1) + losses[i]) / RSI_N)
        else:
            continue
        rsi = 100.0 if al == 0 else _r(100.0 - 100.0 / (1.0 + ag / al), 6)
        out.append(rsi)
    return out


def test_batch_matches_python_recursion(spark, sf_dir):
    closes = (
        bars(spark, sf_dir)
        .select("pair", "bucket", "close")
        .orderBy("pair", "bucket")
        .collect()
    )
    by_pair: dict[str, list[float]] = {}
    for row in closes:
        by_pair.setdefault(row["pair"], []).append(float(row["close"]))

    got = (
        rsi_from_avgs(wilder_avgs_from_closes(
            bars(spark, sf_dir).select("pair", "bucket", "close")
        ))
        .orderBy("pair", "bucket")
        .collect()
    )
    got_by_pair: dict[str, list[float]] = {}
    for row in got:
        got_by_pair.setdefault(row["pair"], []).append(float(row["rsi"]))

    for pair, series in by_pair.items():
        expect = _python_wilder(series)
        assert got_by_pair.get(pair, []) == pytest.approx(expect, abs=1e-9), pair


def test_streamed_equals_batch(spark, sf_dir):
    from rippled_historical_database_spark.plans.registry import all_queries

    qs = all_queries()
    batch = {
        (r["pair"], r["bucket"]): r["rsi"]
        for r in qs["window_rsi_wilder"].spark(spark, sf_dir).collect()
    }
    streamed = {
        (r["pair"], r["bucket"]): r["rsi"]
        for r in qs["stream_rsi_wilder"].spark(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_emission_starts_after_seed(spark, sf_dir):
    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    n_buckets = {
        r["pair"]: r["n"]
        for r in closes.groupBy("pair").count().withColumnRenamed("count", "n").collect()
    }
    got = rsi_from_avgs(wilder_avgs_from_closes(closes)).groupBy("pair").count().collect()
    for row in got:
        # n_closes - 1 deltas, minus (N - 1) consumed by the seed window
        assert row["count"] == n_buckets[row["pair"]] - RSI_N


def _synthetic_closes(spark, values):
    import datetime as dt

    rows = [
        ("p", dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), float(v))
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "pair string, bucket timestamp, close double")


def test_monotonic_up_pins_100(spark):
    closes = _synthetic_closes(spark, [100 + i for i in range(RSI_N + 3)])
    rows = rsi_from_avgs(wilder_avgs_from_closes(closes)).collect()
    assert len(rows) == 3
    assert all(r["rsi"] == 100.0 for r in rows)


def test_monotonic_down_pins_0(spark):
    closes = _synthetic_closes(spark, [100 - i for i in range(RSI_N + 3)])
    rows = rsi_from_avgs(wilder_avgs_from_closes(closes)).collect()
    assert len(rows) == 3
    assert all(r["rsi"] == 0.0 for r in rows)


def test_batch_plan_shape(spark, sf_dir):
    plan = (
        rsi_from_avgs(wilder_avgs_from_closes(
            bars(spark, sf_dir).select("pair", "bucket", "close")
        ))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


# ------------------------------------------------------- streaming ATR

def test_stream_atr_equals_batch(spark, sf_dir):
    """The streaming ATR state transition applies the batch fold's
    exact arithmetic: streamed == batch row-for-row."""
    from rippled_historical_database_spark.plans.registry import all_queries

    qs = all_queries()
    batch = {
        (r["pair"], r["bucket"]): r["atr"]
        for r in qs["window_atr_wilder"].spark(spark, sf_dir).collect()
    }
    streamed = {
        (r["pair"], r["bucket"]): r["atr"]
        for r in qs["stream_atr_wilder"].spark(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_stream_atr_emission_count(spark, sf_dir):
    """One ATR row per bar from the ATR_N-th onward, per pair."""
    from rippled_historical_database_spark.operators.candles import (
        ATR_N,
        bars,
    )
    from rippled_historical_database_spark.plans.registry import all_queries

    qs = all_queries()
    n_bars = {
        r["pair"]: r["count"]
        for r in bars(spark, sf_dir)
        .select("pair", "bucket", "high", "low", "close")
        .groupBy("pair")
        .count()
        .collect()
    }
    got = (
        qs["stream_atr_wilder"].spark(spark, sf_dir)
        .groupBy("pair").count().collect()
    )
    assert {r["pair"]: r["count"] for r in got} == {
        p: n - (ATR_N - 1) for p, n in n_bars.items()
    }


# ------------------------------------------------------ streaming CUSUM

def test_stream_cusum_equals_batch(spark, sf_dir):
    """Train-offline / monitor-online: the streaming CUSUM state
    transition applies the batch fold's exact arithmetic against the
    broadcast batch moments -- streamed == batch row-for-row."""
    from rippled_historical_database_spark.plans.registry import all_queries

    qs = all_queries()
    key = lambda r: (r["event_type"], r["day"])  # noqa: E731
    batch = {
        key(r): (r["s_pos"], r["s_neg"], r["alarm"])
        for r in qs["profile_cusum_drift"].spark(spark, sf_dir).collect()
    }
    streamed = {
        key(r): (r["s_pos"], r["s_neg"], r["alarm"])
        for r in qs["stream_cusum_alerts"].spark(spark, sf_dir).collect()
    }
    assert streamed == batch
