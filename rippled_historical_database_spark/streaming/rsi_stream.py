"""Wilder's-EMA RSI as a custom stateful streaming operator.

Wilder's smoothing (avg_t = (avg_{t-1} * (N-1) + x_t) / N, seeded by
the SMA of the first N deltas) is a linear RECURSION over the close
series -- the same class as the reference's running averages
(``lib/aggregation/stats.js:327-331``), which mutate one accumulator
per key as rows arrive.  A window frame cannot express it (each output
depends on the previous OUTPUT, not a previous input slice), so the
canonical streaming form is arbitrary per-key state:

  * per-pair accumulator (prev_close, seed sums, avg gain/loss)
      -> GroupState keyed by pair
  * one candle-close per micro-batch step -> state transition + emit

Determinism: the state transition applies EXACTLY the arithmetic of the
batch fold in ``operators/candles.py`` (IEEE double ops in the same
order, every intermediate average fround-ed at ``DD_ROUND``), so
streamed == batch == the DuckDB recursive-CTE oracle row-for-row; the
equality is asserted in tests/test_rsi_wilder.py and the registered
oracle is the same SQL as the batch query's.

Order: RSI is order-sensitive, so the harness feeds the close series
as one file per time-slice, sliced ON bucket boundaries and streamed
oldest-first with maxFilesPerTrigger=1; within a batch the updater
sorts by bucket.  In production the upstream is the hourly candle
stream (stream_candles_hourly) whose watermark already bounds
out-of-orderness to the late-data window.

Scale: state is ~6 doubles per pair -- bounded by the number of live
trading pairs, not by history -- and the shuffle partitions by pair, so
a 100 TB replay streams through constant state per key.

Every twin in this module is a :class:`~.memory_sink.Fold` -- its
state/output schemas plus a ``step(key, rows, state) -> (state, out)``
holding the per-row recursion -- run by ``memory_sink.stateful_fold``,
which owns the ordered replay, the ``applyInPandasWithState`` wiring
and the drain.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

from ..operators.candles import (
    _DB_T_MICRO,
    ATR_N,
    BB_K,
    BB_N,
    DC_N,
    DD_ROUND,
    ICHI_K,
    ICHI_S,
    ICHI_T,
    KC_ATR_N,
    KC_K,
    KC_N,
    MACD_FAST,
    MACD_SIG,
    MACD_SLOW,
    RSI_N,
    SQL_BOLLINGER,
    SQL_CANDLE_GAPS,
    SQL_KELTNER,
    SQL_MACD,
    SQL_DOLLAR_BARS,
    SQL_DONCHIAN,
    SQL_GAP_INTERPOLATION,
    SQL_HEIKIN_ASHI,
    SQL_MAX_DRAWDOWN,
    SQL_OBV,
    SQL_RSI_CUTLER,
    SQL_STOCHASTIC,
    SQL_ATR,
    SQL_ICHIMOKU,
    SQL_WILDER_RSI,
    STOCH_D,
    STOCH_N,
    _with_legs,
    bars,
    fround,
    rsi_from_avgs,
)
from ..operators.anomaly import (
    BASELINE_HOURS,
    CUSUM_H,
    CUSUM_K,
    SQL_CUSUM,
    SQL_ROLLING_ZSCORE,
    Z_THRESHOLD,
    _cusum_z,
    hourly_event_series,
)
from ..plans.registry import register
from ..sources.catalog import load_table
from .memory_sink import fold, stateful_fold

OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("ag", DoubleType()),
        StructField("al", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("prev_close", DoubleType()),
        StructField("n", LongType()),
        StructField("sg", DoubleType()),
        StructField("sl", DoubleType()),
        StructField("ag", DoubleType()),
        StructField("al", DoubleType()),
    ]
)

_QUANT = Decimal(1).scaleb(-DD_ROUND)  # decimal-CAST mirror (_dquant)
_FR_M = float(10**DD_ROUND)


def _rhalf(x: float) -> float:
    """fround(x) -- floor(x*1e9 + 0.5)/1e9, the family's engine-portable
    fixed-point round (operators/candles.py fround): the SAME IEEE
    multiply/add/floor/divide sequence the Spark fold and the DuckDB
    oracle execute, so streamed state stays bit-equal to both.  (The
    pre-round-12 form mirrored Spark's repr-based HALF_UP, which native
    DuckDB ROUND disagrees with on the recursion's exact half-grid
    ties.)"""
    return math.floor(x * _FR_M + 0.5) / _FR_M


def _r6(x: float) -> float:
    """fround(x, 6) -- the family's emission-time rounding where the
    batch form emits 6-dp values (same floor-based IEEE sequence as
    _rhalf, at the emission scale)."""
    return math.floor(x * 1e6 + 0.5) / 1e6


@fold("pair", "bucket", STATE_SCHEMA, OUTPUT_SCHEMA)
def _update_rsi(key, rows, state):
    prev_close, n, sg, sl, ag, al = state or (None, 0, 0.0, 0.0, None, None)
    out_bucket, out_ag, out_al = [], [], []
    for bucket, close in zip(rows["bucket"], rows["close"]):
        close = float(close)
        if prev_close is None:
            prev_close = close
            continue
        d = _rhalf(close - prev_close)
        prev_close = close
        gain, loss = max(d, 0.0), max(-d, 0.0)
        if n < RSI_N - 1:
            n, sg, sl = n + 1, sg + gain, sl + loss
            continue
        if n == RSI_N - 1:
            ag = _rhalf((sg + gain) / RSI_N)
            al = _rhalf((sl + loss) / RSI_N)
            sg = sl = 0.0
        else:
            ag = _rhalf((ag * (RSI_N - 1) + gain) / RSI_N)
            al = _rhalf((al * (RSI_N - 1) + loss) / RSI_N)
        n += 1
        out_bucket.append(bucket)
        out_ag.append(ag)
        out_al.append(al)

    return (prev_close, n, sg, sl, ag, al), {
        "bucket": out_bucket, "ag": out_ag, "al": out_al,
    }


@register(
    "stream_rsi_wilder",
    rotation_group=7,
    oracle=SQL_WILDER_RSI,
    doc="Wilder's-EMA RSI as per-pair applyInPandasWithState: the "
        "smoothing recursion lives in GroupState (prev_close, seed "
        "sums, avg gain/loss -- ~6 doubles per pair, bounded by live "
        "pairs, not history), fed by an mtime-ordered file replay of "
        "the hourly close series with one slice per micro-batch.  The "
        "state transition is bit-identical to the batch fold "
        "(window_rsi_wilder), so streamed == batch == the recursive-"
        "CTE oracle exactly; the first RECURSIVE stateful streaming "
        "operator in the repo (the earlier stateful buckets are "
        "associative).  Reference analog: the running-average "
        "accumulators of lib/aggregation/stats.js:327-331.",
)
def stream_rsi_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    avgs = stateful_fold(closes, "stream_rsi_wilder", _update_rsi)
    return rsi_from_avgs(avgs)


# -------------------------------------------- streaming gap detection

GAP_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("gap_start", TimestampType()),
        StructField("gap_end", TimestampType()),
        StructField("n_missing", LongType()),
    ]
)

GAP_STATE_SCHEMA = StructType([StructField("last_bucket", TimestampType())])

_HOUR_S = 3600


@fold("pair", "bucket", GAP_STATE_SCHEMA, GAP_OUTPUT_SCHEMA)
def _update_gaps(key, rows, state):
    """Streaming candle-continuity monitor: per-pair state is ONE
    timestamp (the last seen bucket); each arriving bucket either
    extends the sequence or emits the completed outage run."""
    last = state[0] if state else None
    starts, ends, counts = [], [], []
    for bucket in rows["bucket"]:
        bucket = bucket.to_pydatetime() if hasattr(bucket, "to_pydatetime") else bucket
        if last is not None:
            missing = int((bucket - last).total_seconds()) // _HOUR_S - 1
            if missing > 0:
                starts.append(last + dt.timedelta(hours=1))
                ends.append(bucket - dt.timedelta(hours=1))
                counts.append(missing)
        last = bucket
    return (last,), {"gap_start": starts, "gap_end": ends, "n_missing": counts}


@register(
    "stream_candle_gap_alerts",
    rotation_group=7,
    oracle=SQL_CANDLE_GAPS,
    doc="Streaming form of agg_candle_gaps: the candle-bucket stream "
        "per pair carries ONE timestamp of state (last seen bucket); "
        "an arriving bucket that skips hours emits the completed "
        "outage run immediately -- the live feed-health alert, vs the "
        "batch audit's after-the-fact spine scan.  Streamed == batch "
        "by construction (both report maximal runs strictly inside "
        "each pair's observed range) and both check against the same "
        "spine oracle.  State is O(pairs), the smallest possible for "
        "continuity monitoring; no watermark needed because the "
        "upstream candle stream already closes buckets in order.",
)
def stream_candle_gap_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = bars(spark, sf_dir).select("pair", "bucket")
    return stateful_fold(buckets, "stream_gap_alerts", _update_gaps).orderBy(
        "pair", "gap_start"
    )


# ----------------------------------------------- streaming ATR (Wilder)

ATR_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("atr", DoubleType()),
    ]
)

ATR_STATE_SCHEMA = StructType(
    [
        StructField("prev_close", DoubleType()),
        StructField("n", LongType()),
        StructField("s", DoubleType()),
        StructField("atr", DoubleType()),
    ]
)


@fold("pair", "bucket", ATR_STATE_SCHEMA, ATR_OUTPUT_SCHEMA)
def _update_atr(key, rows, state):
    prev_close, n, s, atr = state or (None, 0, 0.0, None)
    out_bucket, out_atr = [], []
    for bucket, high, low, close in zip(
        rows["bucket"], rows["high"], rows["low"], rows["close"]
    ):
        high, low, close = float(high), float(low), float(close)
        # the SAME float sequence as the batch TR projection: plain
        # IEEE subtractions/abs/max, then one HALF_UP round at DD_ROUND
        if prev_close is None:
            tr = _rhalf(high - low)
        else:
            tr = _rhalf(
                max(high - low, abs(high - prev_close), abs(low - prev_close))
            )
        prev_close = close
        n += 1
        if n < ATR_N:
            s += tr          # seed accumulation: plain sum, like the fold
            continue
        if n == ATR_N:
            atr = _rhalf((s + tr) / ATR_N)
            s = 0.0
        else:
            atr = _rhalf((atr * (ATR_N - 1) + tr) / ATR_N)
        out_bucket.append(bucket)
        out_atr.append(atr)

    return (prev_close, n, s, atr), {"bucket": out_bucket, "atr": out_atr}


@register(
    "stream_atr_wilder",
    rotation_group=8,
    oracle=SQL_ATR,
    doc="Average True Range as per-pair applyInPandasWithState: state "
        "is (prev_close, seed count/sum, atr) -- four scalars per "
        "pair, bounded by live pairs, not history -- fed by an "
        "mtime-ordered file replay of the hourly OHLC bars with one "
        "slice per micro-batch.  The transition applies exactly the "
        "batch fold's arithmetic (window_atr_wilder: TR rounded "
        "fround at DD_ROUND, SMA seed, Wilder step), so streamed == "
        "batch == the recursive-CTE oracle row-for-row.  Second "
        "recursive stateful proof after stream_rsi_wilder -- and the "
        "first whose per-row input is a STRUCT (the OHLC bar), not a "
        "scalar close.",
)
def stream_atr_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    ohlc = bars(spark, sf_dir).select("pair", "bucket", "high", "low", "close")
    return stateful_fold(ohlc, "stream_atr_wilder", _update_atr).orderBy(
        "pair", "bucket"
    )


# ------------------------------------------ streaming CUSUM monitoring

CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("day", TimestampType()),
        StructField("s_pos", DoubleType()),
        StructField("s_neg", DoubleType()),
    ]
)

CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("s_pos", DoubleType()),
        StructField("s_neg", DoubleType()),
    ]
)


@fold("event_type", "day", CUSUM_STATE_SCHEMA, CUSUM_OUTPUT_SCHEMA)
def _update_cusum(key, rows, state):
    sp, sn = state or (0.0, 0.0)
    out_day, out_sp, out_sn = [], [], []
    for bucket, z in zip(rows["day"], rows["z"]):
        z = float(z)
        sp = _rhalf(max(0.0, sp + z - CUSUM_K))
        sn = _rhalf(max(0.0, sn - z - CUSUM_K))
        out_day.append(bucket)
        out_sp.append(sp)
        out_sn.append(sn)
    return (sp, sn), {"day": out_day, "s_pos": out_sp, "s_neg": out_sn}


@register(
    "stream_cusum_alerts",
    rotation_group=8,
    oracle=SQL_CUSUM,
    doc="CUSUM drift monitoring as per-type applyInPandasWithState: "
        "the train-offline / monitor-online split -- per-type "
        "(mu, sigma) come from the BATCH moments (in production, a "
        "broadcast model artifact refreshed on a schedule), and the "
        "stream carries only the two accumulated sides (s+, s-) per "
        "type, the smallest possible drift-monitoring state.  The "
        "transition is bit-identical to the batch fold "
        "(profile_cusum_drift), so streamed == batch == the "
        "recursive-CTE oracle row-for-row.  Third recursive stateful "
        "proof; first where part of the model is trained out-of-band.",
)
def stream_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stateful_fold(_cusum_z(spark, sf_dir), "stream_cusum_alerts", _update_cusum)
    return out.select(
        "event_type",
        "day",
        "s_pos",
        "s_neg",
        ((F.col("s_pos") > CUSUM_H) | (F.col("s_neg") > CUSUM_H)).alias(
            "alarm"
        ),
    ).orderBy("event_type", "day")


# ------------------------------------------ streaming Heikin-Ashi bars

HA_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("ha_open", DoubleType()),
        StructField("ha_high", DoubleType()),
        StructField("ha_low", DoubleType()),
        StructField("ha_close", DoubleType()),
    ]
)

HA_STATE_SCHEMA = StructType(
    [
        StructField("ho", DoubleType()),
        StructField("hc", DoubleType()),
    ]
)


@fold("pair", "bucket", HA_STATE_SCHEMA, HA_OUTPUT_SCHEMA)
def _update_heikin_ashi(key, rows, state):
    ho, hc = state or (None, None)
    out: dict[str, list] = {
        "bucket": [], "ha_open": [], "ha_high": [], "ha_low": [],
        "ha_close": [],
    }
    for bucket, o, h, lo_, c in zip(
        rows["bucket"], rows["open"], rows["high"], rows["low"],
        rows["close"],
    ):
        o, h, lo_, c = float(o), float(h), float(lo_), float(c)
        # the SAME float sequence as the batch fold: left-associated
        # sum, exact /4 and /2 (exponent shifts), one HALF_UP round
        hc_new = _rhalf((o + h + lo_ + c) / 4)
        ho = _rhalf((o + c) / 2) if ho is None else _rhalf((ho + hc) / 2)
        hc = hc_new
        out["bucket"].append(bucket)
        out["ha_open"].append(ho)
        out["ha_high"].append(max(h, ho, hc_new))
        out["ha_low"].append(min(lo_, ho, hc_new))
        out["ha_close"].append(hc_new)

    return (ho, hc), out


@register(
    "stream_heikin_ashi",
    rotation_group=8,
    oracle=SQL_HEIKIN_ASHI,
    doc="Heikin-Ashi smoothing as per-pair applyInPandasWithState: "
        "state is just (prev ha_open, prev ha_close) -- TWO scalars "
        "per pair, the smallest state in the recursive family -- fed "
        "by an mtime-ordered file replay of hourly OHLC4 bars with "
        "one slice per micro-batch.  The transition applies exactly "
        "the batch fold's arithmetic (agg_candles_heikin_ashi: "
        "left-associated OHLC sum, exact /4 and /2, one HALF_UP round "
        "at DD_ROUND), so streamed == batch == the recursive-CTE "
        "oracle row-for-row -- the 5th recursive stateful proof, and "
        "the only one whose output starts at the FIRST bar (no "
        "warmup window).",
)
def stream_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ohlc = bars(spark, sf_dir).select(
        "pair", "bucket", "open", "high", "low", "close"
    )
    return stateful_fold(
        ohlc, "stream_heikin_ashi", _update_heikin_ashi
    ).orderBy("pair", "bucket")


# --------------------------------------------- streaming Ichimoku cloud

ICHI_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("tenkan", DoubleType()),
        StructField("kijun", DoubleType()),
        StructField("senkou_a", DoubleType()),
        StructField("senkou_b", DoubleType()),
        StructField("close", DoubleType()),
    ]
)

# Ring buffer of the last ICHI_S (high, low) bars + FIFO queues of the
# raw (unrounded) cloud-line values awaiting their ICHI_K-bar forward
# displacement: ~(52*2 + 26*2 + 1) scalars per pair, bounded by live
# pairs, never by history.
ICHI_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("highs", ArrayType(DoubleType())),
        StructField("lows", ArrayType(DoubleType())),
        StructField("pend_a", ArrayType(DoubleType())),
        StructField("pend_b", ArrayType(DoubleType())),
    ]
)


@fold("pair", "bucket", ICHI_STATE_SCHEMA, ICHI_OUTPUT_SCHEMA)
def _update_ichimoku(key, rows, state):
    """Per-bar Ichimoku lines (chikou excluded: it is a backward
    displacement of a FUTURE close, applied after the drain)."""
    if state:
        n, highs, lows, pend_a, pend_b = state
        highs, lows = list(highs), list(lows)
        pend_a, pend_b = list(pend_a), list(pend_b)
    else:
        n, highs, lows, pend_a, pend_b = 0, [], [], [], []

    out: dict[str, list] = {
        "bucket": [], "tenkan": [], "kijun": [],
        "senkou_a": [], "senkou_b": [], "close": [],
    }
    for bucket, high, low, close in zip(
        rows["bucket"], rows["high"], rows["low"], rows["close"]
    ):
        highs.append(float(high))
        lows.append(float(low))
        if len(highs) > ICHI_S:
            highs.pop(0)
            lows.pop(0)
        n += 1

        # the SAME arithmetic as the batch sliding frames: max + min of
        # identical doubles, sum-and-halve (exact in IEEE), raw here --
        # rounding happens once at emission, like the batch SELECT.
        def _mid(k: int) -> float:
            return (max(highs[-k:]) + min(lows[-k:])) / 2.0

        tenkan_raw = _mid(ICHI_T)
        kijun_raw = _mid(ICHI_K)
        pend_a.append((tenkan_raw + kijun_raw) / 2.0)
        pend_b.append(_mid(ICHI_S))
        sen_a_raw = sen_b_raw = None
        if len(pend_a) > ICHI_K:  # the value computed ICHI_K bars ago
            sen_a_raw = pend_a.pop(0)
            sen_b_raw = pend_b.pop(0)

        if n >= ICHI_S + ICHI_K:
            out["bucket"].append(bucket)
            out["tenkan"].append(_rhalf(tenkan_raw))
            out["kijun"].append(_rhalf(kijun_raw))
            out["senkou_a"].append(_rhalf(sen_a_raw))
            out["senkou_b"].append(_rhalf(sen_b_raw))
            out["close"].append(float(close))

    return (n, highs, lows, pend_a, pend_b), out


@register(
    "stream_ichimoku",
    rotation_group=9,
    oracle=SQL_ICHIMOKU,
    doc="Ichimoku cloud as per-pair applyInPandasWithState: state is a "
        "52-bar (high, low) ring buffer plus two 26-deep FIFO queues "
        "holding the raw cloud-line values during their forward "
        "displacement -- ~160 scalars per pair, bounded by live pairs, "
        "not history.  Each arriving bar updates the ring, computes "
        "the 9/26/52-bar channel midpoints with the batch form's exact "
        "IEEE arithmetic (max+min sum-and-halve, one HALF_UP round at "
        "emission), and pops the senkou values queued 26 bars earlier; "
        "rows emit from the first fully-formed span-B + displacement "
        "window (bar 78), exactly like window_ichimoku's QUALIFY.  "
        "Chikou (the close displaced BACKWARD) is by definition a "
        "future value at emission time, so the registered form applies "
        "it as a LEAD over the drained output -- the emitted set is "
        "contiguous per pair, so the lead equals the batch LEAD "
        "row-for-row.  streamed == batch == the shared SQL_ICHIMOKU "
        "oracle; the only non-recursive stateful twin (sliding "
        "channels + displacement queues, no fold).",
)
def stream_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    ohlc = bars(spark, sf_dir).select("pair", "bucket", "high", "low", "close")
    drained = stateful_fold(ohlc, "stream_ichimoku", _update_ichimoku)
    w = Window.partitionBy("pair").orderBy("bucket")
    return (
        drained.withColumn("chikou", F.lead("close", ICHI_K).over(w))
        .drop("close")
        .orderBy("pair", "bucket")
    )


# --------------------------------------------- streaming Bollinger bands

BB_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("close", DoubleType()),
        StructField("mid", DoubleType()),
        StructField("upper", DoubleType()),
        StructField("lower", DoubleType()),
        StructField("breakout", BooleanType()),
    ]
)

# Ring buffer of the last BB_N rounded closes per pair: BB_N doubles +
# a counter -- bounded by live pairs, never by history.
BB_STATE_SCHEMA = StructType(
    [
        StructField("ring", ArrayType(DoubleType())),
    ]
)


def _dquant(x: float) -> Decimal:
    """Spark's CAST(double AS DECIMAL(38, DD_ROUND)) in Python: shortest
    decimal repr (java Double.toString == Python repr digits), then
    HALF_UP at the scale.  Exact for already-rounded closes; matches
    the batch's windowed-DECIMAL-sum terms for c*c."""
    return Decimal(repr(x)).quantize(_QUANT, rounding=ROUND_HALF_UP)


@fold("pair", "bucket", BB_STATE_SCHEMA, BB_OUTPUT_SCHEMA)
def _update_bollinger(key, rows, state):
    ring: list[float] = list(state[0]) if state else []
    out: dict[str, list] = {
        "bucket": [], "close": [], "mid": [],
        "upper": [], "lower": [], "breakout": [],
    }
    for bucket, c in zip(rows["bucket"], rows["c"]):
        c = float(c)
        ring.append(c)
        if len(ring) > BB_N:
            ring.pop(0)
        if len(ring) < BB_N:
            continue
        # The batch form's EXACT arithmetic: windowed DECIMAL(38,R)
        # sums of c and c*c cast back to double, then pure IEEE ops.
        sx = float(sum((_dquant(x) for x in ring), Decimal(0)))
        sxx = float(sum((_dquant(x * x) for x in ring), Decimal(0)))
        sd = math.sqrt(max(BB_N * sxx - sx * sx, 0.0)) / BB_N
        mid = _r6(sx / BB_N)
        upper = _r6(sx / BB_N + BB_K * sd)
        lower = _r6(sx / BB_N - BB_K * sd)
        out["bucket"].append(bucket)
        out["close"].append(c)
        out["mid"].append(mid)
        out["upper"].append(upper)
        out["lower"].append(lower)
        out["breakout"].append(c > upper or c < lower)

    return (ring,), out


@register(
    "stream_bollinger_bands",
    rotation_group=10,
    oracle=SQL_BOLLINGER,
    doc=f"Bollinger bands as per-pair applyInPandasWithState -- the "
        "sliding-channel stateful twin of window_bollinger_bands "
        "(r10 verdict item #6).  State is a ring of the last "
        "BB_N rounded closes per pair (~24 doubles, bounded by live "
        "pairs, not history).  Each arriving bar updates the ring and, "
        "once full, recomputes the batch form's EXACT arithmetic: "
        "DECIMAL(38,9) sums of (c, c**2) -- via shortest-repr HALF_UP "
        "quantization, the Python equivalent of Spark's double-to-"
        "decimal cast -- cast back to double, population stddev in "
        "IEEE doubles, one HALF_UP round at 6 decimals.  streamed == "
        "batch == the shared SQL_BOLLINGER oracle row-for-row "
        "(tests/test_round11_ops.py).",
)
def stream_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fround, matching window_bollinger_bands' base column and the
    # shared SQL_BOLLINGER oracle text exactly (the F.round it replaced
    # was invisible on 2-dp closes but a latent half-grid divergence).
    base = bars(spark, sf_dir).select(
        "pair", "bucket", fround("close").alias("c")
    )
    return stateful_fold(
        base, "stream_bollinger_bands", _update_bollinger
    ).orderBy("pair", "bucket")


# ------------------------------------------ streaming stochastic (K, D)

STOCH_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("pct_k", DoubleType()),
        StructField("pct_d", DoubleType()),
    ]
)

# Ring of the last STOCH_N (high, low) bars + the last STOCH_D %K
# values awaiting the SMA + the bar counter -- ~31 scalars per pair.
STOCH_STATE_SCHEMA = StructType(
    [
        StructField("rn", LongType()),
        StructField("highs", ArrayType(DoubleType())),
        StructField("lows", ArrayType(DoubleType())),
        StructField("kq", ArrayType(DoubleType())),
    ]
)


@fold("pair", "bucket", STOCH_STATE_SCHEMA, STOCH_OUTPUT_SCHEMA)
def _update_stochastic(key, rows, state):
    if state:
        rn, highs, lows, kq = state
        highs, lows, kq = list(highs), list(lows), list(kq)
    else:
        rn, highs, lows, kq = 0, [], [], []

    out: dict[str, list] = {"bucket": [], "pct_k": [], "pct_d": []}
    for bucket, high, low, close in zip(
        rows["bucket"], rows["high"], rows["low"], rows["close"]
    ):
        highs.append(float(high))
        lows.append(float(low))
        if len(highs) > STOCH_N:
            highs.pop(0)
            lows.pop(0)
        rn += 1
        if rn < STOCH_N:
            continue
        hi, lo = max(highs), min(lows)
        # the batch form's exact arithmetic: flat channel pins 50,
        # otherwise one IEEE expression fround-ed at 9 dp
        k = (
            50.0
            if hi == lo
            else _rhalf(100.0 * (float(close) - lo) / (hi - lo))
        )
        kq.append(k)
        if len(kq) > STOCH_D:
            kq.pop(0)
        if rn < STOCH_N + STOCH_D - 1:
            continue
        # LAG(k,2) + LAG(k,1) + k: same left-associated 3-term sum
        pct_d = _rhalf((kq[0] + kq[1] + kq[2]) / 3.0)
        out["bucket"].append(bucket)
        out["pct_k"].append(k)
        out["pct_d"].append(pct_d)

    return (rn, highs, lows, kq), out


@register(
    "stream_stochastic_oscillator",
    rotation_group=10,
    oracle=SQL_STOCHASTIC,
    doc="Stochastic oscillator as per-pair applyInPandasWithState -- "
        "the channel+SMA stateful twin of window_stochastic_oscillator "
        "(r10 verdict item #6).  State: a 14-bar (high, low) ring, the "
        "last 3 raw %K values awaiting the %D SMA, and the bar counter "
        "(~31 scalars per pair, bounded by live pairs).  Each bar "
        "recomputes the batch form's exact arithmetic: channel extrema "
        "over identical doubles, %K fround-ed at 9 dp (flat "
        "channel pins 50), %D as the same left-associated 3-term sum "
        "over 3.  streamed == batch == the shared SQL_STOCHASTIC "
        "oracle row-for-row (tests/test_round11_ops.py).",
)
def stream_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ohlc = bars(spark, sf_dir).select("pair", "bucket", "high", "low", "close")
    return stateful_fold(
        ohlc, "stream_stochastic_oscillator", _update_stochastic
    ).orderBy("pair", "bucket")


# --------------------------------------- streaming Keltner channels

KC_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("mid", DoubleType()),
        StructField("upper", DoubleType()),
        StructField("lower", DoubleType()),
    ]
)

# Two SMA-seeded EMA folds' accumulators + prev_close: 6 scalars per
# pair -- the smallest state in the family.
KC_STATE_SCHEMA = StructType(
    [
        StructField("i", LongType()),
        StructField("s_tp", DoubleType()),
        StructField("s_tr", DoubleType()),
        StructField("ema", DoubleType()),
        StructField("atr", DoubleType()),
        StructField("prev_close", DoubleType()),
    ]
)


@fold("pair", "bucket", KC_STATE_SCHEMA, KC_OUTPUT_SCHEMA)
def _update_keltner(key, rows, state):
    i, s_tp, s_tr, ema, atr, prev_close = (
        state or (0, 0.0, 0.0, None, None, None)
    )
    al = 2.0 / (KC_N + 1)  # plain-alpha EMA; ATR uses Wilder's form
    out: dict[str, list] = {"bucket": [], "mid": [], "upper": [], "lower": []}
    for bucket, high, low, close in zip(
        rows["bucket"], rows["high"], rows["low"], rows["close"]
    ):
        high, low, close = float(high), float(low), float(close)
        # the batch form's pre-fold projections, 9-dp HALF_UP
        tp = _rhalf((high + low + close) / 3.0)
        tr = _rhalf(
            high - low
            if prev_close is None
            else max(high - low, abs(high - prev_close), abs(low - prev_close))
        )
        prev_close = close
        i += 1
        # _ema_fold(tp, KC_N): SMA seed at bar KC_N, plain-alpha after
        if i < KC_N:
            s_tp += tp
        elif i == KC_N:
            ema = _rhalf((s_tp + tp) / KC_N)
        else:
            ema = _rhalf(al * tp + (1.0 - al) * ema)
        # _ema_fold(tr, KC_ATR_N, wilder): (prev*(n-1) + x)/n
        if i < KC_ATR_N:
            s_tr += tr
        elif i == KC_ATR_N:
            atr = _rhalf((s_tr + tr) / KC_ATR_N)
        else:
            atr = _rhalf((atr * (KC_ATR_N - 1) + tr) / KC_ATR_N)
        if i < KC_N:  # bands emit from the later seed onward
            continue
        out["bucket"].append(bucket)
        out["mid"].append(ema)
        out["upper"].append(_rhalf(ema + float(KC_K) * atr))
        out["lower"].append(_rhalf(ema - float(KC_K) * atr))

    return (i, s_tp, s_tr, ema, atr, prev_close), out


@register(
    "stream_keltner_channels",
    rotation_group=10,
    oracle=SQL_KELTNER,
    doc="Keltner channels as per-pair applyInPandasWithState -- the "
        "two-fold composition stateful twin of window_keltner_channels "
        "(r10 verdict item #6).  State is just SIX scalars per pair: "
        "both SMA-seeded EMA folds' accumulators (plain-alpha EMA-20 "
        "of typical price, Wilder ATR-10) plus prev_close -- the "
        "recursions carry no history at all, the purest demonstration "
        "that the EMA-fold family streams with O(1) state.  Per-bar "
        "arithmetic replicates _ema_fold digit-for-digit (same seed "
        "and step expressions, 9-dp HALF_UP per step); bands emit "
        "from the later seed (bar 20) like the batch zip alignment.  "
        "streamed == batch == the shared SQL_KELTNER recursive-CTE "
        "oracle row-for-row (tests/test_round11_ops.py).",
)
def stream_keltner_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    ohlc = bars(spark, sf_dir).select("pair", "bucket", "high", "low", "close")
    return stateful_fold(
        ohlc, "stream_keltner_channels", _update_keltner
    ).orderBy("pair", "bucket")


# ------------------------------------------------------ streaming MACD

MACD_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("macd", DoubleType()),
        StructField("signal", DoubleType()),
        StructField("histogram", DoubleType()),
    ]
)

# Three coupled SMA-seeded EMA folds: eight scalars per pair.
MACD_STATE_SCHEMA = StructType(
    [
        StructField("i", LongType()),
        StructField("s_fast", DoubleType()),
        StructField("s_slow", DoubleType()),
        StructField("e_fast", DoubleType()),
        StructField("e_slow", DoubleType()),
        StructField("j", LongType()),
        StructField("s_sig", DoubleType()),
        StructField("e_sig", DoubleType()),
    ]
)


@fold("pair", "bucket", MACD_STATE_SCHEMA, MACD_OUTPUT_SCHEMA)
def _update_macd(key, rows, state):
    i, s_fast, s_slow, e_fast, e_slow, j, s_sig, e_sig = state or (
        0, 0.0, 0.0, None, None, 0, 0.0, None,
    )
    al_f = 2.0 / (MACD_FAST + 1)
    al_s = 2.0 / (MACD_SLOW + 1)
    al_g = 2.0 / (MACD_SIG + 1)
    out: dict[str, list] = {
        "bucket": [], "macd": [], "signal": [], "histogram": [],
    }
    for bucket, close in zip(rows["bucket"], rows["close"]):
        close = float(close)
        i += 1
        if i < MACD_FAST:
            s_fast += close
        elif i == MACD_FAST:
            e_fast = _rhalf((s_fast + close) / MACD_FAST)
        else:
            e_fast = _rhalf(al_f * close + (1.0 - al_f) * e_fast)
        if i < MACD_SLOW:
            s_slow += close
        elif i == MACD_SLOW:
            e_slow = _rhalf((s_slow + close) / MACD_SLOW)
        else:
            e_slow = _rhalf(al_s * close + (1.0 - al_s) * e_slow)
        if i < MACD_SLOW:
            continue
        macd = _rhalf(e_fast - e_slow)  # _MACD_ARR's per-element round
        j += 1
        if j < MACD_SIG:
            s_sig += macd
            continue
        if j == MACD_SIG:
            e_sig = _rhalf((s_sig + macd) / MACD_SIG)
        else:
            e_sig = _rhalf(al_g * macd + (1.0 - al_g) * e_sig)
        out["bucket"].append(bucket)
        out["macd"].append(macd)
        out["signal"].append(e_sig)
        out["histogram"].append(_r6(macd - e_sig))

    return (i, s_fast, s_slow, e_fast, e_slow, j, s_sig, e_sig), out


@register(
    "stream_macd",
    rotation_group=10,
    oracle=SQL_MACD,
    doc="MACD(12,26,9) as per-pair applyInPandasWithState: EIGHT "
        "scalars per pair carry all three coupled SMA-seeded EMA "
        "recursions (fast, slow, and the signal EMA of their "
        "difference) -- the batch form's triple fold composition "
        "replicated digit-for-digit (9-dp HALF_UP per step, the "
        "macd difference rounded per element like _MACD_ARR, the "
        "histogram at 6 dp).  Emission from the signal seed (bar "
        "MACD_SLOW + MACD_SIG - 1 = 34) matches the batch zip "
        "alignment.  streamed == batch == the shared SQL_MACD "
        "triple-recursion oracle row-for-row.",
)
def stream_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    return stateful_fold(closes, "stream_macd", _update_macd).orderBy(
        "pair", "bucket"
    )


# --------------------------------------------- streaming OBV (exact)

OBV_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("obv", LongType()),
    ]
)

OBV_STATE_SCHEMA = StructType(
    [
        StructField("prev_close", DoubleType()),
        StructField("obv", LongType()),
    ]
)


@fold("pair", "bucket", OBV_STATE_SCHEMA, OBV_OUTPUT_SCHEMA)
def _update_obv(key, rows, state):
    prev_close, obv = state or (None, 0)
    out: dict[str, list] = {"bucket": [], "obv": []}
    for bucket, close, volume in zip(
        rows["bucket"], rows["close"], rows["volume"]
    ):
        close, volume = float(close), int(volume)
        if prev_close is None:
            prev_close = close
            continue
        if close > prev_close:
            obv += volume
        elif close < prev_close:
            obv -= volume
        prev_close = close
        out["bucket"].append(bucket)
        out["obv"].append(obv)

    return (prev_close, obv), out


@register(
    "stream_obv",
    rotation_group=10,
    oracle=SQL_OBV,
    doc="On-balance volume as per-pair applyInPandasWithState: TWO "
        "scalars of state (prev_close, running BIGINT total) -- the "
        "prefix-sum family's stateful twin, bit-deterministic with no "
        "rounding policy because every term is an exact integer.  "
        "First bar primes prev_close and emits nothing, matching the "
        "batch WHERE prev_close IS NOT NULL.  streamed == batch == "
        "the shared SQL_OBV oracle row-for-row.",
)
def stream_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = bars(spark, sf_dir).select("pair", "bucket", "close", "volume")
    return stateful_fold(hourly, "stream_obv", _update_obv).orderBy(
        "pair", "bucket"
    )


# ------------------------------------------ streaming Cutler's RSI

CRSI_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("rsi", DoubleType()),
    ]
)

# prev_close + a ring of the last RSI_N (gain, loss) deltas.
CRSI_STATE_SCHEMA = StructType(
    [
        StructField("prev_close", DoubleType()),
        StructField("gains", ArrayType(DoubleType())),
        StructField("losses", ArrayType(DoubleType())),
    ]
)


@fold("pair", "bucket", CRSI_STATE_SCHEMA, CRSI_OUTPUT_SCHEMA)
def _update_rsi_cutler(key, rows, state):
    if state:
        prev_close, gains, losses = state
        gains, losses = list(gains), list(losses)
    else:
        prev_close, gains, losses = None, [], []

    out: dict[str, list] = {"bucket": [], "rsi": []}
    for bucket, close in zip(rows["bucket"], rows["close"]):
        close = float(close)
        if prev_close is None:
            prev_close = close
            continue
        d = _rhalf(close - prev_close)
        prev_close = close
        gains.append(max(d, 0.0))
        losses.append(max(-d, 0.0))
        if len(gains) > RSI_N:
            gains.pop(0)
            losses.pop(0)
        if len(gains) < RSI_N:
            continue
        # the batch form's windowed DECIMAL sums, cast back to double
        sg = float(sum((_dquant(g) for g in gains), Decimal(0)))
        sl = float(sum((_dquant(x) for x in losses), Decimal(0)))
        rsi = 100.0 if sl == 0 else _r6(100.0 - 100.0 / (1.0 + sg / sl))
        out["bucket"].append(bucket)
        out["rsi"].append(rsi)

    return (prev_close, gains, losses), out


@register(
    "stream_rsi_cutler",
    rotation_group=10,
    oracle=SQL_RSI_CUTLER,
    doc="Cutler's RSI as per-pair applyInPandasWithState: prev_close "
        "plus a 14-deep (gain, loss) ring (~29 scalars per pair).  "
        "Each bar appends the 9-dp rounded delta's gain/loss split "
        "and, once the ring fills, recomputes the batch form's exact "
        "windowed DECIMAL sums and the 6-dp HALF_UP RSI (all-gain "
        "windows pin 100 exactly).  With stream_macd/stream_obv this "
        "completes the family: EVERY batch window indicator now has a "
        "streaming twin sharing its oracle.  streamed == batch == "
        "SQL_RSI_CUTLER row-for-row.",
)
def stream_rsi_cutler(spark: SparkSession, sf_dir: str) -> DataFrame:
    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    return stateful_fold(
        closes, "stream_rsi_cutler", _update_rsi_cutler
    ).orderBy("pair", "bucket")


# ------------------------------- streaming max drawdown (update mode)

MDD_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("n_hours", LongType()),
        StructField("max_drawdown", DoubleType()),
    ]
)

MDD_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("peak", DoubleType()),
        StructField("min_dd", DoubleType()),
    ]
)


@fold("pair", "bucket", MDD_STATE_SCHEMA, MDD_OUTPUT_SCHEMA, "update")
def _update_max_drawdown(key, rows, state):
    n, peak, min_dd = state or (0, None, None)
    for close in rows["close"]:
        close = float(close)
        peak = close if peak is None else max(peak, close)
        dd = _rhalf(close / peak - 1)
        min_dd = dd if min_dd is None else min(min_dd, dd)
        n += 1

    # ONE aggregate row per (pair, micro-batch): the current running
    # answer -- update-mode semantics, not per-bar emission.
    return (n, peak, min_dd), {"n_hours": [n], "max_drawdown": [_r6(min_dd)]}


@register(
    "stream_max_drawdown",
    rotation_group=10,
    oracle=SQL_MAX_DRAWDOWN,
    doc="Maximum drawdown as an UPDATE-mode streaming aggregate -- the "
        "one indicator in the family whose batch form is a per-pair "
        "FINAL aggregate, so its twin demonstrates the third streaming "
        "shape: per-bar emission (append twins), bounded-window rings, "
        "and now a running aggregate that REVISES its answer each "
        "micro-batch.  State is three scalars (count, running peak, "
        "running min drawdown); the memory-sink drain holds every "
        "revision, and the serving select takes each pair's LAST "
        "revision (max_by on the monotone count) -- exactly the final "
        "aggregate.  Per-bar arithmetic replicates the batch form "
        "(close/running-peak - 1 fround-ed at 9 dp, min folded "
        "exactly, one 6-dp round at emission).  streamed == batch == "
        "the shared SQL_MAX_DRAWDOWN oracle.",
)
def stream_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    drained = stateful_fold(closes, "stream_max_drawdown", _update_max_drawdown)
    # each pair's last revision == the final aggregate
    return (
        drained.groupBy("pair")
        .agg(
            F.max("n_hours").alias("n_hours"),
            F.max_by("max_drawdown", "n_hours").alias("max_drawdown"),
        )
        .orderBy("pair")
    )


# --------------------------------------- streaming Donchian channels

DC_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("close", DoubleType()),
        StructField("upper", DoubleType()),
        StructField("lower", DoubleType()),
        StructField("mid", DoubleType()),
        StructField("breakout_up", BooleanType()),
        StructField("breakout_down", BooleanType()),
    ]
)

# Ring of the last DC_N (high, low) extremes per pair -- two parallel
# double arrays, bounded by live pairs x DC_N, never by history.
DC_STATE_SCHEMA = StructType(
    [
        StructField("highs", ArrayType(DoubleType())),
        StructField("lows", ArrayType(DoubleType())),
    ]
)


@fold("pair", "bucket", DC_STATE_SCHEMA, DC_OUTPUT_SCHEMA)
def _update_donchian(key, rows, state):
    highs: list[float] = list(state[0]) if state else []
    lows: list[float] = list(state[1]) if state else []
    out: dict[str, list] = {
        "bucket": [], "close": [], "upper": [], "lower": [],
        "mid": [], "breakout_up": [], "breakout_down": [],
    }
    for bucket, high, low, close in zip(
        rows["bucket"], rows["high"], rows["low"], rows["close"]
    ):
        high, low, close = float(high), float(low), float(close)
        # The batch frame is ROWS BETWEEN DC_N PRECEDING AND 1
        # PRECEDING: score the CURRENT bar against the ring BEFORE
        # pushing it, emitting only once the lookback is full.
        if len(highs) == DC_N:
            upper = max(highs)
            lower = min(lows)
            out["bucket"].append(bucket)
            out["close"].append(close)
            out["upper"].append(upper)
            out["lower"].append(lower)
            out["mid"].append((upper + lower) / 2)
            out["breakout_up"].append(close > upper)
            out["breakout_down"].append(close < lower)
        highs.append(high)
        lows.append(low)
        if len(highs) > DC_N:
            highs.pop(0)
            lows.pop(0)

    return (highs, lows), out


@register(
    "stream_donchian_channels",
    rotation_group=11,
    oracle=SQL_DONCHIAN,
    doc="Donchian channels as per-pair applyInPandasWithState -- the "
        "prior-window stateful twin of window_donchian_channels.  "
        "State is a ring of the last DC_N (high, low) extremes per "
        "pair; each arriving bar is scored against the ring BEFORE "
        "being pushed (the batch frame excludes the current row), so "
        "a new extreme cannot absorb its own breakout.  Every emitted "
        "term is IEEE-exact (extrema are selections, mid one add + "
        "halve), so streamed == batch == the shared SQL_DONCHIAN "
        "oracle with no rounding discipline at all.",
)
def stream_donchian_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    ohlc = bars(spark, sf_dir).select("pair", "bucket", "high", "low", "close")
    return stateful_fold(
        ohlc, "stream_donchian_channels", _update_donchian
    ).orderBy("pair", "bucket")


# ----------------------------------- streaming rolling z-score alerts

ZS_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("bucket_start", TimestampType()),
        StructField("n", LongType()),
        StructField("baseline_hours", LongType()),
        StructField("z", DoubleType()),
        StructField("is_anomaly", BooleanType()),
    ]
)

# Trailing (hour_idx, count) pairs inside the baseline horizon -- two
# parallel long arrays, at most BASELINE_HOURS entries per event type.
ZS_STATE_SCHEMA = StructType(
    [
        StructField("idxs", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


@fold("event_type", "hour_idx", ZS_STATE_SCHEMA, ZS_OUTPUT_SCHEMA)
def _update_rolling_zscore(key, rows, state):
    idxs: list[int] = list(state[0]) if state else []
    counts: list[int] = list(state[1]) if state else []
    out: dict[str, list] = {
        "bucket_start": [], "n": [], "baseline_hours": [],
        "z": [], "is_anomaly": [],
    }
    for bucket_start, hour_idx, n in zip(
        rows["bucket_start"], rows["hour_idx"], rows["n"]
    ):
        hour_idx, n = int(hour_idx), int(n)
        # Evict entries that fell out of the RANGE frame
        # [hour_idx - BASELINE_HOURS, hour_idx - 1]; gaps in the
        # series shrink the baseline exactly as the batch RANGE
        # frame does (distance is in hour INDEX, not row count).
        while idxs and idxs[0] < hour_idx - BASELINE_HOURS:
            idxs.pop(0)
            counts.pop(0)
        b_n = len(idxs)
        z = None
        if b_n >= 2:
            # The batch form's exact arithmetic: integer sums, then
            # a fixed IEEE op sequence (divide, multiply-subtract,
            # sqrt), rounded once at 6 dp.
            b_sum = sum(counts)
            b_sum2 = sum(c * c for c in counts)
            mean = float(b_sum) / b_n
            var = float(b_sum2) / b_n - mean * mean
            if var > 0:
                z = _r6((float(n) - mean) / math.sqrt(var))
        out["bucket_start"].append(bucket_start)
        out["n"].append(n)
        out["baseline_hours"].append(b_n)
        out["z"].append(z)
        out["is_anomaly"].append(
            abs(z) > Z_THRESHOLD if z is not None else False
        )
        idxs.append(hour_idx)
        counts.append(n)

    return (idxs, counts), out


@register(
    "stream_rolling_zscore",
    rotation_group=11,
    oracle=SQL_ROLLING_ZSCORE,
    doc="Rolling z-score anomaly alerts as per-event-type "
        "applyInPandasWithState -- the stateful twin of "
        "window_rolling_zscore, and the first twin OUTSIDE the market-"
        "indicator family (its input is the aggregated hourly metric "
        "series, the relation the reference's stats daemon maintains "
        "incrementally in lib/aggregation/stats.js).  State is the "
        "trailing (hour_idx, count) pairs inside the baseline horizon "
        "-- at most BASELINE_HOURS entries per event type, evicted by "
        "INDEX distance so series gaps shrink the baseline exactly "
        "like the batch RANGE frame.  Arithmetic is the batch form's: "
        "exact integer sums, one IEEE divide/multiply-subtract/sqrt "
        "sequence, one 6-dp round.  streamed == batch == the shared "
        "SQL_ROLLING_ZSCORE oracle row-for-row.",
)
def stream_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stateful_fold(
        hourly_event_series(spark, sf_dir), "stream_rolling_zscore",
        _update_rolling_zscore,
    ).orderBy("event_type", "bucket_start")


# ---------------------------------- streaming gap interpolation

GI_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bucket", TimestampType()),
        StructField("close", DoubleType()),
        StructField("is_interpolated", BooleanType()),
    ]
)

# Just the previous REAL bar: interpolation of a gap needs nothing
# else, because the gap's rows are emitted the moment the bar that
# CLOSES it arrives -- the repair-on-close streaming shape.
GI_STATE_SCHEMA = StructType(
    [
        StructField("prev_bucket", TimestampType()),
        StructField("prev_close", DoubleType()),
    ]
)


@fold("pair", "bucket", GI_STATE_SCHEMA, GI_OUTPUT_SCHEMA)
def _update_gap_interpolation(key, rows, state):
    prev_bucket, prev_close = state or (None, None)
    out: dict[str, list] = {"bucket": [], "close": [], "is_interpolated": []}
    for bucket, close in zip(rows["bucket"], rows["close"]):
        close = float(close)
        if prev_bucket is not None:
            den = int((bucket - prev_bucket).total_seconds()) // 3600
            for k in range(1, den):
                # the batch form's exact arithmetic: integer hour
                # ratio, one fused IEEE sequence, one DD_ROUND round
                w = float(k) / den
                out["bucket"].append(prev_bucket + pd.Timedelta(hours=k))
                out["close"].append(
                    _rhalf(prev_close + (close - prev_close) * w)
                )
                out["is_interpolated"].append(True)
        out["bucket"].append(bucket)
        out["close"].append(close)
        out["is_interpolated"].append(False)
        prev_bucket, prev_close = bucket, close

    return (prev_bucket, prev_close), out


@register(
    "stream_gap_interpolation",
    rotation_group=11,
    oracle=SQL_GAP_INTERPOLATION,
    doc="Gap repair as per-pair applyInPandasWithState -- the repair-"
        "on-close streaming shape: state is ONLY the previous real bar "
        "(2 scalars; no ring, no pending buffer), because a gap's "
        "interpolated rows are emittable exactly when the bar that "
        "closes it arrives.  Each arriving bar emits the interpolated "
        "hours between it and the previous bar (exact integer hour "
        "ratio, the batch's IEEE sequence, one 9-dp HALF_UP round) and "
        "then itself.  Emission order per pair is the series order, so "
        "streamed == batch == the shared SQL_GAP_INTERPOLATION oracle "
        "row-for-row.  The spine endpoints are real bars by "
        "construction on both forms (each starts at the pair's first "
        "real bar and ends at its last).",
)
def stream_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    return stateful_fold(
        closes, "stream_gap_interpolation", _update_gap_interpolation
    ).orderBy("pair", "bucket")


# ------------------------------------ streaming dollar bars (update)

DB_OUTPUT_SCHEMA = StructType(
    [
        StructField("pair", StringType()),
        StructField("bar_id", LongType()),
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
        StructField("open", DoubleType()),
        StructField("high", DoubleType()),
        StructField("low", DoubleType()),
        StructField("close", DoubleType()),
        StructField("base_volume", DoubleType()),
        StructField("dollar_volume", DoubleType()),
        StructField("n_trades", LongType()),
    ]
)

# The OPEN bar's accumulators + the running notional cumsum -- closed
# bars leave state the moment they close.  Exact volume accumulation
# carries the decimal sums as STRINGS (Arrow state round-trips doubles,
# but the dsum contract is exact decimal addition, so the state keeps
# the decimal text).
DB_STATE_SCHEMA = StructType(
    [
        StructField("cum_prev", LongType()),
        StructField("bar_id", LongType()),
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
        StructField("open", DoubleType()),
        StructField("high", DoubleType()),
        StructField("low", DoubleType()),
        StructField("close", DoubleType()),
        StructField("base_sum", StringType()),
        StructField("dollar_sum", StringType()),
        StructField("n_trades", LongType()),
    ]
)

_QUANT6 = Decimal(1).scaleb(-6)


def _d6(x: float) -> Decimal:
    """Spark's CAST(double AS DECIMAL(38,6)): shortest repr, HALF_UP."""
    return Decimal(repr(x)).quantize(_QUANT6, rounding=ROUND_HALF_UP)


@fold("pair", ["ts", "event_id"], DB_STATE_SCHEMA, DB_OUTPUT_SCHEMA, "update")
def _update_dollar_bars(key, rows, state):
    if state:
        (cum_prev, bar_id, start_ts, end_ts, op, hi, lo, cl,
         base_sum, dollar_sum, n) = state
        base_sum, dollar_sum = Decimal(base_sum), Decimal(dollar_sum)
    else:
        cum_prev, bar_id, n = 0, None, 0
        start_ts = end_ts = op = hi = lo = cl = None
        base_sum = dollar_sum = Decimal(0)

    out: dict[str, list] = {f.name: [] for f in DB_OUTPUT_SCHEMA.fields[1:]}

    def _emit_bar() -> None:
        for col, v in zip(out.values(), (
            bar_id, start_ts, end_ts, op, hi, lo, cl,
            float(base_sum), float(dollar_sum), n,
        )):
            col.append(v)

    for ts, value, counter_value in zip(
        rows["ts"], rows["value"], rows["counter_value"]
    ):
        value, counter_value = float(value), float(counter_value)
        notional_micro = int(_d6(counter_value) * 1_000_000)
        this_bar = cum_prev // _DB_T_MICRO
        if bar_id is not None and this_bar != bar_id:
            _emit_bar()  # the bar just CLOSED: final revision
            bar_id, n = None, 0
            base_sum = dollar_sum = Decimal(0)
        if bar_id is None:
            bar_id, start_ts, op, hi, lo = this_bar, ts, value, value, value
        cum_prev += notional_micro
        end_ts, cl = ts, value
        hi, lo = max(hi, value), min(lo, value)
        base_sum += _d6(value)
        dollar_sum += _d6(counter_value)
        n += 1
    if bar_id is not None:
        _emit_bar()  # the open bar's running revision

    return (
        cum_prev, bar_id, start_ts, end_ts, op, hi, lo, cl,
        str(base_sum), str(dollar_sum), n,
    ), out


@register(
    "stream_dollar_bars",
    rotation_group=11,
    oracle=SQL_DOLLAR_BARS,
    doc="Dollar bars as an UPDATE-mode stateful twin: state is ONLY "
        "the open bar's accumulators plus the notional cumsum (11 "
        "scalars -- closed bars leave state the moment a trade crosses "
        "the boundary, emitting their FINAL row; the open bar emits a "
        "running revision per micro-batch).  The memory-sink drain "
        "holds every revision and the serving select takes each "
        "(pair, bar_id)'s last one (max_by on the monotone trade "
        "count) -- exactly the batch bar, including the final partial "
        "bar.  Exactness: the cumsum is the batch form's integer "
        "micro-notional (per-trade DECIMAL(38,6) quantization), so no "
        "float drift can move a trade across a bar edge, and volumes "
        "accumulate as exact Decimals carried through state as text.  "
        "streamed == batch == the shared SQL_DOLLAR_BARS oracle.",
)
def stream_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    trades = _with_legs(load_table(spark, sf_dir, "events")).select(
        F.col("event_type").alias("pair"),
        "ts",
        "event_id",
        "value",
        "counter_value",
    )
    drained = stateful_fold(trades, "stream_dollar_bars", _update_dollar_bars)
    return (
        drained.groupBy("pair", "bar_id")
        .agg(
            F.max_by("start_ts", "n_trades").alias("start_ts"),
            F.max_by("end_ts", "n_trades").alias("end_ts"),
            F.max_by("open", "n_trades").alias("open"),
            F.max_by("high", "n_trades").alias("high"),
            F.max_by("low", "n_trades").alias("low"),
            F.max_by("close", "n_trades").alias("close"),
            F.max_by("base_volume", "n_trades").alias("base_volume"),
            F.max_by("dollar_volume", "n_trades").alias("dollar_volume"),
            F.max("n_trades").alias("n_trades"),
        )
        .orderBy("pair", "bar_id")
    )
