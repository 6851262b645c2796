"""OHLC candle aggregation -- the reference's flagship analytics.

Reference: the exchanges aggregation daemon reduces raw trades to
1-minute candles -- open/close picked by the (time, ledger, tx, node)
sort key, high/low of rate, summed volumes, vwap = sum(counter)/sum(base)
(``lib/aggregation/exchanges.js:515-582``) -- then hierarchically rolls
minutes into 12 coarser intervals (``exchanges.js:12-25, 282-359``) with
epoch-anchored multi-day alignment (``lib/utils.js:70-136, 99-115``).
The on-the-fly variant re-reduces raw rows at query time
(``lib/hbase/hbase-thrift/data.js:1590-1655``).

Synthetic-table mapping (events == trade stream): ``event_type`` is the
currency pair, ``ts/event_id`` the sort key, ``value`` the base amount;
the counter leg is derived per-row as ``value * (1 + user_id/100)``
(deterministic double arithmetic, identical in any engine), so
``rate = counter/base`` and vwap semantics carry over exactly.

Spark shape: one ``groupBy(pair, date_trunc(interval))`` per level --
a single shuffle keyed on (pair, bucket); open/close are ``min_by`` /
``max_by`` on the packed DECIMAL sort-key scalar (``catalog.sort_key``;
a struct key would force SortAggregate), so no per-group sort or window
pass is needed.  Coarser intervals re-reduce the 1-hour gold table
(associativity verified against the raw-data oracle), which at 100 TB
means each rollup reads candle rows, not the trade log.  The indicator
family reads its bars from the same device: :func:`bars` is the one
bar builder, and every indicator window runs on its pair-partitioned
series, never on the trade stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..functions.timeutils import anchored_bucket, sql_anchored_bucket
from ..plans.registry import register
from ..sources.catalog import load_table, sort_key

# Dust filter: the reference drops XRP legs below 0.0005 before candling
# (data.js:1609-1620, aggregation/exchanges.js:523-531).
DUST = 0.0005

# Per-row derived columns (pure double arithmetic -- engine-independent).
SQL_COUNTER = "value * (1 + user_id / 100.0)"


def _with_legs(e: DataFrame) -> DataFrame:
    return (
        e.filter(~(F.col("value") < DUST))
        .withColumn("counter_value", F.col("value") * (1 + F.col("user_id") / 100.0))
    )


def _candle_aggs(final: bool) -> list[Column]:
    """The OHLC aggregate set over rows with base/counter legs.

    ``final=False`` keeps volumes in DECIMAL for exact re-reduction at the
    next rollup level; ``final=True`` casts to DOUBLE for output.
    """
    key = sort_key()
    vol = F.sum(F.col("value").cast("decimal(38,6)"))
    cvol = F.sum(F.col("counter_value").cast("decimal(38,6)"))
    aggs = [
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        (vol.cast("double") if final else vol).alias("base_volume"),
        (cvol.cast("double") if final else cvol).alias("counter_volume"),
        F.count("*").alias("n_trades"),
        F.min("ts").alias("open_time"),
        F.max("ts").alias("close_time"),
    ]
    if final:
        aggs.append((cvol.cast("double") / vol.cast("double")).alias("vwap"))
    else:
        aggs.append(F.min(key).alias("open_key"))
        aggs.append(F.max(key).alias("close_key"))
    return aggs


def merge_candle_aggs() -> list[Column]:
    """Re-reduce ``_candle_aggs(final=False)`` partials to final candles:
    associative, so it serves a coarser rollup level and the merge of
    streamed partials alike."""
    vol = F.sum("base_volume")
    cvol = F.sum("counter_volume")
    return [
        F.min_by("open", "open_key").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "close_key").alias("close"),
        vol.cast("double").alias("base_volume"),
        cvol.cast("double").alias("counter_volume"),
        F.sum("n_trades").alias("n_trades"),
        F.min("open_time").alias("open_time"),
        F.max("close_time").alias("close_time"),
        (cvol.cast("double") / vol.cast("double")).alias("vwap"),
    ]


def hourly_candles(e: DataFrame, final: bool = True) -> DataFrame:
    return (
        _with_legs(e)
        .groupBy(
            F.col("event_type").alias("pair"),
            F.date_trunc("hour", "ts").alias("bucket_start"),
        )
        .agg(*_candle_aggs(final))
    )


def _sql_candle_select(unit_expr: str) -> str:
    """Oracle rendering of one candle level computed from raw events."""
    return f"""
    SELECT event_type AS pair,
           {unit_expr} AS bucket_start,
           FIRST(value ORDER BY ts, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           LAST(value ORDER BY ts, event_id) AS close,
           {sql_dsum("value")} AS base_volume,
           {sql_dsum(SQL_COUNTER)} AS counter_volume,
           COUNT(*) AS n_trades,
           MIN(ts) AS open_time,
           MAX(ts) AS close_time,
           {sql_dsum(SQL_COUNTER)} / {sql_dsum("value")} AS vwap
    FROM events
    WHERE NOT (value < {DUST})
    GROUP BY 1, 2
    """


@register(
    "agg_candles_hourly",
    oracle=_sql_candle_select("DATE_TRUNC('hour', ts)"),
    doc="1-unit candle build: aggregation/exchanges.js:515-582 as a single "
        "groupBy(pair, date_trunc) with min_by/max_by open/close.",
    bench=True,
)
def agg_candles_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_candles(load_table(spark, sf_dir, "events"), final=True)


@register(
    "agg_candles_daily_rollup",
    # DuckDB DATE_TRUNC('day') yields DATE; cast for a TIMESTAMP schema.
    oracle=_sql_candle_select("CAST(DATE_TRUNC('day', ts) AS TIMESTAMP)"),
    doc="Hierarchical re-reduce minute->...->day (exchanges.js:282-359): the "
        "daily candle is computed FROM the hourly gold table (decimal-exact "
        "volumes), while the oracle aggregates the raw rows -- verifying the "
        "re-reduce associativity invariant (FIXTURES.md section 5.2).",
    bench=True,
)
def agg_candles_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = hourly_candles(load_table(spark, sf_dir, "events"), final=False)
    return hourly.groupBy(
        "pair", F.date_trunc("day", "bucket_start").alias("bucket_start")
    ).agg(*merge_candle_aggs())


@register(
    "agg_candles_3day_anchored",
    oracle=_sql_candle_select(sql_anchored_bucket("ts", 3)),
    doc="Epoch-anchored 3-day buckets (utils.js:99-115): days since "
        "2013-01-01 modulo 3 as plain column arithmetic -- no custom "
        "Catalyst expression needed (SURVEY.md section 4).",
)
def agg_candles_3day_anchored(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        _with_legs(e)
        .groupBy(
            F.col("event_type").alias("pair"),
            anchored_bucket("ts", 3).alias("bucket_start"),
        )
        .agg(*_candle_aggs(final=True))
    )


@register(
    "agg_candles_reduce_range",
    oracle=f"""
    SELECT event_type AS pair,
           FIRST(value ORDER BY ts, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           LAST(value ORDER BY ts, event_id) AS close,
           {sql_dsum("value")} AS base_volume,
           {sql_dsum(SQL_COUNTER)} AS counter_volume,
           COUNT(*) AS n_trades
    FROM events
    WHERE NOT (value < {DUST})
      AND ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'
    GROUP BY 1
    """,
    doc="On-the-fly reduce=true: one candle per pair over an arbitrary "
        "query range (data.js:1590-1655). The reference caps this at 10000 "
        "scanned rows ('too many rows', data.js:1716-1722); distributed "
        "aggregation removes the cap.",
)
def agg_candles_reduce_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    key = sort_key()
    in_range = (F.col("ts") >= F.lit("2024-01-05 00:00:00")) & (
        F.col("ts") < F.lit("2024-01-12 00:00:00")
    )
    return (
        _with_legs(e.filter(in_range))
        .groupBy(F.col("event_type").alias("pair"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            dsum("value").alias("base_volume"),
            dsum("counter_value").alias("counter_volume"),
            F.count("*").alias("n_trades"),
        )
    )


@register(
    "agg_candles_grouping_sets",
    oracle=f"""
    WITH legs AS (
        SELECT event_type AS pair, ts, event_id, value,
               {SQL_COUNTER} AS counter_value,
               DATE_TRUNC('hour', ts) AS h,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d,
               CAST(DATE_TRUNC('week', ts) AS TIMESTAMP) AS w
        FROM events WHERE NOT (value < {DUST})
    )
    SELECT pair,
           CASE WHEN GROUPING(h) = 0 THEN 'hour'
                WHEN GROUPING(d) = 0 THEN 'day'
                ELSE 'week' END AS interval,
           COALESCE(h, d, w) AS bucket_start,
           FIRST(value ORDER BY ts, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           LAST(value ORDER BY ts, event_id) AS close,
           {sql_dsum("value")} AS base_volume,
           {sql_dsum("counter_value")} AS counter_volume,
           COUNT(*) AS n_trades,
           {sql_dsum("counter_value")} / {sql_dsum("value")} AS vwap
    FROM legs
    GROUP BY GROUPING SETS ((pair, h), (pair, d), (pair, w))
    ORDER BY interval, pair, bucket_start
    """,
    doc="One-pass multi-interval candle build via GROUPING SETS: hour, "
        "day, and week candles from a SINGLE scan + Expand + one hash "
        "aggregate/shuffle, where the reference runs one re-reduce pass "
        "per interval (exchanges.js:282-359, 12 intervals). At 100 TB "
        "the trade log is read once instead of once per level; total "
        "shuffle bytes are the same as the per-level sum, but job "
        "scheduling, scan, and decode costs collapse 12x. Output carries "
        "an explicit `interval` column, matching the reference's "
        "agg_exchanges rowkey (interval|pair|time).",
    bench=True,
)
def agg_candles_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _with_legs(load_table(spark, sf_dir, "events"))
    legs = e.select(
        F.col("event_type").alias("pair"),
        "ts", "event_id", "value", "counter_value",
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("week", "ts").alias("w"),
    )
    key = sort_key()
    vol = F.sum(F.col("value").cast("decimal(38,6)"))
    cvol = F.sum(F.col("counter_value").cast("decimal(38,6)"))
    interval = (
        F.when(F.grouping("h") == 0, "hour")
        .when(F.grouping("d") == 0, "day")
        .otherwise("week")
    )
    return (
        legs.groupingSets(
            [["pair", "h"], ["pair", "d"], ["pair", "w"]],
            "pair", "h", "d", "w",
        )
        .agg(
            interval.alias("interval"),
            F.coalesce("h", "d", "w").alias("bucket_start"),
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            vol.cast("double").alias("base_volume"),
            cvol.cast("double").alias("counter_volume"),
            F.count("*").alias("n_trades"),
            (cvol.cast("double") / vol.cast("double")).alias("vwap"),
        )
        .select(
            "pair", "interval", "bucket_start", "open", "high", "low", "close",
            "base_volume", "counter_volume", "n_trades", "vwap",
        )
        .orderBy("interval", "pair", "bucket_start")
    )


# ------------------------------- drawdown / volatility analytics

# Market-risk readings over the hourly close series -- the analytics a
# user of the reference's exchange endpoints computes client-side
# today (the API serves candles; drawdown/volatility are the first
# things a market dashboard derives from them).  Both run on the
# CANDLE-sized series (pairs x hours), never the raw trade stream:
# one bar aggregate (:func:`bars`), then per-pair windows over the
# series.
DD_ROUND = 9


def fround(col: Column | str, scale: int = DD_ROUND) -> Column:
    """The engine-portable fixed-point round (functions/numeric.py
    fround -- floor(x·10^s + 0.5)/10^s, one IEEE sequence identical on
    every engine), defaulted to the indicator family's DD_ROUND scale.
    The recursions divide 9-dp grid values by small N, landing EXACTLY
    on half-grid ties where native ROUND machinery disagrees per
    engine (round-12 strict sweep: atr/keltner/heikin-ashi flipped an
    ulp) -- hence fround at every step of the family's folds, stream
    state, and oracles."""
    from ..functions.numeric import fround as _fr

    return _fr(col, scale)


def sql_fround(expr: str, scale: int = DD_ROUND) -> str:
    """:func:`fround` as SQL text -- valid (and bit-identical) in BOTH
    Spark SQL fold expressions and DuckDB oracles."""
    from ..functions.numeric import sql_fround as _sfr

    return _sfr(expr, scale)

_SQL_HOURLY_CLOSES = """closes AS (
        SELECT event_type AS pair, bucket, value AS close FROM (
            SELECT event_type, CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP)
                     AS bucket,
                   value,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type, DATE_TRUNC('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    )"""


def bars(spark: SparkSession, sf_dir: str, unit: str = "hour") -> DataFrame:
    """The indicator family's bar relation: one row per (pair, bucket)
    over EVERY trade (no dust filter) with open/high/low/close and the
    trade count as ``volume``.  One hash aggregate -- open/close are
    ``min_by``/``max_by`` on the packed sort key, so there is no
    per-bucket sort or window over the trade stream; callers ``select``
    the columns they read and the optimizer prunes the rest."""
    key = sort_key()
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("pair"),
            F.date_trunc(unit, "ts").alias("bucket"),
        )
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("volume"),
        )
    )


# Shared by window_max_drawdown and its update-mode streaming twin.
SQL_MAX_DRAWDOWN = f"""
    WITH {_SQL_HOURLY_CLOSES},
    dd AS (
        SELECT pair,
               (FLOOR((close / MAX(close) OVER (
                   PARTITION BY pair ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - 1) * 1000000000e0 + 0.5) / 1000000000e0) AS drawdown
        FROM closes
    )
    SELECT pair,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           (FLOOR((MIN(drawdown)) * 1000000e0 + 0.5) / 1000000e0) AS max_drawdown
    FROM dd GROUP BY pair ORDER BY pair
    """


@register(
    "window_max_drawdown",
    rotation_group=6,
    oracle=SQL_MAX_DRAWDOWN,
    doc="Maximum drawdown per pair over the hourly close series: "
        "close/running-peak - 1, minimized (the standard worst "
        "peak-to-trough loss metric).  The running peak is a window "
        "max over the CANDLE-sized series (pairs x hours), so the "
        "expensive relation is the same bounded gold table the candle "
        "rollups emit -- the raw trade stream is touched once by the "
        "bar hash aggregate and never again; at scale the series "
        "windows read gold_1m rollups directly.  Per-row division is "
        "one IEEE op rounded at 1e-9; the min/count fold is exact.",
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    w_peak = (
        Window.partitionBy("pair")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = closes.select(
        "pair",
        fround(F.col("close") / F.max("close").over(w_peak) - 1).alias("drawdown"),
    )
    return (
        dd.groupBy("pair")
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            fround(F.min("drawdown"), 6).alias("max_drawdown"),
        )
        .orderBy("pair")
    )


@register(
    "agg_log_return_volatility",
    rotation_group=6,
    oracle=f"""
    WITH {_SQL_HOURLY_CLOSES},
    rets AS (
        SELECT pair,
               (FLOOR((LN(close / LAG(close) OVER (
                   PARTITION BY pair ORDER BY bucket))) * 1000000000e0 + 0.5) / 1000000000e0) AS r
        FROM closes
    ),
    s AS (
        SELECT pair,
               CAST(COUNT(r) AS BIGINT) AS n,
               {sql_dsum("r", DD_ROUND)} AS sx,
               {sql_dsum("r * r", DD_ROUND)} AS sxx
        FROM rets WHERE r IS NOT NULL GROUP BY pair
    )
    SELECT pair, n AS n_returns,
           (FLOOR((SQRT(GREATEST(n * sxx - sx * sx, 0)) / n) * 1000000e0 + 0.5) / 1000000e0)
             AS vol_hourly
    FROM s ORDER BY pair
    """,
    doc="Hourly log-return volatility per pair: population standard "
        "deviation of ln(close_t/close_{t-1}) computed from the "
        "closed-form (n, sum, sum-of-squares) -- no second pass over "
        "the series, and the sums go through the DECIMAL accumulator "
        "so the result is partition-order independent (Spark's "
        "stddev_pop is not).  Same scale shape as the drawdown: one "
        "bar aggregate on the trade stream, then all windows and "
        "sums on the candle-sized series.  sqrt(GREATEST(.., 0)) "
        "guards the tiny negative from rounding when a pair's returns "
        "are constant.",
)
def agg_log_return_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    w_lag = Window.partitionBy("pair").orderBy("bucket")
    rets = closes.select(
        "pair",
        fround(F.log(F.col("close") / F.lag("close").over(w_lag))).alias("r"),
    ).filter(F.col("r").isNotNull())
    s = rets.groupBy("pair").agg(
        F.count("r").cast("bigint").alias("n"),
        dsum("r", DD_ROUND).alias("sx"),
        dsum(F.col("r") * F.col("r"), DD_ROUND).alias("sxx"),
    )
    return s.select(
        "pair",
        F.col("n").alias("n_returns"),
        fround(F.sqrt(
                F.greatest(
                    F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
                    F.lit(0.0),
                )
            )
            / F.col("n"), 6).alias("vol_hourly"),
    ).orderBy("pair")


# Rolling-band / oscillator indicators over the same close series.
BB_N = 24        # Bollinger window: 24 hourly closes
BB_K = 2.0       # band width in population stddevs
RSI_N = 14       # Cutler's RSI period (SMA form -- window-expressible;
                 # Wilder's EMA form is recursive and needs state)


# Shared by window_bollinger_bands and its streaming twin
# (streaming/rsi_stream.py stream_bollinger_bands), like SQL_ICHIMOKU.
SQL_BOLLINGER = f"""
    WITH {_SQL_HOURLY_CLOSES},
    base AS (
        SELECT pair, bucket, (FLOOR((close) * 1000000000e0 + 0.5) / 1000000000e0) AS c FROM closes
    ),
    win AS (
        SELECT pair, bucket, c,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(CAST(c AS DECIMAL(38,{DD_ROUND}))) OVER w
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(c * c AS DECIMAL(38,{DD_ROUND}))) OVER w
                    AS DOUBLE) AS sxx
        FROM base
        WINDOW w AS (PARTITION BY pair ORDER BY bucket
                     ROWS BETWEEN {BB_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT pair, bucket, c AS close,
           (FLOOR((sx / n) * 1000000e0 + 0.5) / 1000000e0) AS mid,
           (FLOOR((sx / n + {BB_K} * SQRT(GREATEST(n * sxx - sx * sx, 0)) / n) * 1000000e0 + 0.5) / 1000000e0) AS upper,
           (FLOOR((sx / n - {BB_K} * SQRT(GREATEST(n * sxx - sx * sx, 0)) / n) * 1000000e0 + 0.5) / 1000000e0) AS lower,
           (c > (FLOOR((sx / n + {BB_K} * SQRT(GREATEST(n * sxx - sx * sx, 0))
                / n) * 1000000e0 + 0.5) / 1000000e0)
            OR c < (FLOOR((sx / n - {BB_K} * SQRT(GREATEST(n * sxx - sx * sx, 0))
                / n) * 1000000e0 + 0.5) / 1000000e0)) AS breakout
    FROM win WHERE n = {BB_N}
    ORDER BY pair, bucket
    """


@register(
    "window_bollinger_bands",
    rotation_group=6,
    oracle=SQL_BOLLINGER,
    doc=f"Bollinger bands over the hourly close series: rolling "
        f"{BB_N}-bucket mean ± {BB_K} population stddevs, computed "
        "from windowed DECIMAL sums of (c, c²) so the rolling moments "
        "are partition-order exact -- Spark's windowed stddev is not.  "
        "Bands emit only once the window is full (n = N), matching "
        "every charting library's convention.  Same candle-sized "
        "series cost shape as the drawdown/volatility pair; the "
        "breakout flag is the alert feed a market monitor tails.",
)
def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    base = closes.select(
        "pair", "bucket", fround("close").alias("c")
    )
    w = (
        Window.partitionBy("pair")
        .orderBy("bucket")
        .rowsBetween(-(BB_N - 1), 0)
    )
    dec = f"decimal(38,{DD_ROUND})"
    win = base.select(
        "pair",
        "bucket",
        "c",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum(F.col("c").cast(dec)).over(w).cast("double").alias("sx"),
        F.sum((F.col("c") * F.col("c")).cast(dec)).over(w).cast("double")
        .alias("sxx"),
    ).filter(F.col("n") == BB_N)
    sd = F.sqrt(
        F.greatest(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
        )
    ) / F.col("n")
    mid = fround(F.col("sx") / F.col("n"), 6)
    upper = fround(F.col("sx") / F.col("n") + BB_K * sd, 6)
    lower = fround(F.col("sx") / F.col("n") - BB_K * sd, 6)
    return win.select(
        "pair",
        "bucket",
        F.col("c").alias("close"),
        mid.alias("mid"),
        upper.alias("upper"),
        lower.alias("lower"),
        ((F.col("c") > upper) | (F.col("c") < lower)).alias("breakout"),
    ).orderBy("pair", "bucket")


# Shared by window_rsi_cutler and its streaming twin.
SQL_RSI_CUTLER = f"""
    WITH {_SQL_HOURLY_CLOSES},
    deltas AS (
        SELECT pair, bucket,
               (FLOOR((close - LAG(close) OVER (
                   PARTITION BY pair ORDER BY bucket)) * 1000000000e0 + 0.5) / 1000000000e0) AS d
        FROM closes
    ),
    gl AS (
        SELECT pair, bucket,
               GREATEST(d, 0) AS gain, GREATEST(-d, 0) AS loss
        FROM deltas WHERE d IS NOT NULL
    ),
    win AS (
        SELECT pair, bucket,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(CAST(gain AS DECIMAL(38,{DD_ROUND}))) OVER w
                    AS DOUBLE) AS sg,
               CAST(SUM(CAST(loss AS DECIMAL(38,{DD_ROUND}))) OVER w
                    AS DOUBLE) AS sl
        FROM gl
        WINDOW w AS (PARTITION BY pair ORDER BY bucket
                     ROWS BETWEEN {RSI_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT pair, bucket,
           CASE WHEN sl = 0 THEN 100.0
                ELSE (FLOOR((100.0 - 100.0 / (1.0 + sg / sl)) * 1000000e0 + 0.5) / 1000000e0) END AS rsi
    FROM win WHERE n = {RSI_N}
    ORDER BY pair, bucket
    """


@register(
    "window_rsi_cutler",
    rotation_group=6,
    oracle=SQL_RSI_CUTLER,
    doc=f"Cutler's RSI over the hourly close series: SMA-{RSI_N} of "
        "gains over SMA of losses, 100 - 100/(1+RS) -- chosen over "
        "Wilder's original precisely because the SMA form is a pure "
        "window (Wilder's exponential smoothing is a recursion, i.e. "
        "streaming state, not a frame).  Gains/losses are rounded "
        "per-row deltas summed through windowed DECIMAL accumulators; "
        "the all-gain window (loss sum 0) pins RSI at 100 exactly as "
        "the indicator defines.  Emits only full windows; same "
        "candle-sized series cost shape as the rest of the family.",
)
def window_rsi_cutler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    w_lag = Window.partitionBy("pair").orderBy("bucket")
    deltas = closes.select(
        "pair",
        "bucket",
        fround(F.col("close") - F.lag("close").over(w_lag)).alias("d"),
    ).filter(F.col("d").isNotNull())
    gl = deltas.select(
        "pair",
        "bucket",
        F.greatest("d", F.lit(0)).alias("gain"),
        F.greatest(-F.col("d"), F.lit(0)).alias("loss"),
    )
    w = (
        Window.partitionBy("pair")
        .orderBy("bucket")
        .rowsBetween(-(RSI_N - 1), 0)
    )
    dec = f"decimal(38,{DD_ROUND})"
    win = gl.select(
        "pair",
        "bucket",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum(F.col("gain").cast(dec)).over(w).cast("double").alias("sg"),
        F.sum(F.col("loss").cast(dec)).over(w).cast("double").alias("sl"),
    ).filter(F.col("n") == RSI_N)
    return win.select(
        "pair",
        "bucket",
        F.when(F.col("sl") == 0, F.lit(100.0))
        .otherwise(
            fround(100.0 - 100.0 / (1.0 + F.col("sg") / F.col("sl")), 6)
        )
        .alias("rsi"),
    ).orderBy("pair", "bucket")


# ------------------------------- Wilder's RSI (recursive smoothing)

# Wilder's original RSI smooths gains/losses with his EMA
# (avg_t = (avg_{t-1} * (N-1) + x_t) / N, seeded by the SMA of the
# first N deltas) -- a linear RECURSION, not a window frame, which is
# why window_rsi_cutler above ships the SMA form and this operator
# exists separately.  Batch form: the per-pair close series is
# candle-sized (pairs x hours -- bounded by the calendar, not the trade
# count), so the recursion runs as JVM-side ``aggregate`` folds over
# the collected series per pair -- the one EMA fold template below
# (``_ema_fold``, wilder=True), once over gains and once over losses:
# no Python UDF, no driver collect, and cross-pair parallelism is the
# partitioning.  The streaming form
# (streaming/rsi_stream.py) runs the SAME recursion as per-pair
# applyInPandasWithState state -- the reference's running-average shape
# (lib/aggregation/stats.js:327-331) -- and equals this batch fold
# row-for-row (tests/test_rsi_wilder.py).  Every intermediate average
# goes through fround (the engine-portable fixed-point round above) in
# all three engines (fold, stream state, DuckDB recursion), making the
# equality exact -- including on the recursion's half-grid ties.


def rsi_from_avgs(avgs: DataFrame) -> DataFrame:
    """(pair, bucket, ag, al) -> (pair, bucket, rsi); shared by the
    batch fold and the streaming state operator so the indicator
    formula exists once."""
    return avgs.select(
        "pair",
        "bucket",
        F.when(F.col("al") == 0, F.lit(100.0))
        .otherwise(
            fround(100.0 - 100.0 / (1.0 + F.col("ag") / F.col("al")), 6)
        )
        .alias("rsi"),
    ).orderBy("pair", "bucket")


def wilder_avgs_from_closes(closes: DataFrame) -> DataFrame:
    """Run Wilder's smoothing over a (pair, bucket, close) frame via the
    per-pair EMA folds; returns (pair, bucket, ag, al) from the
    N-th delta onward."""
    from pyspark.sql.window import Window

    w_lag = Window.partitionBy("pair").orderBy("bucket")
    deltas = closes.select(
        "pair",
        "bucket",
        fround(F.col("close") - F.lag("close").over(w_lag)).alias("d"),
    ).filter(F.col("d").isNotNull())
    gl = deltas.select(
        "pair",
        "bucket",
        F.greatest("d", F.lit(0.0)).alias("gain"),
        F.greatest(-F.col("d"), F.lit(0.0)).alias("loss"),
    )
    series = gl.groupBy("pair").agg(
        F.array_sort(
            F.collect_list(F.struct("bucket", "gain", "loss"))
        ).alias("series")
    )
    # Two runs of the one EMA fold (gain, loss): both emit from the
    # N-th delta onward, so the arrays align element for element.
    avgs = F.zip_with(
        F.expr(_ema_fold("series", RSI_N, "gain", wilder=True)),
        F.expr(_ema_fold("series", RSI_N, "loss", wilder=True)),
        lambda g, lo: F.struct(
            g["bucket"].alias("bucket"), g["val"].alias("ag"), lo["val"].alias("al")
        ),
    )
    return (
        series.select("pair", F.explode(avgs).alias("o"))
        .select("pair", "o.bucket", "o.ag", "o.al")
    )


_SQL_WILDER_REC = f"""
    deltas AS (
        SELECT pair, bucket,
               (FLOOR((close - LAG(close) OVER (
                   PARTITION BY pair ORDER BY bucket)) * 1000000000e0 + 0.5) / 1000000000e0) AS d
        FROM closes
    ),
    gl AS (
        SELECT pair, bucket,
               GREATEST(d, 0) AS gain, GREATEST(-d, 0) AS loss,
               ROW_NUMBER() OVER (PARTITION BY pair ORDER BY bucket) AS rn
        FROM deltas WHERE d IS NOT NULL
    ),
    rec AS (
        SELECT pair, rn, bucket, gain AS sg, loss AS sl,
               CAST(NULL AS DOUBLE) AS ag, CAST(NULL AS DOUBLE) AS al
        FROM gl WHERE rn = 1
        UNION ALL
        SELECT g.pair, g.rn, g.bucket,
               CASE WHEN g.rn < {RSI_N} THEN r.sg + g.gain ELSE 0 END,
               CASE WHEN g.rn < {RSI_N} THEN r.sl + g.loss ELSE 0 END,
               CASE WHEN g.rn = {RSI_N}
                    THEN (FLOOR(((r.sg + g.gain) / {RSI_N}) * 1000000000e0 + 0.5) / 1000000000e0)
                    WHEN g.rn > {RSI_N}
                    THEN (FLOOR(((r.ag * {RSI_N - 1} + g.gain) / {RSI_N}) * 1000000000e0 + 0.5) / 1000000000e0) END,
               CASE WHEN g.rn = {RSI_N}
                    THEN (FLOOR(((r.sl + g.loss) / {RSI_N}) * 1000000000e0 + 0.5) / 1000000000e0)
                    WHEN g.rn > {RSI_N}
                    THEN (FLOOR(((r.al * {RSI_N - 1} + g.loss) / {RSI_N}) * 1000000000e0 + 0.5) / 1000000000e0) END
        FROM rec r JOIN gl g ON g.pair = r.pair AND g.rn = r.rn + 1
    )
    SELECT pair, bucket,
           CASE WHEN al = 0 THEN 100.0
                ELSE (FLOOR((100.0 - 100.0 / (1.0 + ag / al)) * 1000000e0 + 0.5) / 1000000e0) END AS rsi
    FROM rec WHERE rn >= {RSI_N}
    ORDER BY pair, bucket
"""

# The recursive member re-executes any non-materialized CTE it references
# on EVERY iteration in DuckDB -- at 10x that is ~700 full event scans
# (measured: 75 s timeout -> 1.1 s with MATERIALIZED).
SQL_WILDER_RSI = (
    "WITH RECURSIVE "
    + _SQL_HOURLY_CLOSES.replace("closes AS (", "closes AS MATERIALIZED (", 1)
    + ",\n"
    + _SQL_WILDER_REC.replace("gl AS (", "gl AS MATERIALIZED (", 1)
)


@register(
    "window_rsi_wilder",
    rotation_group=7,
    oracle=SQL_WILDER_RSI,
    doc=f"Wilder's original RSI over the hourly close series: his EMA "
        f"(avg = (prev * {RSI_N - 1} + x) / {RSI_N}, seeded by the "
        f"SMA of the first {RSI_N} deltas) is a linear recursion, so "
        "the batch form runs it as one JVM-side aggregate() fold over "
        "the collected per-pair series -- candle-sized, bounded by the "
        "calendar -- with cross-pair parallelism as the partitioning "
        "and every intermediate average fround-ed at "
        f"{DD_ROUND} dp so fold == streaming state == DuckDB recursive "
        "CTE exactly.  The oracle is that recursive CTE (linear: one "
        "row per pair per step).  The streaming twin "
        "(stream_rsi_wilder) carries (prev_close, seed sums, avgs) as "
        "per-pair applyInPandasWithState state -- the reference's "
        "running-average shape, lib/aggregation/stats.js:327-331.",
)
def window_rsi_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    return rsi_from_avgs(wilder_avgs_from_closes(closes))


# ------------------------------- MACD (the generic EWMA family)

# MACD(12, 26, 9) over the hourly closes: EMA-12 and EMA-26 of the
# close, their difference, and an EMA-9 signal line of that difference
# -- three coupled linear recursions, the generic exponential-smoothing
# shape Wilder's RSI above specializes (its alpha is 1/N; the classic
# EMA's is 2/(N+1)).  Same execution design: per-pair JVM aggregate()
# folds over the calendar-bounded series, one reusable EMA fold
# template applied three times and composed with array slicing/zipping
# (all JVM-side, no UDF); every intermediate EMA goes through fround
# at DD_ROUND in both engines; the oracle is a linear recursive CTE
# carrying all three recursions.  Each EMA seeds with the SMA of its
# first n inputs (the signal seeds on the first 9 MACD values), so full
# rows emit from bar SLOW + SIG - 1 = 34 onward.
MACD_FAST = 12
MACD_SLOW = 26
MACD_SIG = 9


def _ema_fold(
    series_expr: str, n: int, val_field: str, wilder: bool = False
) -> str:
    """SQL for one SMA-seeded EMA fold over an array of
    struct(bucket, <val_field>): emits array<struct<bucket, val>> from
    the n-th element onward.  The same template serves the two close
    EMAs, the signal EMA, and (``wilder=True``) Wilder's smoothing --
    alpha = 1/n written as ``(prev*(n-1) + x)/n`` so the float
    operation sequence matches the classic formulation digit for
    digit -- so the recursion exists once."""
    # 2.0 would parse as DECIMAL(2,1) in Spark SQL and the division
    # would truncate to decimal scale; exponent literals stay DOUBLE.
    al = f"(2e0 / {n + 1}e0)"
    seed = f"(FLOOR(((a.s + x.{val_field}) / {n}) * 1000000000e0 + 0.5) / 1000000000e0)"
    if wilder:
        step = f"(FLOOR(((a.e * {n - 1} + x.{val_field}) / {n}) * 1000000000e0 + 0.5) / 1000000000e0)"
    else:
        step = f"(FLOOR(({al} * x.{val_field} + (1e0 - {al}) * a.e) * 1000000000e0 + 0.5) / 1000000000e0)"
    return f"""
    aggregate(
        {series_expr},
        named_struct(
            'i', 0, 's', cast(0.0 as double), 'e', cast(null as double),
            'out', cast(array() as array<struct<bucket:timestamp,val:double>>)),
        (a, x) -> CASE
            WHEN a.i + 1 < {n} THEN named_struct(
                'i', a.i + 1, 's', a.s + x.{val_field}, 'e', a.e, 'out', a.out)
            WHEN a.i + 1 = {n} THEN named_struct(
                'i', a.i + 1, 's', cast(0.0 as double), 'e', {seed},
                'out', concat(a.out, array(named_struct(
                    'bucket', x.bucket, 'val', {seed}))))
            ELSE named_struct(
                'i', a.i + 1, 's', a.s, 'e', {step},
                'out', concat(a.out, array(named_struct(
                    'bucket', x.bucket, 'val', {step}))))
        END
    ).out
    """


# EMA-12 entries cover bars 12..M, EMA-26 entries bars 26..M: drop the
# fast line's first SLOW-FAST entries so the zip aligns by bar, then
# macd = fast - slow per aligned element.
_MACD_ARR = f"""
    zip_with(
        slice({{e12}}, {MACD_SLOW - MACD_FAST + 1},
              greatest(size({{e12}}) - {MACD_SLOW - MACD_FAST}, 0)),
        {{e26}},
        (f, s) -> named_struct('bucket', s.bucket,
                               'val', (FLOOR((f.val - s.val) * 1000000000e0 + 0.5) / 1000000000e0)))
"""

_SQL_MACD_REC = f"""
    gl AS (
        SELECT pair, bucket, close,
               ROW_NUMBER() OVER (PARTITION BY pair ORDER BY bucket) AS rn
        FROM closes
    ),
    rec AS (
        SELECT pair, rn, bucket, close AS s12, close AS s26,
               CAST(NULL AS DOUBLE) AS e12, CAST(NULL AS DOUBLE) AS e26,
               CAST(NULL AS DOUBLE) AS macd,
               CAST(0.0 AS DOUBLE) AS sm, CAST(NULL AS DOUBLE) AS e9
        FROM gl WHERE rn = 1
        UNION ALL
        SELECT pair, rn, bucket, s12, s26, e12, e26, macd,
               CASE WHEN rn - {MACD_SLOW - 1} BETWEEN 1 AND {MACD_SIG - 1}
                    THEN sm + macd ELSE sm END AS sm,
               CASE WHEN rn - {MACD_SLOW - 1} = {MACD_SIG}
                    THEN (FLOOR(((sm + macd) / {MACD_SIG}) * 1000000000e0 + 0.5) / 1000000000e0)
                    WHEN rn - {MACD_SLOW - 1} > {MACD_SIG}
                    THEN (FLOOR(((2e0 / {MACD_SIG + 1}) * macd
                               + (1e0 - 2e0 / {MACD_SIG + 1}) * e9) * 1000000000e0 + 0.5) / 1000000000e0)
                    ELSE e9 END AS e9
        FROM (
            SELECT pair, rn, bucket, s12, s26, e12, e26,
                   CASE WHEN rn >= {MACD_SLOW}
                        THEN (FLOOR((e12 - e26) * 1000000000e0 + 0.5) / 1000000000e0) END AS macd,
                   sm, e9
            FROM (
                SELECT g.pair, g.rn, g.bucket,
                       CASE WHEN g.rn < {MACD_FAST}
                            THEN r.s12 + g.close ELSE 0 END AS s12,
                       CASE WHEN g.rn < {MACD_SLOW}
                            THEN r.s26 + g.close ELSE 0 END AS s26,
                       CASE WHEN g.rn = {MACD_FAST}
                            THEN (FLOOR(((r.s12 + g.close) / {MACD_FAST}) * 1000000000e0 + 0.5) / 1000000000e0)
                            WHEN g.rn > {MACD_FAST}
                            THEN (FLOOR(((2e0 / {MACD_FAST + 1}) * g.close
                                       + (1e0 - 2e0 / {MACD_FAST + 1}) * r.e12) * 1000000000e0 + 0.5) / 1000000000e0) END AS e12,
                       CASE WHEN g.rn = {MACD_SLOW}
                            THEN (FLOOR(((r.s26 + g.close) / {MACD_SLOW}) * 1000000000e0 + 0.5) / 1000000000e0)
                            WHEN g.rn > {MACD_SLOW}
                            THEN (FLOOR(((2e0 / {MACD_SLOW + 1}) * g.close
                                       + (1e0 - 2e0 / {MACD_SLOW + 1}) * r.e26) * 1000000000e0 + 0.5) / 1000000000e0) END AS e26,
                       r.sm, r.e9
                FROM rec r JOIN gl g ON g.pair = r.pair AND g.rn = r.rn + 1
            )
        )
    )
    SELECT pair, bucket, macd, e9 AS signal,
           (FLOOR((macd - e9) * 1000000e0 + 0.5) / 1000000e0) AS histogram
    FROM rec WHERE rn >= {MACD_SLOW + MACD_SIG - 1}
    ORDER BY pair, bucket
"""

SQL_MACD = (
    "WITH RECURSIVE "
    + _SQL_HOURLY_CLOSES.replace("closes AS (", "closes AS MATERIALIZED (", 1)
    + ",\n"
    + _SQL_MACD_REC.replace("gl AS (", "gl AS MATERIALIZED (", 1)
)


@register(
    "window_macd",
    rotation_group=7,
    oracle=SQL_MACD,
    doc=f"MACD({MACD_FAST},{MACD_SLOW},{MACD_SIG}) over the hourly "
        "close series: the generic EWMA family (three coupled linear "
        "recursions -- fast/slow close EMAs and the signal EMA of "
        "their difference).  One reusable SMA-seeded EMA fold template "
        "applied three times per pair, composed with array "
        "slice/zip_with -- all JVM-side, cross-pair parallel, the "
        "per-pair series calendar-bounded; fround at "
        f"{DD_ROUND} dp at every step makes the three-fold composition "
        "== the DuckDB triple recursion bit-exact.  Reference analog: "
        "the running-average accumulators of lib/aggregation/"
        "stats.js:327-331 generalized to exponential weights.",
)
def window_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    series = closes.groupBy("pair").agg(
        F.array_sort(
            F.collect_list(F.struct("bucket", "close"))
        ).alias("series")
    )
    emas = series.select(
        "pair",
        F.expr(_ema_fold("series", MACD_FAST, "close")).alias("e12"),
        F.expr(_ema_fold("series", MACD_SLOW, "close")).alias("e26"),
    )
    macd = emas.select(
        "pair",
        F.expr(_MACD_ARR.format(e12="e12", e26="e26")).alias("macd_arr"),
    )
    sig = macd.select(
        "pair",
        # signal entries cover macd ordinals SIG..; drop the macd
        # array's first SIG-1 entries so the final zip aligns.
        F.expr(
            f"slice(macd_arr, {MACD_SIG}, "
            f"greatest(size(macd_arr) - {MACD_SIG - 1}, 0))"
        ).alias("macd_tail"),
        F.expr(_ema_fold("macd_arr", MACD_SIG, "val")).alias("sig_arr"),
    )
    out = sig.select(
        "pair",
        F.explode(
            F.expr(
                "zip_with(macd_tail, sig_arr, (m, s) -> named_struct("
                "'bucket', m.bucket, 'macd', m.val, 'signal', s.val))"
            )
        ).alias("o"),
    )
    return out.select(
        "pair",
        "o.bucket",
        "o.macd",
        "o.signal",
        fround(F.col("o.macd") - F.col("o.signal"), 6).alias("histogram"),
    ).orderBy("pair", "bucket")


# ------------------------------- candle continuity audit (gap runs)

# Maximal runs of trade-less hours strictly inside each pair's observed
# range; shared by agg_candle_gaps and its streaming twin.
SQL_CANDLE_GAPS = """
    WITH b AS (
        SELECT DISTINCT event_type AS pair,
               CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS bucket
        FROM events
    ),
    rng AS (
        SELECT pair, MIN(bucket) AS mn, MAX(bucket) AS mx FROM b GROUP BY 1
    ),
    spine AS (
        SELECT pair, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR))
                 AS bucket
        FROM rng
    ),
    missing AS (
        SELECT s.pair, s.bucket,
               CAST(epoch(s.bucket) AS BIGINT) // 3600
               - ROW_NUMBER() OVER (PARTITION BY s.pair ORDER BY s.bucket)
                 AS grp
        FROM spine s LEFT JOIN b
          ON s.pair = b.pair AND s.bucket = b.bucket
        WHERE b.bucket IS NULL
    )
    SELECT pair, MIN(bucket) AS gap_start, MAX(bucket) AS gap_end,
           CAST(COUNT(*) AS BIGINT) AS n_missing
    FROM missing
    GROUP BY pair, grp
    ORDER BY pair, gap_start
    """


@register(
    "agg_candle_gaps",
    rotation_group=7,
    oracle=SQL_CANDLE_GAPS,
    doc="Candle continuity audit: for each pair, every RUN of hourly "
        "buckets with no trades between the pair's first and last "
        "active hour (gaps-and-islands: hour-epoch minus row_number "
        "groups consecutive missing hours into one row).  The "
        "data-quality gate a candle consumer needs before trusting "
        "rollups or indicators -- a silent feed outage reads as a "
        "priced-flat market otherwise.  The spine is calendar-bounded "
        "(pairs x hours, generated per pair from its own range -- no "
        "join to the trade stream's volume), the anti-join keys on "
        "(pair, bucket) against the already-bucketed candle relation, "
        "and the output is proportional to the OUTAGES, not the data.",
)
def agg_candle_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    b = e.select(
        F.col("event_type").alias("pair"),
        F.date_trunc("hour", "ts").alias("bucket"),
    ).distinct()
    rng = b.groupBy("pair").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    spine = rng.select(
        "pair",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    missing = spine.join(b, ["pair", "bucket"], "left_anti").select(
        "pair",
        "bucket",
        (
            (F.unix_timestamp("bucket") / 3600).cast("bigint")
            - F.row_number().over(
                Window.partitionBy("pair").orderBy("bucket")
            )
        ).alias("grp"),
    )
    return (
        missing.groupBy("pair", "grp")
        .agg(
            F.min("bucket").alias("gap_start"),
            F.max("bucket").alias("gap_end"),
            F.count("*").cast("bigint").alias("n_missing"),
        )
        .drop("grp")
        .orderBy("pair", "gap_start")
    )


# ------------------------------- on-balance volume (exact cumsum)

# Shared by window_obv and its streaming twin.
SQL_OBV = f"""
    WITH hourly AS (
        SELECT event_type AS pair,
               CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS volume
        FROM events GROUP BY 1, 2
    ),
    {_SQL_HOURLY_CLOSES},
    joined AS (
        SELECT c.pair, c.bucket, c.close, h.volume,
               LAG(c.close) OVER (PARTITION BY c.pair ORDER BY c.bucket)
                 AS prev_close
        FROM closes c JOIN hourly h
          ON c.pair = h.pair AND c.bucket = h.bucket
    )
    SELECT pair, bucket,
           CAST(SUM(CASE WHEN close > prev_close THEN volume
                         WHEN close < prev_close THEN -volume
                         ELSE 0 END)
                OVER (PARTITION BY pair ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
    FROM joined
    WHERE prev_close IS NOT NULL
    ORDER BY pair, bucket
    """


@register(
    "window_obv",
    rotation_group=7,
    oracle=SQL_OBV,
    doc="On-balance volume over the hourly series: running sum of "
        "signed per-bucket trade counts (volume flows toward the side "
        "the close moved; Granville's accumulation signal).  Unlike "
        "the EMA family this is a pure prefix sum -- a frame the "
        "engine already has -- and every term is an exact BIGINT, so "
        "the result is bit-deterministic with NO rounding policy "
        "needed anywhere.  One (pair, bucket) bar aggregate carries "
        "both the close and the trade count, then a lag and one "
        "partitioned cumulative window; candle-sized cost like the "
        "rest of the family.",
)
def window_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w_lag = Window.partitionBy("pair").orderBy("bucket")
    joined = (
        bars(spark, sf_dir)
        .select("pair", "bucket", "close", "volume")
        .withColumn("prev_close", F.lag("close").over(w_lag))
        .filter(F.col("prev_close").isNotNull())
    )
    signed = F.when(F.col("close") > F.col("prev_close"), F.col("volume")).when(
        F.col("close") < F.col("prev_close"), -F.col("volume")
    ).otherwise(F.lit(0))
    w_cum = (
        Window.partitionBy("pair")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "pair",
        "bucket",
        F.sum(signed).over(w_cum).cast("bigint").alias("obv"),
    ).orderBy("pair", "bucket")


# ------------------------------- ATR + stochastic (OHLC indicators)

# The oracle's hourly OHLC bars (and _SQL_HOURLY_CLOSES/_OHLC4): the
# independent window form -- per-(pair, hour) extrema windows plus a
# ROW_NUMBER pick of the close -- checked against the engine's single
# hash aggregate (:func:`bars`).
_SQL_HOURLY_OHLC = """ohlc AS (
        SELECT pair, bucket, high, low, close FROM (
            SELECT event_type AS pair,
                   CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS bucket,
                   MAX(value) OVER w AS high,
                   MIN(value) OVER w AS low,
                   value AS close,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type, DATE_TRUNC('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
            WINDOW w AS (PARTITION BY event_type, DATE_TRUNC('hour', ts))
        ) WHERE rn = 1
    )"""


ATR_N = 14


_SQL_ATR_REC = f"""
    trs AS MATERIALIZED (
        SELECT pair, bucket,
               (FLOOR((CASE WHEN pc IS NULL THEN high - low
                     ELSE GREATEST(high - low, ABS(high - pc), ABS(low - pc))
                     END) * 1000000000e0 + 0.5) / 1000000000e0) AS tr,
               ROW_NUMBER() OVER (PARTITION BY pair ORDER BY bucket) AS rn
        FROM (
            SELECT pair, bucket, high, low,
                   LAG(close) OVER (PARTITION BY pair ORDER BY bucket) AS pc
            FROM ohlc
        )
    ),
    rec AS (
        SELECT pair, rn, bucket, tr AS s, CAST(NULL AS DOUBLE) AS atr
        FROM trs WHERE rn = 1
        UNION ALL
        SELECT g.pair, g.rn, g.bucket,
               CASE WHEN g.rn < {ATR_N} THEN r.s + g.tr ELSE 0 END,
               CASE WHEN g.rn = {ATR_N}
                    THEN (FLOOR(((r.s + g.tr) / {ATR_N}) * 1000000000e0 + 0.5) / 1000000000e0)
                    WHEN g.rn > {ATR_N}
                    THEN (FLOOR(((r.atr * {ATR_N - 1} + g.tr) / {ATR_N}) * 1000000000e0 + 0.5) / 1000000000e0) END
        FROM rec r JOIN trs g ON g.pair = r.pair AND g.rn = r.rn + 1
    )
    SELECT pair, bucket, atr
    FROM rec WHERE rn >= {ATR_N}
    ORDER BY pair, bucket
"""

SQL_ATR = (
    "WITH RECURSIVE "
    + _SQL_HOURLY_OHLC.replace("ohlc AS (", "ohlc AS MATERIALIZED (", 1)
    + ",\n"
    + _SQL_ATR_REC
)


@register(
    "window_atr_wilder",
    rotation_group=8,
    oracle=SQL_ATR,
    doc=f"Average True Range (Wilder 1978) over hourly OHLC bars: true "
        "range = max(high-low, |high-prev_close|, |low-prev_close|) "
        f"per bar, smoothed by Wilder's recursion (SMA seed over the "
        f"first {ATR_N} bars, then (prev*{ATR_N - 1} + tr)/{ATR_N}).  "
        "Reuses the single SMA-seeded EMA fold template (wilder=True "
        "swaps the step's float form, nothing else), so the whole EWMA "
        "indicator family -- RSI, MACD, ATR -- shares ONE JVM-side "
        "recursion.  Per-pair fold over the calendar-bounded series; "
        "the raw stream is touched once by the OHLC bar aggregate.  "
        "Output is the fold value itself (a 9-dp decimal), "
        "not re-rounded to 6 dp, which can land on true decimal ties "
        "where the engines' rounding diverges (see the stochastic "
        "oscillator's note).  Oracle: linear recursive CTE with materialized "
        "inputs.  Reference analog: the running-average accumulators "
        "of lib/aggregation/stats.js:327-331.",
)
def window_atr_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ohlc = bars(spark, sf_dir).select("pair", "bucket", "high", "low", "close")
    w_lag = Window.partitionBy("pair").orderBy("bucket")
    trs = ohlc.select(
        "pair",
        "bucket",
        fround(
            F.when(
                F.lag("close").over(w_lag).isNull(),
                F.col("high") - F.col("low"),
            ).otherwise(
                F.greatest(
                    F.col("high") - F.col("low"),
                    F.abs(F.col("high") - F.lag("close").over(w_lag)),
                    F.abs(F.col("low") - F.lag("close").over(w_lag)),
                )
            )
        ).alias("tr"),
    )
    series = trs.groupBy("pair").agg(
        F.array_sort(F.collect_list(F.struct("bucket", "tr"))).alias("series")
    )
    return (
        series.select(
            "pair",
            F.explode(
                F.expr(_ema_fold("series", ATR_N, "tr", wilder=True))
            ).alias("o"),
        )
        .select("pair", "o.bucket", F.col("o.val").alias("atr"))
        .orderBy("pair", "bucket")
    )


STOCH_N = 14   # %K lookback (high/low channel)
STOCH_D = 3    # %D smoothing (SMA of %K)


# Shared by window_stochastic_oscillator and its streaming twin
# (streaming/rsi_stream.py stream_stochastic_oscillator).
SQL_STOCHASTIC = f"""
    WITH {_SQL_HOURLY_OHLC},
    chan AS (
        SELECT pair, bucket, close,
               MAX(high) OVER w AS hi, MIN(low) OVER w AS lo,
               ROW_NUMBER() OVER (PARTITION BY pair ORDER BY bucket) AS rn
        FROM ohlc
        WINDOW w AS (PARTITION BY pair ORDER BY bucket
                     ROWS BETWEEN {STOCH_N - 1} PRECEDING AND CURRENT ROW)
    ),
    k AS (
        SELECT pair, bucket, rn,
               CASE WHEN hi = lo THEN 50.0
                    ELSE (FLOOR((100e0 * (close - lo) / (hi - lo)) * 1000000000e0 + 0.5) / 1000000000e0) END AS k
        FROM chan WHERE rn >= {STOCH_N}
    )
    SELECT pair, bucket, k AS pct_k,
           (FLOOR(((LAG(k, 2) OVER w + LAG(k, 1) OVER w + k) / 3e0) * 1000000000e0 + 0.5) / 1000000000e0) AS pct_d
    FROM k
    WINDOW w AS (PARTITION BY pair ORDER BY bucket)
    QUALIFY rn >= {STOCH_N + STOCH_D - 1}
    ORDER BY pair, bucket
    """


@register(
    "window_stochastic_oscillator",
    rotation_group=8,
    oracle=SQL_STOCHASTIC,
    doc=f"Stochastic oscillator ({STOCH_N},{STOCH_D}) over hourly OHLC "
        "bars: %K = 100*(close - min_low)/(max_high - min_low) over "
        f"the trailing {STOCH_N}-bar channel, %D = {STOCH_D}-bar SMA "
        "of %K.  Unlike the EWMA family this is NOT a recursion -- "
        "the channel extrema are plain sliding ROWS frames and the "
        "SMA is an explicit lag sum, so the whole indicator stays in "
        "window functions (no fold, no recursive oracle) and "
        "parallelizes per pair for free.  The %D sum is written as "
        "LAG(k,2)+LAG(k,1)+k so the three-term float addition "
        "associates identically in both engines; %K is rounded at "
        f"1e-{DD_ROUND} before smoothing.  Both outputs are emitted "
        f"at 1e-{DD_ROUND}, NOT re-rounded to 6 dp: the /3 of 9-dp "
        "decimals frequently terminates exactly on a 7-dp value "
        "ending in 5 -- a true decimal tie at 6 dp, where Spark's "
        "string-based HALF_UP and DuckDB's scaled-multiply round "
        "diverge by one ulp (observed at 10x).  At 9 dp the quotient "
        "is tie-free by construction: a tie would need it to "
        "terminate at 10 dp ending in 5, impossible when 3x the "
        "quotient must be a <=9-dp sum, and the repeating-third case "
        "sits >=3e-11 from any tie -- far beyond double error.  "
        "Flat-channel bars (hi == lo) pin %K to 50 in both engines.",
)
def window_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ohlc = bars(spark, sf_dir).select("pair", "bucket", "high", "low", "close")
    w_chan = (
        Window.partitionBy("pair")
        .orderBy("bucket")
        .rowsBetween(-(STOCH_N - 1), 0)
    )
    w_ord = Window.partitionBy("pair").orderBy("bucket")
    chan = ohlc.select(
        "pair",
        "bucket",
        "close",
        F.max("high").over(w_chan).alias("hi"),
        F.min("low").over(w_chan).alias("lo"),
        F.row_number().over(w_ord).alias("rn"),
    )
    k = chan.filter(F.col("rn") >= STOCH_N).select(
        "pair",
        "bucket",
        "rn",
        F.when(F.col("hi") == F.col("lo"), F.lit(50.0))
        .otherwise(
            fround(
                F.lit(100.0) * (F.col("close") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
            )
        )
        .alias("k"),
    )
    return (
        k.select(
            "pair",
            "bucket",
            "rn",
            F.col("k").alias("pct_k"),
            fround(
                (
                    F.lag("k", 2).over(w_ord)
                    + F.lag("k", 1).over(w_ord)
                    + F.col("k")
                )
                / F.lit(3.0)
            ).alias("pct_d"),
        )
        .filter(F.col("rn") >= STOCH_N + STOCH_D - 1)
        .drop("rn")
        .orderBy("pair", "bucket")
    )


# ------------------------------- Keltner channels (EMA mid + ATR bands)

KC_N = 20      # EMA period for the middle line (typical price)
KC_ATR_N = 10  # ATR period for the band half-width
KC_K = 2       # band width in ATRs


_SQL_KELTNER_REC = f"""
    bars AS MATERIALIZED (
        SELECT pair, bucket,
               (FLOOR(((high + low + close) / 3e0) * 1000000000e0 + 0.5) / 1000000000e0) AS tp,
               (FLOOR((CASE WHEN pc IS NULL THEN high - low
                     ELSE GREATEST(high - low, ABS(high - pc), ABS(low - pc))
                     END) * 1000000000e0 + 0.5) / 1000000000e0) AS tr,
               ROW_NUMBER() OVER (PARTITION BY pair ORDER BY bucket) AS rn
        FROM (
            SELECT pair, bucket, high, low, close,
                   LAG(close) OVER (PARTITION BY pair ORDER BY bucket) AS pc
            FROM ohlc
        )
    ),
    rec AS (
        SELECT pair, rn, bucket, tp AS s20, tr AS s10,
               CAST(NULL AS DOUBLE) AS e20, CAST(NULL AS DOUBLE) AS a10
        FROM bars WHERE rn = 1
        UNION ALL
        SELECT g.pair, g.rn, g.bucket,
               CASE WHEN g.rn < {KC_N} THEN r.s20 + g.tp ELSE 0 END,
               CASE WHEN g.rn < {KC_ATR_N} THEN r.s10 + g.tr ELSE 0 END,
               CASE WHEN g.rn = {KC_N}
                    THEN (FLOOR(((r.s20 + g.tp) / {KC_N}) * 1000000000e0 + 0.5) / 1000000000e0)
                    WHEN g.rn > {KC_N}
                    THEN (FLOOR(((2e0 / {KC_N + 1}e0) * g.tp
                               + (1e0 - 2e0 / {KC_N + 1}e0) * r.e20) * 1000000000e0 + 0.5) / 1000000000e0) END,
               CASE WHEN g.rn = {KC_ATR_N}
                    THEN (FLOOR(((r.s10 + g.tr) / {KC_ATR_N}) * 1000000000e0 + 0.5) / 1000000000e0)
                    WHEN g.rn > {KC_ATR_N}
                    THEN (FLOOR(((r.a10 * {KC_ATR_N - 1} + g.tr) / {KC_ATR_N}) * 1000000000e0 + 0.5) / 1000000000e0) END
        FROM rec r JOIN bars g ON g.pair = r.pair AND g.rn = r.rn + 1
    )
    SELECT pair, bucket, e20 AS mid,
           (FLOOR((e20 + {KC_K}e0 * a10) * 1000000000e0 + 0.5) / 1000000000e0) AS upper,
           (FLOOR((e20 - {KC_K}e0 * a10) * 1000000000e0 + 0.5) / 1000000000e0) AS lower
    FROM rec WHERE rn >= {KC_N}
    ORDER BY pair, bucket
"""

SQL_KELTNER = (
    "WITH RECURSIVE "
    + _SQL_HOURLY_OHLC.replace("ohlc AS (", "ohlc AS MATERIALIZED (", 1)
    + ",\n"
    + _SQL_KELTNER_REC
)


@register(
    "window_keltner_channels",
    rotation_group=8,
    oracle=SQL_KELTNER,
    doc=f"Keltner channels over hourly OHLC bars (one common modern "
        f"parameterization: EMA-{KC_N} of typical price (H+L+C)/3 as "
        f"the middle line, ± {KC_K} x ATR-{KC_ATR_N} as the bands).  "
        "Composes BOTH instances of the shared SMA-seeded EMA fold "
        "template -- the plain-alpha EMA for the middle line and the "
        "wilder=True form for the band width -- over ONE collected "
        "per-pair series of struct(bucket, tp, tr), then aligns the "
        "two emission tails with array slice + zip_with (the MACD "
        "pattern).  Bands emit from bar KC_N onward (the later of the "
        "two seeds).  All outputs are 9-dp decimals (sums of 9-dp "
        "fold values -- tie-free, see the stochastic oscillator's "
        "note).  Oracle: ONE recursive CTE carrying all four "
        "accumulators (both seeds, both EMAs) with materialized "
        "inputs.",
)
def window_keltner_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ohlc = bars(spark, sf_dir).select("pair", "bucket", "high", "low", "close")
    w_lag = Window.partitionBy("pair").orderBy("bucket")
    pc = F.lag("close").over(w_lag)
    tp_tr = ohlc.select(
        "pair",
        "bucket",
        fround(
            (F.col("high") + F.col("low") + F.col("close")) / F.lit(3.0)
        ).alias("tp"),
        fround(
            F.when(pc.isNull(), F.col("high") - F.col("low")).otherwise(
                F.greatest(
                    F.col("high") - F.col("low"),
                    F.abs(F.col("high") - pc),
                    F.abs(F.col("low") - pc),
                )
            )
        ).alias("tr"),
    )
    series = tp_tr.groupBy("pair").agg(
        F.array_sort(
            F.collect_list(F.struct("bucket", "tp", "tr"))
        ).alias("series")
    )
    folds = series.select(
        "pair",
        F.expr(_ema_fold("series", KC_N, "tp")).alias("ema_arr"),
        F.expr(
            _ema_fold("series", KC_ATR_N, "tr", wilder=True)
        ).alias("atr_arr"),
    )
    # EMA entries cover bars KC_N..M, ATR entries bars KC_ATR_N..M:
    # drop the ATR tail's first KC_N-KC_ATR_N entries so the zip
    # aligns by bar.
    off = KC_N - KC_ATR_N
    out = folds.select(
        "pair",
        F.explode(
            F.expr(
                f"zip_with(ema_arr, "
                f"slice(atr_arr, {off + 1}, "
                f"greatest(size(atr_arr) - {off}, 0)), "
                "(e, a) -> named_struct('bucket', e.bucket, "
                "'mid', e.val, "
                f"'upper', (FLOOR((e.val + {KC_K}e0 * a.val) * 1000000000e0 + 0.5) / 1000000000e0), "
                f"'lower', (FLOOR((e.val - {KC_K}e0 * a.val) * 1000000000e0 + 0.5) / 1000000000e0)))"
            )
        ).alias("o"),
    )
    return out.select(
        "pair", "o.bucket", "o.mid", "o.upper", "o.lower"
    ).orderBy("pair", "bucket")


# ------------------------------- Donchian channels (rolling extrema)

DC_N = 20  # lookback: the PRIOR 20 hourly bars (Turtle-trading default)

# Shared by window_donchian_channels and its streaming twin
# (streaming/rsi_stream.py stream_donchian_channels), like SQL_BOLLINGER.
SQL_DONCHIAN = (
    "WITH "
    + _SQL_HOURLY_OHLC
    + f""",
    win AS (
        SELECT pair, bucket, close,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               MAX(high) OVER w AS upper,
               MIN(low) OVER w AS lower
        FROM ohlc
        WINDOW w AS (PARTITION BY pair ORDER BY bucket
                     ROWS BETWEEN {DC_N} PRECEDING AND 1 PRECEDING)
    )
    SELECT pair, bucket, close, upper, lower,
           (upper + lower) / 2 AS mid,
           close > upper AS breakout_up,
           close < lower AS breakout_down
    FROM win WHERE n = {DC_N}
    ORDER BY pair, bucket
    """
)


@register(
    "window_donchian_channels",
    rotation_group=11,
    oracle=SQL_DONCHIAN,
    doc=f"Donchian channels over hourly OHLC bars: upper/lower = "
        f"max(high)/min(low) of the PRIOR {DC_N} bars (current bar "
        "excluded, the Turtle-rules convention, so a new extreme "
        "cannot absorb its own breakout), mid = channel midpoint, "
        "breakout flags = close crossing either rail.  Emits only "
        "once the lookback is full, like the Bollinger/Keltner family. "
        "Every term is IEEE-exact (extrema are selections, mid is one "
        "double add + halve), so no rounding discipline is needed at "
        "all -- the simplest member of the channel family.  Same "
        "candle-sized window cost shape as ATR/stochastic: one OHLC "
        "pass over the trade stream, then per-pair ROWS frames over "
        "pairs x hours.",
)
def window_donchian_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ohlc = bars(spark, sf_dir).select("pair", "bucket", "high", "low", "close")
    w = (
        Window.partitionBy("pair")
        .orderBy("bucket")
        .rowsBetween(-DC_N, -1)
    )
    win = ohlc.select(
        "pair",
        "bucket",
        "close",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.max("high").over(w).alias("upper"),
        F.min("low").over(w).alias("lower"),
    ).filter(F.col("n") == DC_N)
    return win.select(
        "pair",
        "bucket",
        "close",
        "upper",
        "lower",
        ((F.col("upper") + F.col("lower")) / 2).alias("mid"),
        (F.col("close") > F.col("upper")).alias("breakout_up"),
        (F.col("close") < F.col("lower")).alias("breakout_down"),
    ).orderBy("pair", "bucket")


# --------------------------- dollar bars (information-driven bars)

# Lopez de Prado-style dollar bars: a new bar every DOLLAR_BAR_T of
# traded notional instead of every clock interval, so bar arrival rate
# tracks ACTIVITY (calm hours produce few bars, bursts produce many) --
# the standard information-driven alternative to time bars for training
# market models.  The bar boundary is a pure function of the per-pair
# notional cumsum, so the whole construction is one keyed window plus
# one aggregation -- no state, no iteration.
DOLLAR_BAR_T = 2000.0
_DB_T_MICRO = int(DOLLAR_BAR_T * 1_000_000)


# Shared by agg_dollar_bars and its streaming twin
# (streaming/rsi_stream.py stream_dollar_bars).
SQL_DOLLAR_BARS = f"""
    WITH trades AS (
        SELECT event_type AS pair, ts, event_id, value,
               {SQL_COUNTER} AS counter_value,
               CAST(CAST({SQL_COUNTER} AS DECIMAL(38,6)) * 1000000
                    AS BIGINT) AS notional_micro
        FROM events WHERE NOT (value < {DUST})
    ),
    cum AS (
        SELECT pair, ts, event_id, value, counter_value,
               SUM(notional_micro) OVER w - notional_micro AS cum_prev
        FROM trades
        WINDOW w AS (PARTITION BY pair ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    ),
    barred AS (
        SELECT pair, ts, event_id, value, counter_value,
               CAST(cum_prev // {_DB_T_MICRO} AS BIGINT) AS bar_id,
               ROW_NUMBER() OVER (PARTITION BY pair,
                   cum_prev // {_DB_T_MICRO} ORDER BY ts, event_id)
                 AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY pair,
                   cum_prev // {_DB_T_MICRO} ORDER BY ts DESC,
                   event_id DESC) AS rn_d
        FROM cum
    )
    SELECT pair, bar_id,
           MIN(ts) AS start_ts, MAX(ts) AS end_ts,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           {sql_dsum("value")} AS base_volume,
           {sql_dsum("counter_value")} AS dollar_volume,
           CAST(COUNT(*) AS BIGINT) AS n_trades
    FROM barred
    GROUP BY 1, 2
    ORDER BY pair, bar_id
    """


@register(
    "agg_dollar_bars",
    rotation_group=11,
    oracle=SQL_DOLLAR_BARS,
    doc=f"Dollar bars over the trade stream: a trade belongs to bar "
        f"floor(prior-notional-cumsum / {DOLLAR_BAR_T:g}) per pair, so "
        "each bar closes as soon as it has absorbed the target "
        "notional -- information-driven sampling (bars arrive with "
        "activity, not with the clock).  Exactness: the cumsum runs "
        "in integer MICRO-notional (each trade's notional quantized "
        "once through DECIMAL(38,6)), and the bar boundary is integer "
        "division -- no float accumulation can move a trade across a "
        "bar edge, so both engines bin identically.  OHLC per bar via "
        "min_by/max_by on the packed (ts, event_id) sort-key scalar "
        "(hash aggregate with map-side partials -- no per-bar sort or "
        "window pass); volumes decimal-summed.  Scale: the prefix sum runs "
        "as a chunked two-pass (per pair-day windows + cumulated "
        "chunk offsets broadcast back), so no task ever holds a "
        "pair's whole history -- a hot pair costs one day per task, "
        "not a serialized straggler; exact-integer sums make the "
        "chunked form bit-identical to the oracle's single window.  "
        "The bar relation is total-notional / T rows -- bounded by "
        "VALUE traded, not rows.",
)
def agg_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.numeric import dsum

    e = load_table(spark, sf_dir, "events")
    trades = _with_legs(e).select(
        F.col("event_type").alias("pair"),
        "ts",
        "event_id",
        "value",
        "counter_value",
        (F.col("counter_value").cast("decimal(38,6)") * 1_000_000)
        .cast("bigint")
        .alias("notional_micro"),
    )
    # Two-pass prefix sum (skew mitigation, round 12): a plain
    # per-pair running-sum window serializes a pair's ENTIRE history
    # into one task -- the hot pair becomes the straggler at 100x.
    # Instead: (1) prefix-sum WITHIN calendar-day chunks (task bound =
    # one pair-day), (2) cumulate per-chunk totals over the tiny
    # (pair, day) relation, (3) broadcast the offsets back.  The sums
    # are exact integers (micro-notional), hence associative: the
    # chunked result is bit-identical to the single-window form and to
    # the oracle's one-window SQL.  Day chunks are contiguous under
    # the (ts, event_id) total order, so no trade crosses a chunk.
    chunked = trades.withColumn("chunk", F.date_trunc("day", "ts"))
    w_in = (
        Window.partitionBy("pair", "chunk")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_off = (
        Window.partitionBy("pair")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        chunked.groupBy("pair", "chunk")
        .agg(F.sum("notional_micro").alias("chunk_total"))
        .select(
            "pair",
            "chunk",
            F.coalesce(F.sum("chunk_total").over(w_off), F.lit(0)).alias(
                "chunk_offset"
            ),
        )
    )
    cum = (
        chunked.withColumn(
            "within_prev",
            F.sum("notional_micro").over(w_in) - F.col("notional_micro"),
        )
        .join(F.broadcast(offsets), ["pair", "chunk"])
        .withColumn(
            "cum_prev", F.col("within_prev") + F.col("chunk_offset")
        )
        .withColumn(
            "bar_id", F.expr(f"cum_prev div {_DB_T_MICRO}").cast("bigint")
        )
    )
    # r14 optimization (guide sections 2.3/2.4): open/close via
    # min_by/max_by on the packed (ts, event_id) sort-key scalar
    # (catalog.sort_key, the candle flagship's device) -- instead of
    # two row_number windows over (pair, bar_id).  The old shape paid
    # an exchange of EVERY trade row plus two full per-partition sorts
    # (asc + desc) before a sort-free aggregation could run; a plain
    # hash aggregate does partial map-side aggregation in the join
    # stage, so the (pair, bar_id) exchange now carries one partial
    # bar row per map partition, not every trade.  min_by over the
    # globally unique packed key selects exactly the rn_a = 1 row
    # (max_by the rn_d = 1 row); volumes were already associative
    # decimal sums, so results are bit-identical.
    key = sort_key()
    return (
        cum.groupBy("pair", "bar_id")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            dsum("value").alias("base_volume"),
            dsum("counter_value").alias("dollar_volume"),
            F.count("*").cast("bigint").alias("n_trades"),
        )
        .orderBy("pair", "bar_id")
    )


# --------------------------- gap interpolation (series repair)

# Shared by window_gap_interpolation and its streaming twin
# (streaming/rsi_stream.py stream_gap_interpolation).
SQL_GAP_INTERPOLATION = f"""
    WITH {_SQL_HOURLY_CLOSES},
    rng AS (
        SELECT pair, MIN(bucket) AS mn, MAX(bucket) AS mx
        FROM closes GROUP BY 1
    ),
    spine AS (
        SELECT pair,
               UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
        FROM rng
    ),
    j AS (
        SELECT s.pair, s.bucket, c.close
        FROM spine s LEFT JOIN closes c
          ON c.pair = s.pair AND c.bucket = s.bucket
    ),
    filled AS (
        SELECT pair, bucket, close,
               LAST_VALUE(close IGNORE NULLS) OVER wb AS pv,
               LAST_VALUE(CASE WHEN close IS NOT NULL THEN bucket END
                          IGNORE NULLS) OVER wb AS pt,
               FIRST_VALUE(close IGNORE NULLS) OVER wf AS nv,
               FIRST_VALUE(CASE WHEN close IS NOT NULL THEN bucket END
                           IGNORE NULLS) OVER wf AS nt
        FROM j
        WINDOW wb AS (PARTITION BY pair ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING),
               wf AS (PARTITION BY pair ORDER BY bucket
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT pair, bucket,
           CASE WHEN close IS NOT NULL THEN close
                ELSE (FLOOR((pv + (nv - pv)
                     * (CAST(date_diff('hour', pt, bucket) AS DOUBLE)
                        / date_diff('hour', pt, nt))) * 1000000000e0 + 0.5) / 1000000000e0)
           END AS close,
           close IS NULL AS is_interpolated
    FROM filled
    ORDER BY pair, bucket
    """


@register(
    "window_gap_interpolation",
    rotation_group=11,
    oracle=SQL_GAP_INTERPOLATION,
    doc="Gap repair for the hourly close series: each real bar emits "
        "the hours missing since the previous real bar of its pair, "
        "then itself, so the series spans every hour from the pair's "
        "first to its last bar; a missing hour gets the time-weighted "
        "linear interpolation of its two real neighbors -- the series-"
        "repair step indicator pipelines run before fixed-window math "
        "(agg_candle_gaps only DETECTS the holes; this closes them).  "
        "The neighbors come from one lag Window over the bars (the "
        "stream twin's repair-on-close shape); the weight is an exact "
        "integer hour ratio and the interpolation a fixed IEEE sequence "
        f"rounded once at {DD_ROUND} dp.  Scale: the output is pairs x "
        "hours (candle-sized), the explode is bounded per gap.",
)
def window_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    by_pair = Window.partitionBy("pair").orderBy("bucket")
    one_hour = F.expr("INTERVAL 1 HOUR")
    # (pt, pv) is the previous real bar, (nt, nv) this one.
    steps = bars(spark, sf_dir).select(
        "pair",
        F.lag("bucket").over(by_pair).alias("pt"),
        F.lag("close").over(by_pair).alias("pv"),
        F.col("bucket").alias("nt"),
        F.col("close").alias("nv"),
    )
    filled = steps.select(
        "*",
        F.explode(
            F.sequence(F.coalesce(F.col("pt") + one_hour, "nt"), "nt", one_hour)
        ).alias("bucket"),
    )
    hours = lambda a, b: (  # noqa: E731 -- exact integer hour distance
        (F.unix_seconds(b) - F.unix_seconds(a)) / F.lit(3600)
    ).cast("bigint")
    w = hours(F.col("pt"), F.col("bucket")).cast("double") / hours(
        F.col("pt"), F.col("nt")
    )
    interp = fround(F.col("pv") + (F.col("nv") - F.col("pv")) * w)
    real = F.col("bucket") == F.col("nt")
    return filled.select(
        "pair",
        "bucket",
        F.when(real, F.col("nv")).otherwise(interp).alias("close"),
        (~real).alias("is_interpolated"),
    ).orderBy("pair", "bucket")


# ------------------------- cross-pair return correlation (time-aligned)


@register(
    "agg_return_correlation",
    rotation_group=8,
    oracle=f"""
    WITH {_SQL_HOURLY_CLOSES},
    rets AS (
        SELECT pair, bucket,
               (FLOOR((LN(close / LAG(close) OVER (
                   PARTITION BY pair ORDER BY bucket))) * 1000000000e0 + 0.5) / 1000000000e0) AS r
        FROM closes
    ),
    aligned AS (
        SELECT a.pair AS pair_a, b.pair AS pair_b, a.r AS x, b.r AS y
        FROM rets a JOIN rets b
          ON a.bucket = b.bucket AND a.pair < b.pair
        WHERE a.r IS NOT NULL AND b.r IS NOT NULL
    ),
    s AS (
        SELECT pair_a, pair_b,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum("x", DD_ROUND)} AS sx,
               {sql_dsum("y", DD_ROUND)} AS sy,
               {sql_dsum("x * y", DD_ROUND)} AS sxy,
               {sql_dsum("x * x", DD_ROUND)} AS sxx,
               {sql_dsum("y * y", DD_ROUND)} AS syy
        FROM aligned GROUP BY 1, 2
    )
    SELECT pair_a, pair_b, n AS n_obs,
           (FLOOR(((n * sxy - sx * sy)
                 / NULLIF(SQRT(GREATEST(n * sxx - sx * sx, 0))
                          * SQRT(GREATEST(n * syy - sy * sy, 0)), 0)) * 1000000e0 + 0.5) / 1000000e0) AS corr
    FROM s
    ORDER BY pair_a, pair_b
    """,
    doc="Pearson correlation matrix of hourly log returns across every "
        "pair couple -- the co-movement profile a risk model or "
        "mixture designer reads before treating instruments as "
        "independent.  The alignment is the point (profile_correlation "
        "correlates columns within one row; this correlates two KEYED "
        "SERIES at equal timestamps): returns computed once on the "
        "candle-sized relation, self-joined on the hour bucket with "
        "pair_a < pair_b, then the closed-form moments through the "
        "DECIMAL accumulator so every couple's correlation is "
        "partition-order exact.  Scale: the join is keyed on bucket "
        "over the candle-sized relation (pairs x hours -- calendar-"
        "bounded, NOT the trade stream), each bucket matches at most "
        "pairs^2 rows, and the output is C(pairs, 2) rows.  Constant-"
        "return pairs yield NULL via NULLIF in both engines.",
)
def agg_return_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    w_lag = Window.partitionBy("pair").orderBy("bucket")
    rets = closes.select(
        "pair",
        "bucket",
        fround(F.log(F.col("close") / F.lag("close").over(w_lag))).alias("r"),
    ).filter(F.col("r").isNotNull())
    a, b = rets.alias("a"), rets.alias("b")
    aligned = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.pair") < F.col("b.pair")),
    ).select(
        F.col("a.pair").alias("pair_a"),
        F.col("b.pair").alias("pair_b"),
        F.col("a.r").alias("x"),
        F.col("b.r").alias("y"),
    )
    s = aligned.groupBy("pair_a", "pair_b").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("x", DD_ROUND).alias("sx"),
        dsum("y", DD_ROUND).alias("sy"),
        dsum(F.col("x") * F.col("y"), DD_ROUND).alias("sxy"),
        dsum(F.col("x") * F.col("x"), DD_ROUND).alias("sxx"),
        dsum(F.col("y") * F.col("y"), DD_ROUND).alias("syy"),
    )
    denom = F.sqrt(
        F.greatest(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0))
    ) * F.sqrt(
        F.greatest(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"), F.lit(0.0))
    )
    return s.select(
        "pair_a",
        "pair_b",
        F.col("n").alias("n_obs"),
        fround((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.nullif(denom, F.lit(0.0)), 6).alias("corr"),
    ).orderBy("pair_a", "pair_b")


# ---------------------- serial (lag-k) autocorrelation of returns

ACF_MAX_LAG = 5


@register(
    "profile_autocorrelation",
    rotation_group=8,
    oracle=f"""
    WITH {_SQL_HOURLY_CLOSES},
    rets AS (
        SELECT pair, bucket,
               (FLOOR((LN(close / LAG(close) OVER (
                   PARTITION BY pair ORDER BY bucket))) * 1000000000e0 + 0.5) / 1000000000e0) AS r,
               ROW_NUMBER() OVER (PARTITION BY pair ORDER BY bucket) AS rn
        FROM closes
    ),
    lagged AS (
        SELECT pair, r AS x,
               LAG(r, 1) OVER w AS l1, LAG(r, 2) OVER w AS l2,
               LAG(r, 3) OVER w AS l3, LAG(r, 4) OVER w AS l4,
               LAG(r, 5) OVER w AS l5
        FROM rets WHERE r IS NOT NULL
        WINDOW w AS (PARTITION BY pair ORDER BY rn)
    ),
    pairs AS (
        SELECT pair, 1 AS lag, x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
        UNION ALL
        SELECT pair, 2, x, l2 FROM lagged WHERE l2 IS NOT NULL
        UNION ALL
        SELECT pair, 3, x, l3 FROM lagged WHERE l3 IS NOT NULL
        UNION ALL
        SELECT pair, 4, x, l4 FROM lagged WHERE l4 IS NOT NULL
        UNION ALL
        SELECT pair, 5, x, l5 FROM lagged WHERE l5 IS NOT NULL
    ),
    s AS (
        SELECT pair, lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum("x", DD_ROUND)} AS sx,
               {sql_dsum("y", DD_ROUND)} AS sy,
               {sql_dsum("x * y", DD_ROUND)} AS sxy,
               {sql_dsum("x * x", DD_ROUND)} AS sxx,
               {sql_dsum("y * y", DD_ROUND)} AS syy
        FROM pairs GROUP BY 1, 2
    )
    SELECT pair, CAST(lag AS BIGINT) AS lag, n AS n_obs,
           (FLOOR(((n * sxy - sx * sy)
                 / NULLIF(SQRT(GREATEST(n * sxx - sx * sx, 0))
                          * SQRT(GREATEST(n * syy - sy * sy, 0)), 0)) * 1000000e0 + 0.5) / 1000000e0) AS acf
    FROM s
    ORDER BY pair, lag
    """,
    doc=f"Serial autocorrelation of hourly log returns per pair at lags "
        f"1..{ACF_MAX_LAG} -- the momentum/mean-reversion profile "
        "(significant lag-1 ACF is the classic sign of a broken or "
        "manipulated feed, and the whiteness check run before any "
        "volatility model).  Companion to agg_return_correlation: "
        "that one correlates two DIFFERENT series at equal times, "
        "this one correlates a series WITH ITSELF at shifted times.  "
        f"All {ACF_MAX_LAG} lags come from ONE window pass (LAG(r, k) "
        "columns over the same pair-partitioned sort -- no self-join, "
        "no per-lag scan), unpivoted in-stage and reduced by the "
        "closed-form DECIMAL moments, so the whole family costs one "
        "candle-sized shuffle.  Pearson form (per-lag means over the "
        "overlap window), NULL via NULLIF for constant stretches.",
)
def profile_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    closes = bars(spark, sf_dir).select("pair", "bucket", "close")
    w_lag = Window.partitionBy("pair").orderBy("bucket")
    rets = closes.select(
        "pair",
        "bucket",
        fround(F.log(F.col("close") / F.lag("close").over(w_lag))).alias("r"),
    ).filter(F.col("r").isNotNull())
    w_ord = Window.partitionBy("pair").orderBy("bucket")
    lagged = rets.select(
        "pair",
        F.col("r").alias("x"),
        *[
            F.lag("r", k).over(w_ord).alias(f"l{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    stack = ", ".join(f"{k}, l{k}" for k in range(1, ACF_MAX_LAG + 1))
    pairs = lagged.select(
        "pair",
        "x",
        F.expr(f"stack({ACF_MAX_LAG}, {stack}) AS (lag, y)"),
    ).filter(F.col("y").isNotNull())
    s = pairs.groupBy("pair", "lag").agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("x", DD_ROUND).alias("sx"),
        dsum("y", DD_ROUND).alias("sy"),
        dsum(F.col("x") * F.col("y"), DD_ROUND).alias("sxy"),
        dsum(F.col("x") * F.col("x"), DD_ROUND).alias("sxx"),
        dsum(F.col("y") * F.col("y"), DD_ROUND).alias("syy"),
    )
    denom = F.sqrt(
        F.greatest(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0))
    ) * F.sqrt(
        F.greatest(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"), F.lit(0.0))
    )
    return s.select(
        "pair",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_obs"),
        fround((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.nullif(denom, F.lit(0.0)), 6).alias("acf"),
    ).orderBy("pair", "lag")


# ----------------------------------- Amihud illiquidity (price impact)


@register(
    "agg_amihud_illiquidity",
    rotation_group=8,
    oracle=f"""
    WITH daily AS (
        SELECT pair, bucket, close, volume FROM (
            SELECT event_type AS pair,
                   CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS bucket,
                   value AS close,
                   CAST(COUNT(*) OVER (
                       PARTITION BY event_type, DATE_TRUNC('day', ts))
                     AS BIGINT) AS volume,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type, DATE_TRUNC('day', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    ),
    rets AS (
        SELECT pair, bucket, volume,
               (FLOOR((ABS(LN(close / LAG(close) OVER (
                   PARTITION BY pair ORDER BY bucket)))) * 1000000000e0 + 0.5) / 1000000000e0)
                 AS abs_r
        FROM daily
    ),
    ratios AS (
        SELECT pair, (FLOOR((abs_r / volume) * 1000000000000e0 + 0.5) / 1000000000000e0) AS ratio
        FROM rets WHERE abs_r IS NOT NULL
    )
    SELECT pair,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           (FLOOR((1e6 * {sql_dsum("ratio", 12)} / COUNT(*)) * 1000000e0 + 0.5) / 1000000e0)
             AS amihud_illiq
    FROM ratios
    GROUP BY pair
    ORDER BY pair
    """,
    doc="Amihud (2002) illiquidity per pair: mean over days of "
        "|daily log return| / daily trade count, scaled by 1e6 -- the "
        "price-impact-per-unit-volume measure (how many basis points "
        "one more trade moves the pair), the standard liquidity "
        "screen before trusting a pair's candles for rate "
        "computation.  Daily bars come from the family's bar builder "
        "at unit='day' -- one hash aggregate over the trade stream "
        "carrying the close (max_by on the packed sort key) and the "
        "trade count (volume); per-day ratios are rounded at 12 dp "
        "(the first-rounding policy) and averaged through the DECIMAL "
        "accumulator so the mean is partition-order exact.  One "
        "corpus shuffle (the bar aggregate), then day-sized relations.",
)
def agg_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    daily = bars(spark, sf_dir, "day").select(
        "pair", "bucket", "close", "volume"
    )
    w_lag = Window.partitionBy("pair").orderBy("bucket")
    rets = daily.select(
        "pair",
        "volume",
        fround(F.abs(F.log(F.col("close") / F.lag("close").over(w_lag)))).alias("abs_r"),
    ).filter(F.col("abs_r").isNotNull())
    ratios = rets.select(
        "pair", fround(F.col("abs_r") / F.col("volume"), 12).alias("ratio")
    )
    return (
        ratios.groupBy("pair")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            fround(F.lit(1e6) * dsum("ratio", 12) / F.count("*"), 6).alias("amihud_illiq"),
        )
        .orderBy("pair")
    )


# ------------------------------------------------ Heikin-Ashi candles

# Heikin-Ashi transforms OHLC bars into smoothed bars: ha_close is the
# bar's OHLC mean (closed-form), but ha_open is a true recursion --
# ha_open_t = (ha_open_{t-1} + ha_close_{t-1}) / 2, seeded from the
# first bar's (open + close) / 2 -- the fourth recursive indicator in
# the family (RSI, ATR, MACD EMAs).  Same execution design: one
# JVM-side aggregate() fold per pair over the calendar-bounded bar
# array.  Note the /2 steps are the family's WORST tie generator:
# halving a 9-dp grid value lands exactly on the 10th-decimal .5
# boundary every other step, which is why per-step rounding here must
# be fround (one IEEE sequence on both engines), not native ROUND
# (round-12 strict-sweep catch).

_SQL_HOURLY_OHLC4 = """ohlc4 AS MATERIALIZED (
        SELECT pair, bucket, open, high, low, close FROM (
            SELECT event_type AS pair,
                   CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS bucket,
                   FIRST_VALUE(value) OVER (
                       PARTITION BY event_type, DATE_TRUNC('hour', ts)
                       ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS open,
                   MAX(value) OVER w AS high,
                   MIN(value) OVER w AS low,
                   value AS close,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type, DATE_TRUNC('hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
            WINDOW w AS (PARTITION BY event_type, DATE_TRUNC('hour', ts))
        ) WHERE rn = 1
    )"""


_HA_SEED = f"(FLOOR(((x.open + x.close) / 2e0) * 1000000000e0 + 0.5) / 1000000000e0)"
_HA_STEP = f"(FLOOR(((a.ho + a.hc) / 2e0) * 1000000000e0 + 0.5) / 1000000000e0)"
_HA_OPEN = f"CASE WHEN a.ho IS NULL THEN {_HA_SEED} ELSE {_HA_STEP} END"

_HA_FOLD = f"""
    aggregate(
        series,
        named_struct(
            'ho', cast(null as double), 'hc', cast(null as double),
            'out', cast(array() as array<struct<
                bucket:timestamp, ha_open:double, ha_high:double,
                ha_low:double, ha_close:double>>)),
        (a, x) -> named_struct(
            'ho', {_HA_OPEN},
            'hc', x.hc,
            'out', concat(a.out, array(named_struct(
                'bucket', x.bucket,
                'ha_open', {_HA_OPEN},
                'ha_high', greatest(x.high, {_HA_OPEN}, x.hc),
                'ha_low', least(x.low, {_HA_OPEN}, x.hc),
                'ha_close', x.hc))))
    ).out
"""

SQL_HEIKIN_ASHI = f"""
    WITH RECURSIVE {_SQL_HOURLY_OHLC4},
    bars AS MATERIALIZED (
        SELECT pair, bucket, open, high, low, close,
               (FLOOR(((open + high + low + close) / 4e0) * 1000000000e0 + 0.5) / 1000000000e0) AS hc,
               ROW_NUMBER() OVER (PARTITION BY pair ORDER BY bucket) AS rn
        FROM ohlc4
    ),
    rec AS (
        SELECT pair, rn, bucket, high, low, hc,
               (FLOOR(((open + close) / 2e0) * 1000000000e0 + 0.5) / 1000000000e0) AS ho
        FROM bars WHERE rn = 1
        UNION ALL
        SELECT g.pair, g.rn, g.bucket, g.high, g.low, g.hc,
               (FLOOR(((r.ho + r.hc) / 2e0) * 1000000000e0 + 0.5) / 1000000000e0)
        FROM rec r JOIN bars g ON g.pair = r.pair AND g.rn = r.rn + 1
    )
    SELECT pair, bucket, ho AS ha_open,
           GREATEST(high, ho, hc) AS ha_high,
           LEAST(low, ho, hc) AS ha_low,
           hc AS ha_close
    FROM rec ORDER BY pair, bucket
"""


@register(
    "agg_candles_heikin_ashi",
    rotation_group=8,
    oracle=SQL_HEIKIN_ASHI,
    doc="Heikin-Ashi smoothed candles over hourly OHLC bars: ha_close "
        "= (O+H+L+C)/4 per bar; ha_open = (prev ha_open + prev "
        "ha_close)/2 -- a genuine linear recursion (the 4th in the "
        "indicator family after RSI/ATR/MACD), run as the same "
        "per-pair JVM aggregate() fold over the calendar-bounded bar "
        "array; ha_high/ha_low close over the raw extremes and both "
        "HA values.  Every step divides by 2 or 4 -- exact exponent "
        "shifts in IEEE -- so the 9-dp per-step round leaves zero tie "
        "exposure and the fold equals the DuckDB recursive CTE "
        "bit-for-bit.  The raw stream is touched ONCE, by the "
        "open/high/low/close bar aggregate.  Reference analog: the "
        "candle reduce of lib/aggregation/exchanges.js:515-582 (this "
        "is the same bar relation, transformed).",
)
def agg_candles_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ohlc = bars(spark, sf_dir).select(
        "pair", "bucket", "open", "high", "low", "close"
    )
    with_hc = ohlc.select(
        "pair",
        "bucket",
        "open",
        "high",
        "low",
        "close",
        fround((F.col("open") + F.col("high") + F.col("low") + F.col("close"))
            / F.lit(4.0)).alias("hc"),
    )
    series = with_hc.groupBy("pair").agg(
        F.array_sort(
            F.collect_list(
                F.struct("bucket", "open", "close", "high", "low", "hc")
            )
        ).alias("series")
    )
    return (
        series.select("pair", F.explode(F.expr(_HA_FOLD)).alias("o"))
        .select(
            "pair", "o.bucket", "o.ha_open", "o.ha_high", "o.ha_low",
            "o.ha_close",
        )
        .orderBy("pair", "bucket")
    )


# ------------------------------------------------------ Ichimoku cloud

ICHI_T = 9    # tenkan-sen (conversion line) channel
ICHI_K = 26   # kijun-sen (base line) channel + cloud displacement
ICHI_S = 52   # senkou span B channel


# Shared by window_ichimoku and its streaming twin (stream_ichimoku):
# streamed == batch == this SQL, row-for-row.
SQL_ICHIMOKU = f"""
    WITH {_SQL_HOURLY_OHLC},
    chan AS (
        SELECT pair, bucket, close,
               (MAX(high) OVER wt + MIN(low) OVER wt) / 2e0 AS tenkan,
               (MAX(high) OVER wk + MIN(low) OVER wk) / 2e0 AS kijun,
               (MAX(high) OVER ws + MIN(low) OVER ws) / 2e0 AS span_b_raw,
               ROW_NUMBER() OVER (PARTITION BY pair ORDER BY bucket) AS rn
        FROM ohlc
        WINDOW wt AS (PARTITION BY pair ORDER BY bucket
                      ROWS BETWEEN {ICHI_T - 1} PRECEDING AND CURRENT ROW),
               wk AS (PARTITION BY pair ORDER BY bucket
                      ROWS BETWEEN {ICHI_K - 1} PRECEDING AND CURRENT ROW),
               ws AS (PARTITION BY pair ORDER BY bucket
                      ROWS BETWEEN {ICHI_S - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT pair, bucket,
           (FLOOR((tenkan) * 1000000000e0 + 0.5) / 1000000000e0) AS tenkan,
           (FLOOR((kijun) * 1000000000e0 + 0.5) / 1000000000e0) AS kijun,
           (FLOOR((LAG((tenkan + kijun) / 2e0, {ICHI_K}) OVER wo) * 1000000000e0 + 0.5) / 1000000000e0) AS senkou_a,
           (FLOOR((LAG(span_b_raw, {ICHI_K}) OVER wo) * 1000000000e0 + 0.5) / 1000000000e0) AS senkou_b,
           LEAD(close, {ICHI_K}) OVER wo AS chikou
    FROM chan
    WINDOW wo AS (PARTITION BY pair ORDER BY bucket)
    QUALIFY rn >= {ICHI_S + ICHI_K}
    ORDER BY pair, bucket
    """


@register(
    "window_ichimoku",
    rotation_group=8,
    oracle=SQL_ICHIMOKU,
    doc=f"Ichimoku cloud over hourly OHLC bars: tenkan/kijun/span-B "
        f"are trailing {ICHI_T}/{ICHI_K}/{ICHI_S}-bar channel "
        "midpoints ((max high + min low)/2); senkou A = (tenkan + "
        f"kijun)/2 and senkou B are the cloud lines DISPLACED forward "
        f"{ICHI_K} bars (so the value plotted AT bar t is LAG {ICHI_K} "
        "of the computed line -- time travel as a window lag, not a "
        f"join); chikou is the close displaced backward (LEAD "
        f"{ICHI_K}, NULL in the final {ICHI_K} bars in both engines).  "
        "Pure sliding ROWS frames -- no recursion, no fold: one "
        "window pass per pair emits all five lines, and every "
        "arithmetic step is a sum-and-halve (exact in IEEE) of "
        "identical doubles, rounded once at emission.  Rows emit only "
        "from the first fully-formed span-B + displacement window "
        f"(rn >= {ICHI_S + ICHI_K}).",
)
def window_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ohlc = bars(spark, sf_dir).select("pair", "bucket", "high", "low", "close")
    w_ord = Window.partitionBy("pair").orderBy("bucket")

    def mid(n: int):
        w = w_ord.rowsBetween(-(n - 1), 0)
        return (F.max("high").over(w) + F.min("low").over(w)) / F.lit(2.0)

    chan = ohlc.select(
        "pair",
        "bucket",
        "close",
        mid(ICHI_T).alias("tenkan"),
        mid(ICHI_K).alias("kijun"),
        mid(ICHI_S).alias("span_b_raw"),
        F.row_number().over(w_ord).alias("rn"),
    )
    return (
        chan.select(
            "pair",
            "bucket",
            "rn",
            fround("tenkan").alias("tenkan"),
            fround("kijun").alias("kijun"),
            fround(
                F.lag(
                    (F.col("tenkan") + F.col("kijun")) / F.lit(2.0), ICHI_K
                ).over(w_ord)
            ).alias("senkou_a"),
            fround(F.lag("span_b_raw", ICHI_K).over(w_ord)).alias(
                "senkou_b"
            ),
            F.lead("close", ICHI_K).over(w_ord).alias("chikou"),
        )
        .filter(F.col("rn") >= ICHI_S + ICHI_K)
        .drop("rn")
        .orderBy("pair", "bucket")
    )
