"""Time-series rollup aggregations.

Reference: five in-process aggregation daemons incrementally maintain
rollup tables (``lib/aggregation/{payments,stats,fees,accountPayments}.js``)
via 200 ms queue polling and read-modify-write against HBase.  In Spark
each daemon's output table is one (or two chained) groupBy aggregations:
deterministic, idempotent, re-runnable -- and incrementally maintainable
with Structured Streaming (see ``streaming/``) using identical plans.

Scale: every rollup shuffles once on its (dims, bucket) key with map-side
partial aggregation; day-level rollups re-reduce the hour-level gold
table (decimal-exact), so a 100 TB raw log is touched once per cycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..plans.registry import register
from ..sources.catalog import load_table

SQL_DAY = "CAST(DATE_TRUNC('day', ts) AS TIMESTAMP)"


def hourly_payment_rollup(e: DataFrame, final: bool = True) -> DataFrame:
    """agg_payments at hour grain: per (currency analog, hour) count /
    sum / avg of delivered amount (aggregation/payments.js:361-384)."""
    vol = F.sum(F.col("value").cast("decimal(38,6)"))
    return (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("date"))
        .agg(
            F.count("*").alias("count"),
            (vol.cast("double") if final else vol).alias("amount"),
            *(
                [(vol.cast("double") / F.count("*")).alias("average")]
                if final
                else []
            ),
        )
    )


@register(
    "agg_payments_hourly",
    oracle=f"""
    SELECT event_type, DATE_TRUNC('hour', ts) AS date,
           COUNT(*) AS count,
           {sql_dsum("value")} AS amount,
           {sql_dsum("value")} / COUNT(*) AS average
    FROM events GROUP BY 1, 2
    """,
    doc="Payments rollup per (currency, hour): count, sum(delivered), avg "
        "(aggregation/payments.js:361-384).",
)
def agg_payments_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_payment_rollup(load_table(spark, sf_dir, "events"), final=True)


@register(
    "agg_payments_daily",
    oracle=f"""
    SELECT event_type, {SQL_DAY} AS date,
           COUNT(*) AS count,
           {sql_dsum("value")} AS amount,
           {sql_dsum("value")} / COUNT(*) AS average
    FROM events GROUP BY 1, 2
    """,
    doc="Day rollup re-reduced from hour rows (aggregation/payments.js:214-325) "
        "-- the oracle aggregates raw rows, checking re-reduce associativity.",
)
def agg_payments_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = hourly_payment_rollup(load_table(spark, sf_dir, "events"), final=False)
    amount = F.sum("amount")
    return (
        hourly.groupBy("event_type", F.date_trunc("day", "date").alias("date"))
        .agg(
            F.sum("count").alias("count"),
            amount.cast("double").alias("amount"),
            (amount.cast("double") / F.sum("count")).alias("average"),
        )
    )


@register(
    "agg_stats_daily",
    oracle=f"""
    SELECT 'day' AS interval, {SQL_DAY} AS date, 'type' AS family,
           event_type AS metric, CAST(COUNT(*) AS DOUBLE) AS value
    FROM events GROUP BY 2, 4
    UNION ALL
    SELECT 'day', {SQL_DAY}, 'metric', 'transaction_count',
           CAST(COUNT(*) AS DOUBLE)
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'day', {SQL_DAY}, 'metric', 'payments_count',
           CAST(COUNT(*) AS DOUBLE)
    FROM events WHERE event_type = 'purchase' GROUP BY 2
    UNION ALL
    SELECT 'day', {SQL_DAY}, 'metric', 'accounts_active',
           CAST(COUNT(DISTINCT user_id) AS DOUBLE)
    FROM events GROUP BY 2
    """,
    doc="Network stats counters (aggregation/stats.js:242-337): per-day "
        "counts by tx type (family='type') plus metric-family counters, in "
        "the long (interval, date, family, metric, value) layout of "
        "agg_stats (FIXTURES.md 3.3). One scan, unioned projections.",
)
def agg_stats_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("date")
    by_type = (
        e.groupBy(day, F.col("event_type").alias("metric"))
        .agg(F.count("*").cast("double").alias("value"))
        .select(F.lit("day").alias("interval"), "date", F.lit("type").alias("family"),
                "metric", "value")
    )
    tx_count = (
        e.groupBy(day)
        .agg(F.count("*").cast("double").alias("value"))
        .select(F.lit("day").alias("interval"), "date", F.lit("metric").alias("family"),
                F.lit("transaction_count").alias("metric"), "value")
    )
    pay_count = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(F.count("*").cast("double").alias("value"))
        .select(F.lit("day").alias("interval"), "date", F.lit("metric").alias("family"),
                F.lit("payments_count").alias("metric"), "value")
    )
    active = (
        e.groupBy(day)
        .agg(F.countDistinct("user_id").cast("double").alias("value"))
        .select(F.lit("day").alias("interval"), "date", F.lit("metric").alias("family"),
                F.lit("accounts_active").alias("metric"), "value")
    )
    return by_type.unionByName(tx_count).unionByName(pay_count).unionByName(active)


@register(
    "agg_stats_weekly",
    oracle="""
    SELECT 'week' AS interval,
           CAST(DATE_TRUNC('week', ts) AS TIMESTAMP) AS date,
           'type' AS family, event_type AS metric,
           CAST(COUNT(*) AS DOUBLE) AS value
    FROM events GROUP BY 2, 4
    """,
    doc="Weekly stats re-reduced from daily rows (aggregation/stats.js:75-141; "
        "ISO-week alignment utils.js:70-98). Spark re-aggregates the daily "
        "long-format table; oracle aggregates raw.",
)
def agg_stats_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = agg_stats_daily.__wrapped__(spark, sf_dir) if hasattr(agg_stats_daily, "__wrapped__") else agg_stats_daily(spark, sf_dir)
    return (
        daily.filter(F.col("family") == "type")
        .groupBy(
            F.date_trunc("week", "date").alias("date"),
            "family",
            "metric",
        )
        .agg(F.sum("value").alias("value"))
        .select(F.lit("week").alias("interval"), "date", "family", "metric", "value")
    )


@register(
    "agg_ledger_intervals",
    oracle="""
    WITH closes AS (
        SELECT DISTINCT CAST(DATE_TRUNC('minute', ts) AS TIMESTAMP) AS close_time
        FROM events
    )
    SELECT CAST(DATE_TRUNC('day', close_time) AS TIMESTAMP) AS date,
           COUNT(*) AS ledger_count,
           CAST(EXTRACT(EPOCH FROM MAX(close_time) - MIN(close_time)) AS DOUBLE)
             / NULLIF(COUNT(*) - 1, 0) AS ledger_interval
    FROM closes GROUP BY 1
    """,
    doc="Ledger close interval: avg seconds between consecutive closes per "
        "day (aggregation/stats.js:327-331 keeps a running average; the "
        "batch form is (max-min)/(n-1) over distinct closes -- minute "
        "buckets stand in for ledger closes).",
)
def agg_ledger_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    closes = e.select(F.date_trunc("minute", "ts").alias("close_time")).distinct()
    return (
        closes.groupBy(F.date_trunc("day", "close_time").alias("date"))
        .agg(
            F.count("*").alias("ledger_count"),
            (
                (F.unix_timestamp(F.max("close_time")) - F.unix_timestamp(F.min("close_time")))
                .cast("double")
                / F.nullif(F.count("*") - F.lit(1), F.lit(0))
            ).alias("ledger_interval"),
        )
    )


@register(
    "agg_fee_per_ledger",
    oracle=f"""
    SELECT l_orderkey AS ledger_index,
           COUNT(*) AS tx_count,
           {sql_dsum("l_extendedprice * l_discount")} AS total,
           MIN(l_extendedprice * l_discount) AS min,
           MAX(l_extendedprice * l_discount) AS max,
           {sql_dsum("l_extendedprice * l_discount")} / COUNT(*) AS avg
    FROM lineitem GROUP BY 1
    """,
    doc="Per-ledger fee summary (ledgerParser/fees.js:3-33): sum/min/max/avg "
        "fee and tx_count per container; fee analog = price*discount, "
        "computed per-row in double then decimal-summed.",
    bench=True,
)
def agg_fee_per_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    fee = F.col("l_extendedprice") * F.col("l_discount")
    return (
        l.groupBy(F.col("l_orderkey").alias("ledger_index"))
        .agg(
            F.count("*").alias("tx_count"),
            dsum(fee).alias("total"),
            F.min(fee).alias("min"),
            F.max(fee).alias("max"),
            (dsum(fee) / F.count("*")).alias("avg"),
        )
    )


@register(
    "agg_fee_daily",
    oracle=f"""
    SELECT CAST(DATE_TRUNC('day', l_shipdate) AS TIMESTAMP) AS date,
           COUNT(*) AS tx_count,
           {sql_dsum("l_extendedprice * l_discount")} AS total,
           MIN(l_extendedprice * l_discount) AS min,
           MAX(l_extendedprice * l_discount) AS max,
           {sql_dsum("l_extendedprice * l_discount")} / COUNT(*) AS avg
    FROM lineitem GROUP BY 1
    """,
    doc="Network fee rollup: ledger summaries merged into day rows with "
        "recomputed avg and global min/max (aggregation/fees.js:116-258).",
)
def agg_fee_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    fee = F.col("l_extendedprice") * F.col("l_discount")
    return (
        l.groupBy(F.date_trunc("day", "l_shipdate").alias("date"))
        .agg(
            F.count("*").alias("tx_count"),
            dsum(fee).alias("total"),
            F.min(fee).alias("min"),
            F.max(fee).alias("max"),
            (dsum(fee) / F.count("*")).alias("avg"),
        )
    )


@register(
    "agg_accounts_created",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(ts) AS created_at FROM events GROUP BY 1
    )
    SELECT CAST(DATE_TRUNC('day', created_at) AS TIMESTAMP) AS date,
           COUNT(*) AS accounts_created
    FROM first_seen GROUP BY 1
    """,
    doc="Accounts-created count over a range (data.js:2403-2495 hybridizes "
        "raw edge-day scans with weekly rollups; one distributed count "
        "replaces the hybrid): first-seen day per account, counted per day.",
)
def agg_accounts_created(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min("ts").alias("created_at"))
    return (
        first_seen.groupBy(F.date_trunc("day", "created_at").alias("date"))
        .agg(F.count("*").alias("accounts_created"))
    )


@register(
    "agg_issuer_capitalization",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS date,
               SUM(CAST(value AS DECIMAL(38,6))) AS day_change
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, date,
           CAST(day_change AS DOUBLE) AS day_change,
           CAST(SUM(day_change) OVER (PARTITION BY event_type ORDER BY date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS cumulative
    FROM daily
    ORDER BY event_type, date
    """,
    doc="Issuer capitalization: daily change + cumulative balance series "
        "(data.js:949-1046) = windowed decimal cumsum over the daily rollup.",
)
def agg_issuer_capitalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("date")
    ).agg(F.sum(F.col("value").cast("decimal(38,6)")).alias("day_change"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        daily.select(
            "event_type", "date",
            F.col("day_change").cast("double").alias("day_change"),
            F.sum("day_change").over(w).cast("double").alias("cumulative"),
        )
        .orderBy("event_type", "date")
    )


@register(
    "agg_fee_stats_quantiles",
    oracle="""
    SELECT CAST(DATE_TRUNC('day', l_shipdate) AS TIMESTAMP) AS date,
           MIN(l_extendedprice * l_discount) AS minimum_fee,
           MEDIAN(l_extendedprice * l_discount) AS median_fee,
           QUANTILE_CONT(l_extendedprice * l_discount, 0.9) AS p90_fee,
           MAX(l_extendedprice * l_discount) AS open_ledger_fee
    FROM lineitem GROUP BY 1
    """,
    doc="Fee-stats quantiles (fee_stats table: minimum_fee / median_fee / "
        "open_ledger_fee, scripts/feeStats.js:28-80, read data.js:2176-2292): "
        "exact interpolated percentiles per day -- Spark percentile() and "
        "DuckDB quantile_cont agree bit-for-bit on linear interpolation.",
)
def agg_fee_stats_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    fee = F.col("l_extendedprice") * F.col("l_discount")
    return l.groupBy(F.date_trunc("day", "l_shipdate").alias("date")).agg(
        F.min(fee).alias("minimum_fee"),
        F.median(fee).alias("median_fee"),
        F.percentile(fee, F.lit(0.9)).alias("p90_fee"),
        F.max(fee).alias("open_ledger_fee"),
    )


@register(
    "agg_salted_rollup",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total,
           COUNT(*) AS count
    FROM events GROUP BY event_type
    """,
    doc="Skew-resistant salted rollup: shard hot keys "
        "into 16 salted sub-keys, partial-aggregate per shard, re-aggregate "
        "per key. Decimal accumulation makes the two-stage plan bit-equal "
        "to the single-stage oracle -- salting is a pure physical rewrite "
        "for the 100 TB hot-key case (the XRP leg of every pair).",
)
def agg_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # AQE's skew handling covers joins, not aggregations.  The salt is
    # hashed from data columns, so a retry or re-run lands each row in
    # the same shard.
    salt = F.pmod(F.xxhash64(F.col("event_id"), F.col("value")), F.lit(16))
    partial = (
        load_table(spark, sf_dir, "events")
        .withColumn("__salt", salt)
        .groupBy("event_type", "__salt")
        .agg(
            F.sum(F.col("value").cast("decimal(38,6)")).alias("__psum"),
            F.count("*").alias("__pcnt"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("__psum").cast("double").alias("total"),
        F.sum("__pcnt").alias("count"),
    )


@register(
    "agg_sliding_window_counts",
    rotation_group=2,
    oracle="""
    WITH covering AS (
        SELECT event_type, value,
               UNNEST([CAST(DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR AS TIMESTAMP),
                       CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP)]) AS window_start
        FROM events
    )
    SELECT event_type, window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM covering
    GROUP BY event_type, window_start
    ORDER BY event_type, window_start
    """,
    doc="Sliding-window aggregation (2 h windows sliding by 1 h): every "
        "event contributes to BOTH covering windows via Spark's native "
        "window(ts, '2 hours', '1 hour') -- the smoothing form of the "
        "reference's tumbling rolling metrics (stats.js fixed "
        "intervals), and the exact groupBy that runs unchanged under "
        "Structured Streaming with a watermark.  The oracle replicates "
        "the semantics by UNNESTing each event into its two covering "
        "window starts.  Cost: the Expand doubles rows BEFORE the "
        "map-side partial agg, so shuffle bytes stay "
        "windows-per-slide x the tumbling aggregate, never raw events.",
)
def agg_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.window("ts", "2 hours", "1 hour").alias("w"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            .alias("total_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
        .orderBy("event_type", "window_start")
    )
