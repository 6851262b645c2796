"""Ranking / top-N operators.

Reference: top-N is either precomputed into ranked tables read back by
key (``getTop``, ``data.js:1052-1141``) or sorted client-side after a
full fetch (active accounts ``api/routes/activeAccounts.js:163-166``,
validator sort ``lib/hbase/topology.js:452-470``).  In Spark both forms
are ``row_number()/rank()`` over a Window -- computed on demand; the
"precomputed ranked table" becomes a gold-job materialization of the
same plan.

Scale: rank-within-group windows shuffle once on the partition key;
global top-k plans as TakeOrderedAndProject (no total sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..plans.registry import register
from ..sources.catalog import load_table


@register(
    "top_markets_daily",
    oracle=f"""
    WITH vol AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS date,
               event_type AS market,
               {sql_dsum("value")} AS volume,
               COUNT(*) AS count
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY date
                    ORDER BY volume DESC, market) AS rank
        FROM vol
    )
    SELECT date, market, volume, count, rank FROM ranked WHERE rank <= 3
    ORDER BY date, rank
    """,
    doc="getTop / top_markets (data.js:1052-1141): ranked top-3 markets by "
        "volume per day; the reference reads a precomputed ranked table, "
        "here it's row_number over the daily volume rollup (and the gold "
        "job that would materialize that table is this same plan).",
)
def top_markets_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    vol = e.groupBy(
        F.date_trunc("day", "ts").alias("date"),
        F.col("event_type").alias("market"),
    ).agg(dsum("value").alias("volume"), F.count("*").alias("count"))
    w = Window.partitionBy("date").orderBy(F.col("volume").desc(), F.col("market"))
    return (
        vol.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("date", "rank")
    )


@register(
    "top_currencies_daily",
    oracle=f"""
    WITH rate AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS date,
               {sql_dsum("value")} / COUNT(value) AS rate
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    vol AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS date,
               CAST(props->>'k' AS BIGINT) % 7 AS currency,
               {sql_dsum("CASE WHEN event_type = 'purchase' THEN value END")}
                 AS payment_volume,
               COUNT(*) FILTER (WHERE event_type = 'purchase')
                 AS payment_count,
               {sql_dsum("CASE WHEN event_type = 'view' THEN value END")}
                 AS exchange_volume,
               COUNT(*) FILTER (WHERE event_type = 'view')
                 AS exchange_count
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT v.date, v.currency, v.payment_volume, v.payment_count,
               v.exchange_volume, v.exchange_count,
               (COALESCE(v.payment_volume, 0) + COALESCE(v.exchange_volume, 0))
                 / r.rate AS normalized_volume,
               ROW_NUMBER() OVER (PARTITION BY v.date ORDER BY
                 (COALESCE(v.payment_volume, 0) + COALESCE(v.exchange_volume, 0))
                   / r.rate DESC, v.currency) AS rank
        FROM vol v JOIN rate r ON v.date = r.date
    )
    SELECT date, currency, payment_volume, payment_count,
           exchange_volume, exchange_count, normalized_volume, rank
    FROM ranked WHERE rank <= 5
    ORDER BY date, rank
    """,
    doc="getTop / top_currencies (data.js:1052-1141, route "
        "api/routes/network/topCurrencies.js): the getTop family's "
        "OTHER precomputed table -- per-day currency ranks by combined "
        "payment+exchange volume NORMALIZED through the day's rate "
        "series (the aggregation pipeline's XRP normalization).  Demo "
        "mapping: currency = props k % 7, payments = 'purchase' "
        "events, exchanges = 'view' events, rate = the day's mean "
        "'click' value.  Shape: two-family conditional rollup -> "
        "broadcast join to the days-sized rate relation -> rank within "
        "day.  Scale: one shuffle on (day, currency); the rate side is "
        "days-sized so the join broadcasts; the rank window partitions "
        "by day (no global sort).",
)
def top_currencies_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("date")
    rate = (
        e.filter(F.col("event_type") == "click")
        .groupBy(day)
        .agg((dsum("value") / F.count("value")).alias("rate"))
    )
    vol = (
        e.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(
            day,
            (F.get_json_object("props", "$.k").cast("bigint") % 7).alias(
                "currency"
            ),
        )
        .agg(
            dsum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
            ).alias("payment_volume"),
            F.count(
                F.when(F.col("event_type") == "purchase", F.lit(1))
            ).alias("payment_count"),
            dsum(
                F.when(F.col("event_type") == "view", F.col("value"))
            ).alias("exchange_volume"),
            F.count(F.when(F.col("event_type") == "view", F.lit(1))).alias(
                "exchange_count"
            ),
        )
    )
    norm = (
        F.coalesce(F.col("payment_volume"), F.lit(0.0))
        + F.coalesce(F.col("exchange_volume"), F.lit(0.0))
    ) / F.col("rate")
    w = Window.partitionBy("date").orderBy(
        norm.desc(), F.col("currency")
    )
    return (
        vol.join(F.broadcast(rate), "date")
        .select(
            "date", "currency", "payment_volume", "payment_count",
            "exchange_volume", "exchange_count",
            norm.alias("normalized_volume"),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 5)
        .orderBy("date", "rank")
    )


@register(
    "top_accounts_global",
    oracle=f"""
    SELECT user_id, {sql_dsum("value")} AS total_volume, COUNT(*) AS n_events
    FROM events GROUP BY 1
    ORDER BY total_volume DESC, user_id
    LIMIT 5
    """,
    doc="Global top-k (top currencies, data.js:1052-1141): aggregate then "
        "TakeOrderedAndProject -- no full sort at any scale.",
)
def top_accounts_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(dsum("value").alias("total_volume"), F.count("*").alias("n_events"))
        .orderBy(F.col("total_volume").desc(), "user_id")
        .limit(5)
    )


@register(
    "active_accounts",
    oracle=f"""
    WITH sides AS (
        SELECT user_id AS account, 'buy' AS side, value FROM events
        WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, 'sell', value FROM events WHERE event_type = 'view'
    )
    SELECT account,
           COUNT(*) FILTER (WHERE side = 'buy') AS buy_count,
           {sql_dsum("CASE WHEN side = 'buy' THEN value END")} AS buy_volume,
           COUNT(*) FILTER (WHERE side = 'sell') AS sell_count,
           {sql_dsum("CASE WHEN side = 'sell' THEN value END")} AS sell_volume,
           {sql_dsum("value")} AS total_volume
    FROM sides GROUP BY account
    ORDER BY total_volume DESC, account
    """,
    doc="Active accounts (api/routes/activeAccounts.js:78-180): union of "
        "buyer and seller perspectives -> per-account side totals, sorted "
        "by volume. The reference's double-written account tables become a "
        "union of two projections (SURVEY.md 2.7).",
)
def active_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("account"), F.lit("buy").alias("side"), "value"
    )
    sells = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("account"), F.lit("sell").alias("side"), "value"
    )
    sides = buys.unionByName(sells)
    buy_val = F.when(F.col("side") == "buy", F.col("value"))
    sell_val = F.when(F.col("side") == "sell", F.col("value"))
    return (
        sides.groupBy("account")
        .agg(
            F.count(F.when(F.col("side") == "buy", 1)).alias("buy_count"),
            dsum(buy_val).alias("buy_volume"),
            F.count(F.when(F.col("side") == "sell", 1)).alias("sell_count"),
            dsum(sell_val).alias("sell_volume"),
            dsum("value").alias("total_volume"),
        )
        .orderBy(F.col("total_volume").desc(), "account")
    )


@register(
    "validator_reports",
    oracle="""
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS date,
           user_id AS validator,
           COUNT(*) AS total,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS main_count,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
             / COUNT(*) AS score,
           COUNT(*) - COUNT(*) FILTER (WHERE event_type = 'purchase') AS missed
    FROM events GROUP BY 1, 2
    ORDER BY date, score DESC, validator
    """,
    doc="Validator daily reports (topology.js:230-297): per (day, validator) "
        "total/main counts, agreement score, missed; multi-key sort "
        "(topology.js:253-258).",
)
def validator_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    main = F.count(F.when(F.col("event_type") == "purchase", 1))
    return (
        e.groupBy(
            F.date_trunc("day", "ts").alias("date"),
            F.col("user_id").alias("validator"),
        )
        .agg(
            F.count("*").alias("total"),
            main.alias("main_count"),
            (main.cast("double") / F.count("*")).alias("score"),
            (F.count("*") - main).alias("missed"),
        )
        .orderBy("date", F.col("score").desc(), "validator")
    )


@register(
    "window_topk_per_group",
    oracle="""
    SELECT event_type, event_id, ts, value, rn FROM (
        SELECT event_type, event_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS rn
        FROM events
    ) WHERE rn <= 2
    ORDER BY event_type, rn
    """,
    doc="Top-k per group (in-ledger tx ordering / per-pair latest trades): "
        "Window row_number <= k, the Spark-native form of the reference's "
        "per-rowkey-prefix reversed scans.",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        e.select("event_type", "event_id", "ts", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .orderBy("event_type", "rn")
    )


@register(
    "window_close_lag",
    oracle="""
    -- micros-diff / 1e6 (one correctly-rounded divide, the engine's
    -- unix_micros form) -- NOT EXTRACT(EPOCH FROM interval), whose
    -- seconds+fraction double rounds twice and drifts an ulp off the
    -- engine (strict-sweep catch, round 12)
    SELECT event_id, ts, user_id,
           CAST(date_diff('microsecond',
                          LAG(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id),
                          ts) AS DOUBLE) / 1000000
             AS secs_since_prev
    FROM events
    WHERE user_id < 3
    ORDER BY user_id, ts, event_id
    """,
    doc="Ledger close interval per stream (stats.js:327-331): lag() over an "
        "ordered window instead of a running-average accumulator.",
)
def window_close_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 3)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (
        e.select(
            "event_id", "ts", "user_id",
            (F.unix_micros(F.col("ts")) - F.unix_micros(prev)).cast("double")
            .__truediv__(1e6)
            .alias("secs_since_prev"),
        )
        .orderBy("user_id", "ts", "event_id")
    )
