"""Report-shaped aggregations: nested lists, counterparty sets, metric
component breakdowns.

Reference: the account-payments daemon builds per-(day, account) rows
holding a payments[] list, sent/received counters, distinct counterparty
sets and high-value watermarks (``lib/aggregation/accountPayments.js:
223-285``); the network metric tables carry a components[] breakdown per
row (``lib/hbase/hbase-thrift/data.js:791-941``).  HBase stores these as
JSON-stringified cells; Spark keeps them as typed ARRAY<STRUCT> columns
-- no stringify round-trip (SURVEY.md 1.3).

All collected arrays are explicitly sorted: collect_set/collect_list
order is partition-dependent, so determinism at any cluster size
requires sort_array / ORDER BY inside the aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..plans.registry import register
from ..sources.catalog import SQL_COUNTERPARTY, counterparty, load_table


def account_daily_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed API shape of the account-payments daily report: the
    counterparty set stays a sorted ARRAY<BIGINT> column (the reference's
    JSON cell, aggregation/accountPayments.js:223-285).  Internal/API
    helper -- the driver-registered form (report_account_daily) emits the
    array as a CSV string because the external pandas canonicalizer
    cannot sort list-valued cells."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    sent = F.col("event_type") == "purchase"
    recv = F.col("event_type") == "view"
    return (
        e.groupBy(
            F.date_trunc("day", "ts").alias("date"),
            F.col("user_id").alias("account"),
        )
        .agg(
            F.count(F.when(sent, 1)).alias("payments_sent"),
            F.count(F.when(recv, 1)).alias("payments_received"),
            dsum(F.when(sent, F.col("value"))).alias("total_value_sent"),
            dsum(F.when(recv, F.col("value"))).alias("total_value_received"),
            F.coalesce(F.max(F.when(sent, F.col("value"))), F.lit(0.0)).alias("high_value_sent"),
            F.coalesce(F.max(F.when(recv, F.col("value"))), F.lit(0.0)).alias("high_value_received"),
            F.sort_array(
                F.collect_set(F.when(sent, counterparty().cast("bigint")))
            ).alias("sending_counterparties"),
        )
        .orderBy("date", "account")
    )


@register(
    "report_account_daily",
    oracle=f"""
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS date,
           user_id AS account,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS payments_sent,
           COUNT(*) FILTER (WHERE event_type = 'view') AS payments_received,
           {sql_dsum("CASE WHEN event_type = 'purchase' THEN value END")}
             AS total_value_sent,
           {sql_dsum("CASE WHEN event_type = 'view' THEN value END")}
             AS total_value_received,
           COALESCE(MAX(value) FILTER (WHERE event_type = 'purchase'), 0.0)
             AS high_value_sent,
           COALESCE(MAX(value) FILTER (WHERE event_type = 'view'), 0.0)
             AS high_value_received,
           COALESCE(array_to_string(list_transform(
             LIST_SORT(LIST_DISTINCT(LIST(CAST({SQL_COUNTERPARTY} AS BIGINT))
               FILTER (WHERE event_type = 'purchase'))),
             x -> CAST(x AS VARCHAR)), ','), '')
             AS sending_counterparties
    FROM events
    WHERE event_type IN ('purchase', 'view')
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Account payments daily report (aggregation/accountPayments.js:"
        "223-285): sent/received counts, decimal-exact totals, high-value "
        "watermarks, sorted distinct counterparty set. One groupBy replaces "
        "the daemon's read-modify-write bucket maintenance. Registered "
        "shape joins the BIGINT counterparty array to a CSV string "
        "(scalar cells only -- the driver's pandas canonicalizer cannot "
        "sort lists); account_daily_nested keeps the typed array form.",
)
def report_account_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    nested = account_daily_nested(spark, sf_dir)
    return nested.withColumn(
        "sending_counterparties",
        F.array_join(F.col("sending_counterparties").cast("array<string>"), ","),
    )


def payments_list_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed API shape: the embedded payments[] ARRAY<STRUCT> column
    (accountPayments.js:249-251).  Internal/API helper -- the registered
    form (report_payments_list) explodes it to scalar rows for the
    driver's pandas canonicalizer."""
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") < 4)
    )
    return (
        e.groupBy(
            F.date_trunc("day", "ts").alias("date"),
            F.col("user_id").alias("account"),
        )
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("event_id"), F.col("value").alias("amount"))
                )
            ).alias("payments")
        )
        .orderBy("date", "account")
    )


@register(
    "report_payments_list",
    oracle="""
    SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS date,
           user_id AS account,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY DATE_TRUNC('day', ts), user_id
                ORDER BY event_id) - 1 AS BIGINT) AS pos,
           event_id,
           value AS amount
    FROM events
    WHERE event_type = 'purchase' AND user_id < 4
    ORDER BY date, account, pos
    """,
    doc="The embedded payments[] list of the daily report row "
        "(accountPayments.js:249-251): typed ARRAY<STRUCT> via sorted "
        "collect_list -- HBase stored this as a JSON string cell. "
        "Registered shape posexplodes the built array back to scalar "
        "(date, account, pos, event_id, amount) rows: the pos column "
        "verifies sort_array's in-array ordering against the oracle's "
        "ROW_NUMBER-by-event_id, while payments_list_nested keeps the "
        "typed array form for API use.",
)
def report_payments_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    nested = payments_list_nested(spark, sf_dir)
    return (
        nested.select(
            "date",
            "account",
            F.posexplode("payments").alias("pos", "p"),
        )
        .select(
            "date",
            "account",
            F.col("pos").cast("bigint").alias("pos"),
            F.col("p.event_id").alias("event_id"),
            F.col("p.amount").alias("amount"),
        )
        .orderBy("date", "account", "pos")
    )


def metric_components_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed API shape: metric rows carrying the sorted per-market
    components[] ARRAY<STRUCT> (trade_volume shape, data.js:791-941).
    Internal/API helper -- the registered form explodes it."""
    e = load_table(spark, sf_dir, "events")
    comp = e.groupBy(
        F.date_trunc("day", "ts").alias("date"), "event_type"
    ).agg(dsum("value").alias("amount"), F.count("*").alias("count"))
    return (
        comp.groupBy("date")
        .agg(
            F.sum(F.col("amount").cast("decimal(38,6)")).cast("double").alias("total"),
            F.sum("count").alias("count"),
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("event_type").alias("market"),
                        F.col("amount"),
                        F.col("count"),
                    )
                )
            ).alias("components"),
        )
        .orderBy("date")
    )


@register(
    "report_metric_components",
    oracle=f"""
    WITH comp AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS date,
               event_type,
               {sql_dsum("value")} AS amount,
               COUNT(*) AS count
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT date,
               CAST(SUM(CAST(amount AS DECIMAL(38,6))) AS DOUBLE) AS total,
               CAST(SUM(count) AS BIGINT) AS count
        FROM comp GROUP BY date
    )
    SELECT t.date, t.total, t.count,
           CAST(ROW_NUMBER() OVER (PARTITION BY c.date ORDER BY c.event_type)
                - 1 AS BIGINT) AS pos,
           c.event_type AS market,
           c.amount AS market_amount,
           c.count AS market_count
    FROM tot t JOIN comp c ON t.date = c.date
    ORDER BY t.date, pos
    """,
    doc="Network metric rows with components[] breakdown (trade_volume "
        "shape, data.js:791-941 + README.md:1431-1510): per-bucket total "
        "plus the sorted per-market component array, built in one pass. "
        "Registered shape posexplodes components[] to scalar (date, total, "
        "count, pos, market, market_amount, market_count) rows -- pos "
        "verifies the in-array market ordering; metric_components_nested "
        "keeps the typed array form.",
)
def report_metric_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    nested = metric_components_nested(spark, sf_dir)
    return (
        nested.select(
            "date",
            "total",
            "count",
            F.posexplode("components").alias("pos", "c"),
        )
        .select(
            "date",
            "total",
            "count",
            F.col("pos").cast("bigint").alias("pos"),
            F.col("c.market").alias("market"),
            F.col("c.amount").alias("market_amount"),
            F.col("c.count").alias("market_count"),
        )
        .orderBy("date", "pos")
    )


@register(
    "report_csv_flatten",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS "order.status",
           o_totalprice AS "order.total",
           o_orderdate AS "order.date"
    FROM orders
    WHERE o_totalprice > 100000
    ORDER BY o_orderkey
    """,
    doc="CSV export flatten (utils.js:142-168 flattenJSON; every endpoint "
        "supports format=csv): nested struct -> dot-path leaf columns as a "
        "plain select; df.write.csv is the sink.",
)
def report_csv_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    # Build the nested API shape, then flatten to dot-path columns --
    # the reference does exactly this JSON->CSV round trip per row.
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total"),
            F.col("o_orderdate").alias("date"),
        ).alias("order"),
    )
    return nested.select(
        "o_orderkey",
        F.col("order.status").alias("order.status"),
        F.col("order.total").alias("order.total"),
        F.col("order.date").alias("order.date"),
    ).orderBy("o_orderkey")
