"""The exchange-rate operator and value normalization.

Reference: ``getExchangeRate`` (``lib/hbase/hbase-thrift/data.js:
1318-1455``) -- the rate for (pair, t) is the average of
  (a) the calendar-day VWAP of the day containing t, and
  (b) the VWAP of the last <=50 trades in the 14 days before t
      (strict mode requires >=10 trades, else null);
identity pairs rate 1.  It feeds /normalize (``api/routes/normalize.js:
126-142``), the volume metrics, and account-report XRP normalization.

Spark shape: two sub-aggregations over the trade stream -- a day-bucket
groupBy and a row_number-limited recent-trades groupBy -- combined with
coalesce/avg.  Both are decimal-exact, so the operator is verified
against the oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import sql_dsum
from ..plans.registry import register
from ..sources.catalog import load_table

# Rate query cutoff: rates "as of" this instant.
CUTOFF = "2024-01-20 00:00:00"
LOOKBACK_DAYS = 14
LAST_N = 50
STRICT_MIN = 10

SQL_COUNTER = "value * (1 + user_id / 100.0)"


def _legs(e: DataFrame) -> DataFrame:
    return e.withColumn(
        "counter_value", F.col("value") * (1 + F.col("user_id") / 100.0)
    )


@register(
    "rate_dual_vwap",
    oracle=f"""
    WITH day_vwap AS (
        SELECT event_type AS pair,
               {sql_dsum(SQL_COUNTER)} / {sql_dsum("value")} AS vwap_day
        FROM events
        WHERE ts >= TIMESTAMP '{CUTOFF}' - INTERVAL 1 DAY AND ts < TIMESTAMP '{CUTOFF}'
        GROUP BY 1
    ),
    recent AS (
        SELECT event_type AS pair, value, {SQL_COUNTER} AS counter_value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE ts < TIMESTAMP '{CUTOFF}'
          AND ts >= TIMESTAMP '{CUTOFF}' - INTERVAL {LOOKBACK_DAYS} DAY
    ),
    last50 AS (
        SELECT pair,
               {sql_dsum("counter_value")} / {sql_dsum("value")} AS vwap_recent,
               COUNT(*) AS n_recent
        FROM recent WHERE rn <= {LAST_N}
        GROUP BY pair
    )
    SELECT COALESCE(d.pair, l.pair) AS pair,
           d.vwap_day,
           l.vwap_recent,
           l.n_recent,
           CASE
             WHEN d.vwap_day IS NOT NULL AND l.vwap_recent IS NOT NULL
               THEN (d.vwap_day + l.vwap_recent) / 2
             ELSE COALESCE(d.vwap_day, l.vwap_recent)
           END AS rate,
           CASE WHEN l.n_recent >= {STRICT_MIN} THEN l.vwap_recent END
             AS strict_rate
    FROM day_vwap d FULL OUTER JOIN last50 l ON d.pair = l.pair
    ORDER BY pair
    """,
    doc="Exchange rate (data.js:1318-1455): avg of calendar-day VWAP and "
        "last-50-trades VWAP over a 14-day lookback, strict mode gated on "
        ">=10 trades. 'Last 50' = row_number desc <= 50 then aggregate; "
        "full outer combine with coalesce fallback.",
)
def rate_dual_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import dsum

    e = _legs(load_table(spark, sf_dir, "events"))
    cutoff = F.lit(CUTOFF).cast("timestamp")
    day_vwap = (
        e.filter(
            (F.col("ts") >= cutoff - F.expr("INTERVAL 1 DAY")) & (F.col("ts") < cutoff)
        )
        .groupBy(F.col("event_type").alias("pair"))
        .agg((dsum("counter_value") / dsum("value")).alias("vwap_day"))
    )
    w = Window.partitionBy("event_type").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    recent = (
        e.filter(
            (F.col("ts") < cutoff)
            & (F.col("ts") >= cutoff - F.expr(f"INTERVAL {LOOKBACK_DAYS} DAY"))
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= LAST_N)
        .groupBy(F.col("event_type").alias("pair"))
        .agg(
            (dsum("counter_value") / dsum("value")).alias("vwap_recent"),
            F.count("*").alias("n_recent"),
        )
    )
    d, l = day_vwap.alias("d"), recent.alias("l")
    joined = d.join(l, F.col("d.pair") == F.col("l.pair"), "full_outer")
    both = F.col("vwap_day").isNotNull() & F.col("vwap_recent").isNotNull()
    return (
        joined.select(
            F.coalesce(F.col("d.pair"), F.col("l.pair")).alias("pair"),
            "vwap_day",
            "vwap_recent",
            "n_recent",
            F.when(both, (F.col("vwap_day") + F.col("vwap_recent")) / 2)
            .otherwise(F.coalesce("vwap_day", "vwap_recent"))
            .alias("rate"),
            F.when(F.col("n_recent") >= STRICT_MIN, F.col("vwap_recent")).alias(
                "strict_rate"
            ),
        )
        .orderBy("pair")
    )


@register(
    "rate_normalize_amounts",
    oracle=f"""
    WITH rate AS (
        SELECT event_type AS pair,
               {sql_dsum(SQL_COUNTER)} / {sql_dsum("value")} AS rate
        FROM events
        WHERE ts >= TIMESTAMP '{CUTOFF}' - INTERVAL 1 DAY AND ts < TIMESTAMP '{CUTOFF}'
        GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value, r.rate,
           e.value * r.rate AS converted_amount
    FROM events e JOIN rate r ON e.event_type = r.pair
    WHERE e.ts >= TIMESTAMP '{CUTOFF}' - INTERVAL 1 DAY AND e.ts < TIMESTAMP '{CUTOFF}'
    ORDER BY e.event_id
    """,
    doc="/normalize (api/routes/normalize.js:126-142): convert raw amounts "
        "through the exchange-rate operator -- rate series is tiny, so the "
        "join broadcasts; per-row conversion stays in codegen.",
)
def rate_normalize_amounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import dsum

    e = _legs(load_table(spark, sf_dir, "events"))
    cutoff = F.lit(CUTOFF).cast("timestamp")
    in_day = (F.col("ts") >= cutoff - F.expr("INTERVAL 1 DAY")) & (F.col("ts") < cutoff)
    rate = (
        e.filter(in_day)
        .groupBy(F.col("event_type").alias("pair"))
        .agg((dsum("counter_value") / dsum("value")).alias("rate"))
    )
    return (
        e.filter(in_day)
        .join(F.broadcast(rate), F.col("event_type") == F.col("pair"))
        .select(
            "event_id", "event_type", "value", "rate",
            (F.col("value") * F.col("rate")).alias("converted_amount"),
        )
        .orderBy("event_id")
    )
