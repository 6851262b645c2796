"""Precomputed-table read patterns: live rolling metrics, freshness-gated
latest rows, interval-sampled snapshots.

Reference: three endpoint families read tables whose *writer* jobs are
absent from the snapshot, so the read-side contract defines the
semantics (SURVEY.md section 2.4, last rows):

* ``agg_metrics`` "live" rows -- rolling 1h/1d/3d/7d/30d totals
  re-anchored at the newest data point (``lib/hbase/hbase-thrift/
  data.js:858-897`` builds the period from ``moment().subtract``);
* ``forex_rates`` / ``xrp_index`` newest-first reads with inverse
  timestamps (``99999999999999 - YYYYMMDDHHmmss``, ``api/routes/
  xrpIndex.js:65-67``) and a 120-minute freshness gate on the result
  (``xrpIndex.js:71-97`` rejects rates older than 2 h);
* ``issuer_balance_snapshot`` / ``xrp_distribution`` week/month
  sampling -- daily snapshot rows thinned to interval boundaries by
  client-side key enumeration (``data.js:996-1035``).

Spark shapes: the inverse-timestamp rowkey trick is just ``ORDER BY ts
DESC`` on a typed column; "live" periods are conditional aggregation in
ONE scan (the reference issues one scan per period); week sampling is a
predicate, not a key loop.  All anchors are ``MAX(ts)`` over the data --
deterministic, unlike the reference's wall-clock ``moment()`` -- so each
query is oracle-checkable.

Scale: the rolling-metric scan aggregates map-side into 5 x 2 cells per
event type per partition (tiny shuffle); the latest-row read is a hash
``max_by`` aggregation, not a global sort; the sampling predicate prunes
date partitions before the scan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum
from ..plans.registry import register
from ..sources.catalog import load_table, sort_key

# The reference's "live" metric periods (data.js:860-871), minus the
# sub-hour ones that are degenerate on the synthetic 30-day stream.
PERIODS = {"1day": 1, "3day": 3, "7day": 7, "30day": 30}

FRESH_MINUTES = 120  # xrpIndex.js:89 -- reject rates older than 2 h


def _sql_period_cells(days: int, suffix: str) -> str:
    cond = f"ts > m - INTERVAL {days} DAY"
    return (
        f"CAST(SUM(CASE WHEN {cond} THEN CAST(value AS DECIMAL(38,6)) END)"
        f" AS DOUBLE) AS total_{suffix},\n"
        f"           COUNT(CASE WHEN {cond} THEN 1 END) AS count_{suffix}"
    )


@register(
    "read_live_rolling_metric",
    oracle=f"""
    WITH anchor AS (SELECT MAX(ts) AS m FROM events)
    SELECT event_type AS market,
           {", ".join(_sql_period_cells(d, s) for s, d in PERIODS.items())}
    FROM events, anchor
    GROUP BY event_type
    """,
    doc="agg_metrics live rolling rows (data.js:858-897): per-market "
        "rolling totals for 1/3/7/30-day windows anchored at the newest "
        "event.  The reference scans once per period; here conditional "
        "aggregation computes every period in a single scan with map-side "
        "partials -- one shuffle of 5 markets x 8 cells regardless of "
        "input size.",
)
def read_live_rolling_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    anchor = e.agg(F.max("ts").alias("m"))  # 1-row broadcast
    cells = []
    for suffix, days in PERIODS.items():
        cond = F.col("ts") > F.col("m") - F.expr(f"INTERVAL {days} DAY")
        cells.append(
            dsum(F.when(cond, F.col("value"))).alias(f"total_{suffix}")
        )
        cells.append(
            F.count(F.when(cond, F.lit(1))).alias(f"count_{suffix}")
        )
    return (
        e.join(F.broadcast(anchor))
        .groupBy(F.col("event_type").alias("market"))
        .agg(*cells)
    )


@register(
    "read_latest_fresh_rate",
    oracle=f"""
    WITH anchor AS (SELECT MAX(ts) AS m FROM events),
    ranked AS (
        SELECT event_type AS pair, value AS rate, ts AS rate_time,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT pair, rate, rate_time
    FROM ranked, anchor
    WHERE rn = 1 AND rate_time >= m - INTERVAL {FRESH_MINUTES} MINUTE
    """,
    doc="getRate freshness-gated latest read (api/routes/xrpIndex.js:"
        "71-97): the reference does a descending inverse-timestamp scan "
        "with limit 1 and rejects results older than 120 minutes.  Spark "
        "shape: max_by over a packed (ts, event_id) sort key -- a hash "
        "aggregation with no per-group sort -- then one freshness "
        "predicate against the broadcast anchor.",
)
def read_latest_fresh_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    anchor = e.agg(F.max("ts").alias("m"))
    latest = e.groupBy(F.col("event_type").alias("pair")).agg(
        F.max_by(F.col("value"), sort_key()).alias("rate"),
        F.max("ts").alias("rate_time"),
    )
    return latest.join(F.broadcast(anchor)).filter(
        F.col("rate_time")
        >= F.col("m") - F.expr(f"INTERVAL {FRESH_MINUTES} MINUTE")
    ).drop("m")


@register(
    "read_snapshot_week_sampled",
    oracle="""
    WITH daily AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS date,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total,
               COUNT(*) AS count
        FROM events GROUP BY 1
    )
    SELECT date, total, count FROM daily
    WHERE date = CAST(DATE_TRUNC('week', date) AS TIMESTAMP)
    """,
    doc="issuer_balance_snapshot / xrp_distribution week sampling "
        "(data.js:996-1035): the reference enumerates one rowkey per "
        "interval boundary client-side and multigets them.  Spark shape: "
        "the daily gold rollup filtered by a boundary predicate "
        "(date == date_trunc('week', date)) -- at 100 TB the predicate "
        "prunes to ~1/7 of the date partitions before any shuffle.",
)
def read_snapshot_week_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("date")).agg(
        dsum("value").alias("total"), F.count("*").alias("count")
    )
    return daily.filter(F.col("date") == F.date_trunc("week", F.col("date")))
