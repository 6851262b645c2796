"""Sessionization and slowly-changing-dimension history: gap-based
activity episodes and SCD Type-2 validity intervals over the event
stream.

The reference walks account activity chronologically inside each
rowkey-prefix scan (``lib/aggregation/accountPayments.js:223-285``
buckets per-day; ``lib/hbase/hbase-thrift/data.js`` reversed scans pull
"latest state") but has no session or interval operator -- callers
re-derive episodes client-side.  Spark expresses both as one
``Window.partitionBy(user)`` pass; they are the standard behavioral
building blocks of a training-data pipeline (grouping interaction logs
into conversations/episodes before packing).

Scale design (100 TB): every window and the follow-on groupBy are keyed
by ``user_id`` -- HashPartitioning(user_id) satisfies the clustered
distribution of (user_id, session_id) too, so Catalyst plans ONE
exchange for the whole operator (asserted in
tests/test_plan_quality.py).  No driver-side state; per-user ordering is
a partition-local sort.  Skewed power-users are bounded by the window
being a linear scan (lag/running-sum, not O(n^2) frames).

Determinism: ordering is (ts, event_id) on both engines -- equal
timestamps produce a 0 gap either way, so session boundaries are
order-noise immune; cross-row money sums go through DECIMAL(38,6)
(functions/numeric.py policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import dsum, sql_dsum
from ..plans.registry import register
from ..sources.catalog import load_table

# Session gap: a new session starts after this much inactivity.  Events
# in the synthetic stream average ~1 per user per 11 h, so a web-style
# 30-minute gap would make every event its own session; 48 h groups
# multi-event episodes at every SF.
GAP_SECONDS = 48 * 3600

# The gaps-and-islands construction, shared verbatim by this operator's
# oracle and the streaming twin's (streaming/sessions_stream.py): the
# session DEFINITION lives in one place so the two oracles cannot drift.
SQL_SESSION_ISLANDS = f"""flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR EXTRACT(EPOCH FROM ts - LAG(ts) OVER w)
                            > {GAP_SECONDS}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )"""


@register(
    "window_sessionize",
    rotation_group=2,
    oracle=f"""
    WITH {SQL_SESSION_ISLANDS}
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS total_value,
           -- micros-diff / 1e6, never EXTRACT(EPOCH) (drifts an ulp:
           -- seconds+fraction rounds twice; strict-sweep catch r12)
           CAST(date_diff('microsecond', MIN(ts), MAX(ts)) AS DOUBLE)
             / 1000000 AS duration_secs
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    doc="Gap-based sessionization (48 h inactivity gap): lag -> new-"
        "session flag -> running-sum session id -> per-session rollup.  "
        "The behavioral grouping the reference's clients re-derive from "
        "raw account-tx scans (accountPayments.js walks the same "
        "chronology per account).  One exchange total: the lag window, "
        "the running sum, and the (user_id, session_id) groupBy all "
        "reuse HashPartitioning(user_id).  tests/test_invariants.py "
        "asserts Spark's native session_window() operator (the streaming-"
        "capable form) produces identical sessions.",
)
def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


def sessionize(e: DataFrame, gap_seconds: int = GAP_SECONDS) -> DataFrame:
    """Gap-based sessionization of any (user_id, ts, event_id, value)
    relation -- the DataFrame-level form, property-tested on crafted
    boundary inputs (exact-gap spacing, duplicate timestamps) in
    tests/test_properties.py."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > gap_seconds * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    numbered = (
        e.select("user_id", "ts", "event_id", "value")
        .withColumn("is_new", is_new)
        .withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        numbered.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / F.lit(1e6)
            ).alias("duration_secs"),
        )
        .orderBy("user_id", "session_id")
    )


def session_windows_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` form of the same operator --
    the one that runs unchanged under Structured Streaming (state-store
    backed, watermark-evicted).  Not driver-registered (its window
    struct output is engine-specific); tests assert it produces the
    same (user, start, end, n_events) sessions as window_sessionize."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", f"{GAP_SECONDS} seconds"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# SCD2 tier bands over purchase value (cheap deterministic attribute).
TIER = "CASE WHEN value >= 100 THEN 'gold' WHEN value >= 10 THEN 'silver' ELSE 'bronze' END"


def _tier() -> F.Column:
    return (
        F.when(F.col("value") >= 100, F.lit("gold"))
        .when(F.col("value") >= 10, F.lit("silver"))
        .otherwise(F.lit("bronze"))
    )


# The SCD2 interval construction, shared by scd2_user_tier's oracle
# and the interval-overlap join's (the interval DEFINITION lives in one
# place so the two oracles cannot drift).
SQL_SCD2_INTERVALS = f"""obs AS (
        SELECT user_id, ts, event_id, {TIER} AS tier
        FROM events WHERE event_type = 'purchase'
    ),
    tflagged AS (
        SELECT user_id, ts, event_id, tier,
               CASE WHEN LAG(tier) OVER w IS NULL
                         OR LAG(tier) OVER w <> tier
                    THEN 1 ELSE 0 END AS chg
        FROM obs
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
        SELECT user_id, ts, tier,
               SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM tflagged
    ),
    hist AS (
        SELECT user_id, tier, island,
               MIN(ts) AS valid_from, COUNT(*) AS n_obs
        FROM islands GROUP BY user_id, tier, island
    ),
    scd2 AS (
        SELECT user_id, tier, valid_from,
               LEAD(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from) AS valid_to,
               LEAD(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from)
                 IS NULL AS is_current,
               n_obs
        FROM hist
    )"""


@register(
    "scd2_user_tier",
    rotation_group=2,
    oracle=f"""
    WITH {SQL_SCD2_INTERVALS}
    SELECT user_id, tier, valid_from, valid_to, is_current, n_obs
    FROM scd2
    ORDER BY user_id, valid_from
    """,
    doc="SCD Type-2 history build (gaps-and-islands): consecutive equal "
        "observations of a per-user attribute compress to one validity "
        "interval [valid_from, valid_to), open-ended + is_current on the "
        "last.  The interval form of the reference's 'latest state by "
        "reversed scan' (data.js getRow latest-version semantics) -- an "
        "as-of join against scd2 output replaces every point-in-time "
        "re-scan.  Same one-exchange shape as window_sessionize: every "
        "window/groupBy keys on user_id.",
)
def scd2_user_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", _tier().alias("tier"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("tier").over(w)
    flagged = obs.withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("tier")), F.lit(1)).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "island", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    hist = islands.groupBy("user_id", "tier", "island").agg(
        F.min("ts").alias("valid_from"), F.count("*").alias("n_obs")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    nxt = F.lead("valid_from").over(w2)
    return (
        hist.select(
            "user_id",
            "tier",
            "valid_from",
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
            "n_obs",
        )
        .orderBy("user_id", "valid_from")
    )


# --------------------- interval x interval overlap (temporal segmentation)


@register(
    "join_interval_overlap",
    rotation_group=8,
    oracle=f"""
    WITH {SQL_SESSION_ISLANDS},
    sessions AS (
        SELECT user_id,
               CAST(session_id AS BIGINT) AS session_id,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end
        FROM numbered GROUP BY user_id, session_id
    ),
    {SQL_SCD2_INTERVALS}
    SELECT s.user_id, s.session_id, s.session_start, s.session_end,
           t.tier,
           GREATEST(s.session_start, t.valid_from) AS seg_start,
           CASE WHEN t.valid_to IS NULL THEN s.session_end
                ELSE LEAST(s.session_end, t.valid_to) END AS seg_end
    FROM sessions s JOIN scd2 t
      ON s.user_id = t.user_id
     AND t.valid_from <= s.session_end
     AND (t.valid_to IS NULL OR t.valid_to > s.session_start)
    ORDER BY s.user_id, s.session_id, seg_start
    """,
    doc="Interval x interval overlap join, keyed by entity: segment "
        "every session by the SCD2 tier intervals it spans (a session "
        "crossing a tier change splits into one row per tier, clipped "
        "to the overlap).  This is the temporal-attribute resolution "
        "an as-of join cannot express: join_asof_state answers 'state "
        "AT a point', this answers 'states DURING an interval' -- the "
        "shape behind time-aware feature attribution and billing "
        "proration.  Scale: the join is an EQUI-join on the entity key "
        "with the overlap ranges as post-join predicates -- per-user "
        "interval counts are small (bounded by attribute churn), so "
        "the fan-out is bounded and there is no time-bucket expansion "
        "to manage; both inputs derive from the same user-partitioned "
        "lineage, so the join reuses the sessionize/SCD2 exchanges.  "
        "Half-open [valid_from, valid_to) interval semantics match the "
        "SCD2 table; sessions for users with no purchase history drop "
        "out (inner join, documented).  Oracle composes the SHARED "
        "session-islands and SCD2-interval CTE constants, so all three "
        "oracles use one definition of each relation.",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sessions = sessionize(e).select(
        "user_id", "session_id", "session_start", "session_end"
    )
    tiers = scd2_user_tier(spark, sf_dir).select(
        F.col("user_id").alias("t_user_id"), "tier", "valid_from", "valid_to"
    )
    joined = sessions.join(
        tiers,
        (F.col("user_id") == F.col("t_user_id"))
        & (F.col("valid_from") <= F.col("session_end"))
        & (
            F.col("valid_to").isNull()
            | (F.col("valid_to") > F.col("session_start"))
        ),
    )
    return joined.select(
        "user_id",
        "session_id",
        "session_start",
        "session_end",
        "tier",
        F.greatest("session_start", "valid_from").alias("seg_start"),
        F.when(F.col("valid_to").isNull(), F.col("session_end"))
        .otherwise(F.least("session_end", "valid_to"))
        .alias("seg_end"),
    ).orderBy("user_id", "session_id", "seg_start")
