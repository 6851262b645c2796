"""Behavioral event analytics: ordered funnels and retention cohorts.

The reference's aggregation layer stops at per-interval counters
(``lib/aggregation/stats.js`` type/result counts, accountPayments
buckets); questions like "how many accounts progressed signup ->
first use -> first payment" or "what fraction of week-N signups were
still active in week N+k" are left to its API consumers.  Both are
single-pass declarative shapes in Spark and standard furniture in any
event warehouse.

Scale design (100 TB): both operators aggregate per user FIRST (one
user-keyed shuffle with map-side partials over the event log -- the
same key every session/SCD operator uses), then aggregate the per-user
rows (users << events).  The funnel's ordered-stage logic is MIN/
conditional-MIN per user, not a self-join per stage (the k-way join
formulation shuffles the log k times); the cohort matrix's second agg
is over (cohort, offset) keys -- tens of rows.

Determinism: stage timestamps are exact MINs; conversion counts are
integers; the retention rate is one final IEEE division of exact
integer counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import fround, sql_fround
from ..plans.registry import register
from ..sources.catalog import load_table

# Funnel stage definition: signup -> view -> purchase, each stage
# strictly after the previous one for the same user.
FUNNEL_STAGES = ("signup", "view", "purchase")


@register(
    "funnel_signup_view_purchase",
    rotation_group=2,
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(ts) FILTER (WHERE event_type = 'signup') AS t_signup
        FROM events GROUP BY user_id
    ),
    s2 AS (
        SELECT p.user_id, p.t_signup,
               MIN(e.ts) FILTER (WHERE e.event_type = 'view'
                                 AND e.ts > p.t_signup) AS t_view
        FROM per_user p JOIN events e ON e.user_id = p.user_id
        GROUP BY p.user_id, p.t_signup
    ),
    s3 AS (
        SELECT s.user_id, s.t_signup, s.t_view,
               MIN(e.ts) FILTER (WHERE e.event_type = 'purchase'
                                 AND e.ts > s.t_view) AS t_purchase
        FROM s2 s JOIN events e ON e.user_id = s.user_id
        GROUP BY s.user_id, s.t_signup, s.t_view
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t_signup) AS reached_signup,
           COUNT(t_view) AS reached_view,
           COUNT(t_purchase) AS reached_purchase,
           CAST(SUM(CAST("""
    + sql_fround("EXTRACT(EPOCH FROM t_purchase - t_signup)", 6)
    + """
                         AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(t_purchase) AS avg_convert_secs
    FROM s3
    """,
    doc="Ordered three-stage funnel (signup -> first view AFTER signup "
        "-> first purchase AFTER that view): three CHAINED whole-"
        "partition window MINs, each stage conditioned on the previous "
        "stage's window value -- per-user state is three scalar MINs "
        "(bounded for arbitrarily hot users; no per-user event "
        "collection), and no per-stage self-join of the log (the "
        "oracle uses the k-way join formulation precisely to verify "
        "this form against the textbook definition).  The windows and "
        "the final per-user collapse share one user-keyed shuffle "
        "(plan-asserted); the funnel row aggregates users, not events.",
)
def funnel_signup_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    # Chained whole-partition conditional MINs: each stage's timestamp
    # is a window MIN over the user's partition, conditioned on the
    # previous stage's window value.  The LOGICAL per-user state is
    # three scalar MINs, but Spark's WindowExec buffers (and spills)
    # the user's partition rows while evaluating unbounded frames, so
    # a hot user costs O(events) of spillable buffer -- linear and
    # disk-backed, never the O(events^k) a k-way self-join would be,
    # and far less shuffle traffic than a collect_list of stage
    # timestamps.  The three Window operators and the final groupBy
    # all share HashPartitioning(user_id): one exchange
    # (plan-asserted).
    w = Window.partitionBy("user_id")
    t_signup = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    s1 = e.withColumn("t_signup", t_signup)
    t_view = F.min(
        F.when(
            (F.col("event_type") == "view") & (F.col("ts") > F.col("t_signup")),
            F.col("ts"),
        )
    ).over(w)
    s2 = s1.withColumn("t_view", t_view)
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    s3 = s2.withColumn("t_purchase", t_purchase)
    staged = s3.groupBy("user_id").agg(
        F.min("t_signup").alias("t_signup"),
        F.min("t_view").alias("t_view"),
        F.min("t_purchase").alias("t_purchase"),
    )
    # avg time-to-convert pins every per-user stage timestamp, so the
    # compare fails if ANY user's staged MIN chain differs from the
    # oracle's k-way-join formulation (counts alone could mask that).
    convert_secs = fround(
        (F.unix_micros(F.col("t_purchase")) - F.unix_micros(F.col("t_signup")))
        / F.lit(1e6),
        6,
    )
    return staged.agg(
        F.count("*").alias("n_users"),
        F.count("t_signup").alias("reached_signup"),
        F.count("t_view").alias("reached_view"),
        F.count("t_purchase").alias("reached_purchase"),
        (
            F.sum(convert_secs.cast("decimal(38,6)")).cast("double")
            / F.count("t_purchase")
        ).alias("avg_convert_secs"),
    )


@register(
    "retention_cohorts",
    rotation_group=2,
    oracle="""
    WITH first_seen AS (
        SELECT user_id, CAST(DATE_TRUNC('week', MIN(ts)) AS TIMESTAMP)
                 AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(DATE_TRUNC('week', e.ts) AS TIMESTAMP) AS active_week
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
    ),
    cohort_size AS (
        SELECT cohort_week, COUNT(*) AS cohort_users
        FROM first_seen GROUP BY cohort_week
    )
    SELECT a.cohort_week,
           CAST(DATE_DIFF('week', a.cohort_week, a.active_week) AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT a.user_id) AS active_users,
           cs.cohort_users,
           CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / cs.cohort_users
             AS retention
    FROM activity a JOIN cohort_size cs ON a.cohort_week = cs.cohort_week
    GROUP BY a.cohort_week, week_offset, cs.cohort_users
    ORDER BY a.cohort_week, week_offset
    """,
    doc="Weekly retention cohort matrix: users grouped by first-seen "
        "week, counted distinct in every subsequent active week, "
        "retention = active / cohort size.  The standard engagement "
        "rollup the reference's per-interval counters cannot answer "
        "(they lose user identity across intervals).  Two user-keyed "
        "aggs (first-seen, then distinct user-week) share one shuffle "
        "key; the matrix itself is (weeks x offsets) rows -- tiny at "
        "any corpus size.  retention is one division of exact integer "
        "counts.",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.date_trunc("week", "ts").alias("active_week"),
        )
        .distinct()
    )
    cohort_size = first_seen.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_users")
    )
    week_diff = (
        (F.unix_micros(F.col("active_week")) - F.unix_micros(F.col("cohort_week")))
        / F.lit(7 * 86400 * 1_000_000)
    ).cast("bigint")
    return (
        activity.groupBy("cohort_week", week_diff.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("active_users"))
        .join(cohort_size, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            "cohort_users",
            (F.col("active_users").cast("double") / F.col("cohort_users")).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )
