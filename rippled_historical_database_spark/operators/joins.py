"""Join operators.

The reference has no join engine: every join is a client-side two-phase
lookup -- scan an index table for keys, then multi-get the payload rows
(SURVEY.md section 2.3, ``lib/hbase/hbase-thrift/data.js:1172-1246`` etc.).
In Spark each becomes a declarative join; Catalyst picks broadcast vs
sort-merge, and AQE re-plans skewed shuffles at runtime.

Scale notes (100 TB): dimension tables (customer/supplier/nation/region
analogs of the lookup tables) are broadcast -- no shuffle of the fact
side; fact-fact joins (orders x lineitem) shuffle on the join key, which
is the bucketing key in a production layout so the shuffle disappears
entirely; the date-spine join broadcasts the generated spine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.localrel import local_df
from ..functions.numeric import dsum, fround, sql_dsum, sql_fround
from ..plans.registry import register
from ..sources.catalog import load_table


@register(
    "join_index_to_payload",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    ORDER BY o.o_orderkey
    """,
    doc="Two-phase index lookup (account tx index -> tx payload, "
        "data.js:1172-1246) as one hash join: stats/AQE broadcast the "
        "filtered dimension side while it fits (so the fact scan never "
        "shuffles at small scale) and degrade to a shuffle join when it "
        "grows -- no forced hint, since the filtered side still scales "
        "linearly with the corpus.",
    bench=True,
)
def join_index_to_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("o_orderkey", "o_orderdate", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")
    )


@register(
    "join_container_expand",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, l.l_linenumber, l.l_quantity, l.l_extendedprice
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '2000-01-01'
    ORDER BY o.o_orderkey, l.l_linenumber
    """,
    doc="ledger -> its transactions expansion (tx-hash array multi-get, "
        "data.js:1886-1924) as a 1:N equi-join sorted by the in-container "
        "index (tx_index analog l_linenumber).",
)
def join_container_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select("o_orderkey", "o_orderdate", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("o_orderkey", "l_linenumber")
    )


@register(
    "join_multi_hop",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation, r.r_name AS region, s.s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY s.s_suppkey
    """,
    doc="topology nodes x node_state detail join (topology.js:99-161) as "
        "chained broadcast joins over small dimensions.",
)
def join_multi_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "s_suppkey", "s_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "s_acctbal",
        )
        .orderBy("s_suppkey")
    )


@register(
    "join_left_semi",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    ORDER BY p_partkey
    """,
    doc="Implicit semi-join (index scan limits the payload hash list, "
        "SURVEY.md 2.3) made explicit: left_semi, no payload duplication.",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        p.join(l, p.p_partkey == l.l_partkey, "left_semi")
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey")
    )


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
    doc="Dedup/absence check (payment dedup by tx_hash, "
        "aggregation/accountPayments.js:155-163) as a left_anti join.",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


@register(
    "join_date_spine",
    oracle="""
    WITH spine AS (
        SELECT CAST(gs.d AS TIMESTAMP) AS day
        FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
                             INTERVAL 1 DAY) AS gs(d)
    ),
    daily AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               COUNT(*) AS n_payments,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    )
    SELECT s.day, COALESCE(d.n_payments, 0) AS n_payments,
           COALESCE(d.total_value, 0.0) AS total_value
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    ORDER BY s.day
    """,
    doc="Reports key-list fetch with zero-filled missing buckets "
        "(data.js:331-451: per-day key enumeration -> zero Bucket) as a "
        "generated date spine LEFT JOIN with coalesced defaults; the spine "
        "is broadcast.",
)
def join_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("timestamp"),
                F.lit("2024-01-30").cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n_payments"), dsum("value").alias("total_value"))
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_payments", F.lit(0)).alias("n_payments"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("day")
    )


@register(
    "join_rate_redenomination",
    oracle=f"""
    WITH vol AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               event_type,
               {sql_dsum("value")} AS amount
        FROM events GROUP BY 1, 2
    ),
    rate AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               {sql_dsum("value * (1 + user_id / 100.0)")} / {sql_dsum("value")} AS vwap
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    )
    SELECT v.day, v.event_type, v.amount, r.vwap,
           v.amount * r.vwap AS converted_amount
    FROM vol v JOIN rate r ON v.day = r.day
    ORDER BY v.day, v.event_type
    """,
    doc="Volume metric rows joined to a VWAP rate series on the aligned "
        "bucket to re-denominate totals (data.js:800-941): equi-join on "
        "date_trunc; the rate series is tiny -> broadcast.",
)
def join_rate_redenomination(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    vol = e.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(dsum("value").alias("amount"))
    rate = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            (dsum(F.col("value") * (1 + F.col("user_id") / 100.0)) / dsum("value")).alias("vwap")
        )
    )
    return (
        vol.join(F.broadcast(rate), "day")
        .select(
            "day", "event_type", "amount", "vwap",
            (F.col("amount") * F.col("vwap")).alias("converted_amount"),
        )
        .orderBy("day", "event_type")
    )


@register(
    "join_asof_state",
    oracle="""
    SELECT user_id,
           LAST(value ORDER BY ts, event_id) AS last_value,
           MAX(ts) AS as_of_time
    FROM events
    WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Point-in-time state lookup (the reference delegates balances-as-of "
        "to a live rippled node, accountBalances.js:93-127; SURVEY.md 7.6 "
        "recommends reconstruction): as-of value per key = max_by over rows "
        "at or before the cutoff -- one aggregation, no per-key scan.",
)
def join_asof_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.filter(F.col("ts") <= F.lit("2024-01-15 00:00:00"))
        .groupBy("user_id")
        .agg(
            F.max_by("value", key).alias("last_value"),
            F.max("ts").alias("as_of_time"),
        )
        .orderBy("user_id")
    )


@register(
    "join_running_balance",
    oracle="""
    SELECT event_id, ts, user_id, value,
           CAST(SUM(CAST(value AS DECIMAL(38,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_balance
    FROM events
    WHERE user_id < 5
    ORDER BY user_id, ts, event_id
    """,
    doc="Balance reconstruction by windowed cumulative sum over balance "
        "changes (SURVEY.md 7.6b: final_balance as-of checkpoints): "
        "decimal-exact running sum per account.",
)
def join_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.select(
            "event_id", "ts", "user_id", "value",
            F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double").alias("running_balance"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


# ------------------------------------------------------- range join

RANGE_WINDOW_SEC = 1800  # interval length: each 'signup' opens a 30-min window
RANGE_BIN_SEC = 900      # time-axis bin width for the bin-and-refine join


@register(
    "join_range_interval",
    oracle=f"""
    WITH intervals AS (
        SELECT event_id AS interval_id, ts AS start_ts,
               ts + INTERVAL {RANGE_WINDOW_SEC} SECOND AS end_ts
        FROM events WHERE event_type = 'signup'
    ),
    points AS (
        SELECT event_id, ts, value FROM events WHERE event_type <> 'signup'
    )
    SELECT i.interval_id,
           COUNT(*) AS n_contained,
           {sql_dsum('p.value')} AS sum_value
    FROM intervals i
    JOIN points p ON p.ts >= i.start_ts AND p.ts < i.end_ts
    GROUP BY i.interval_id
    ORDER BY i.interval_id
    """,
    doc="Interval range join (point-in-window containment), an operator "
        "the reference's rowkey scans cannot express and Spark has no "
        "native strategy for: a naive inequality join degenerates to "
        "BroadcastNestedLoop.  Implemented bin-and-refine: each interval "
        f"explodes into the {RANGE_BIN_SEC}-second time bins it covers "
        "(bounded, because interval length is capped), each point maps "
        "to exactly ONE bin, the bin equi-join prunes candidates, and "
        "the exact containment predicate refines.  Because a point "
        "lives in a single bin, every (interval, point) pair meets "
        "exactly once -- no dedup stage.  Scale: one shuffle on the bin "
        "key, candidate count ~ points x windows-per-bin, never "
        "|intervals| x |points|; plan-guarded against nested-loop "
        "degeneration.",
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    intervals = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("interval_id"),
        us.alias("start_us"),
        (us + RANGE_WINDOW_SEC * 1_000_000).alias("end_us"),
    )
    bin_us = RANGE_BIN_SEC * 1_000_000
    # end is exclusive: a window ending exactly on a bin edge does not
    # cover that bin (floor((end-1)/bin) is its last covered bin).
    exploded = intervals.select(
        "interval_id", "start_us", "end_us",
        F.explode(
            F.sequence(
                F.floor(F.col("start_us") / bin_us),
                F.floor((F.col("end_us") - 1) / bin_us),
            )
        ).alias("bin"),
    )
    points = e.filter(F.col("event_type") != "signup").select(
        F.col("value"),
        us.alias("p_us"),
        F.floor(us / bin_us).alias("bin"),
    )
    return (
        exploded.join(points, "bin")
        .filter((F.col("p_us") >= F.col("start_us")) & (F.col("p_us") < F.col("end_us")))
        .groupBy("interval_id")
        .agg(F.count("*").alias("n_contained"), dsum("value").alias("sum_value"))
        .orderBy("interval_id")
    )


ASOF_TOL_SECONDS = 3 * 86400  # staleness tolerance for the as-of match


@register(
    "join_asof_tolerance",
    rotation_group=2,
    oracle=f"""
    WITH quotes AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE event_type = 'purchase'
    ),
    probes AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
    ),
    tagged AS (
        SELECT user_id, ts, 0 AS src, event_id, value, ts AS q_ts FROM quotes
        UNION ALL
        SELECT user_id, ts, 1, event_id, CAST(NULL AS DOUBLE),
               CAST(NULL AS TIMESTAMP)
        FROM probes
    ),
    filled AS (
        SELECT user_id, ts, src, event_id,
               LAST_VALUE(value IGNORE NULLS) OVER w AS av,
               LAST_VALUE(q_ts IGNORE NULLS) OVER w AS ats
        FROM tagged
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, src, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, event_id, ts,
           CASE WHEN ats IS NOT NULL
                     AND EXTRACT(EPOCH FROM ts - ats) <= {ASOF_TOL_SECONDS}
                THEN av END AS asof_value,
           CASE WHEN ats IS NOT NULL
                     AND EXTRACT(EPOCH FROM ts - ats) <= {ASOF_TOL_SECONDS}
                -- micros/1e6, not EXTRACT(EPOCH): the latter rounds
                -- twice and drifts an ulp off unix_micros (strict r12)
                THEN CAST(date_diff('microsecond', ats, ts) AS DOUBLE)
                     / 1000000
                END AS lag_secs
    FROM filled WHERE src = 1
    ORDER BY user_id, ts, event_id
    """,
    doc="Per-row as-of join with staleness tolerance (pandas merge_asof "
        "semantics; trades-vs-quotes): every probe row picks the latest "
        "same-key quote at-or-before its timestamp, nulled when older "
        "than the 3-day tolerance.  Implemented by the UNION-TAG trick: "
        "tag both sides, one (key)-partitioned window with "
        "last(ignorenulls) fills each probe from the most recent quote "
        "-- ONE shuffle and a linear partition scan, where a range join "
        "would be O(probes x quotes) per key and a per-probe subquery "
        "unplannable at scale.  The reference's exchange-rate "
        "interpolation (data.js getExchangeRate) re-scans per request; "
        "this shape answers every probe in one pass.  Ties: a quote at "
        "the probe's exact timestamp counts (src orders quotes first), "
        "matching merge_asof allow_exact_matches.",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    quotes = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("src"),
        "event_id",
        "value",
        F.col("ts").alias("q_ts"),
    )
    probes = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(1).alias("src"),
        "event_id",
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("timestamp").alias("q_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = quotes.unionByName(probes).select(
        "user_id",
        "ts",
        "src",
        "event_id",
        F.last("value", ignorenulls=True).over(w).alias("av"),
        F.last("q_ts", ignorenulls=True).over(w).alias("ats"),
    )
    lag_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ats"))
    fresh = F.col("ats").isNotNull() & (lag_us <= ASOF_TOL_SECONDS * 1_000_000)
    return (
        filled.filter(F.col("src") == 1)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.when(fresh, F.col("av")).alias("asof_value"),
            F.when(fresh, (lag_us / F.lit(1e6))).alias("lag_secs"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


@register(
    "join_asof_nearest",
    rotation_group=11,
    oracle="""
    WITH quotes AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE event_type = 'purchase'
    ),
    probes AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
    ),
    tagged AS (
        SELECT user_id, ts, 0 AS src, event_id, value, ts AS q_ts FROM quotes
        UNION ALL
        SELECT user_id, ts, 1, event_id, CAST(NULL AS DOUBLE),
               CAST(NULL AS TIMESTAMP)
        FROM probes
    ),
    filled AS (
        SELECT user_id, ts, src, event_id,
               LAST_VALUE(value IGNORE NULLS) OVER wb AS bv,
               LAST_VALUE(q_ts IGNORE NULLS) OVER wb AS bts,
               FIRST_VALUE(value IGNORE NULLS) OVER wf AS fv,
               FIRST_VALUE(q_ts IGNORE NULLS) OVER wf AS fts
        FROM tagged
        WINDOW wb AS (PARTITION BY user_id ORDER BY ts, src, event_id
                      ROWS UNBOUNDED PRECEDING),
               wf AS (PARTITION BY user_id ORDER BY ts, src, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    scored AS (
        SELECT user_id, ts, event_id, bv, fv,
               date_diff('microsecond', bts, ts) AS b_us,
               date_diff('microsecond', ts, fts) AS f_us
        FROM filled WHERE src = 1
    )
    SELECT user_id, event_id, ts,
           CASE WHEN b_us IS NOT NULL AND (f_us IS NULL OR b_us <= f_us)
                THEN bv ELSE fv END AS nearest_value,
           CASE WHEN b_us IS NOT NULL AND (f_us IS NULL OR b_us <= f_us)
                THEN b_us / 1e6
                ELSE f_us / 1e6 END AS lag_secs,
           CASE WHEN b_us IS NOT NULL AND (f_us IS NULL OR b_us <= f_us)
                THEN 'backward'
                WHEN f_us IS NOT NULL THEN 'forward' END AS direction
    FROM scored
    ORDER BY user_id, ts, event_id
    """,
    doc="Nearest-direction as-of join (pandas merge_asof "
        "direction='nearest'): every probe row picks whichever same-key "
        "quote is temporally closest -- the latest at-or-before OR the "
        "earliest strictly-after -- with ties resolved backward like "
        "merge_asof.  Completes the as-of family (backward state "
        "lookup, tolerance-gated backward, nearest).  Implemented as "
        "ONE union-tag pass with two frames over the same sort: the "
        "backward fill (last ignorenulls, unbounded preceding) and the "
        "forward fill (first ignorenulls, current-to-unbounded-"
        "following) share one (key)-partitioned exchange+sort, so "
        "nearest costs the same single shuffle as backward-only -- "
        "never a range join.  Lag comparison is exact integer "
        "microseconds; the emitted lag is one IEEE divide.  A quote at "
        "the probe's exact timestamp sorts before the probe (src=0), "
        "so it is captured by the backward fill with lag 0 and wins "
        "every comparison -- allow_exact_matches semantics.",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    quotes = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("src"),
        "event_id",
        "value",
        F.col("ts").alias("q_ts"),
    )
    probes = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(1).alias("src"),
        "event_id",
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("timestamp").alias("q_ts"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = quotes.unionByName(probes).select(
        "user_id",
        "ts",
        "src",
        "event_id",
        F.last("value", ignorenulls=True).over(wb).alias("bv"),
        F.last("q_ts", ignorenulls=True).over(wb).alias("bts"),
        F.first("value", ignorenulls=True).over(wf).alias("fv"),
        F.first("q_ts", ignorenulls=True).over(wf).alias("fts"),
    )
    scored = filled.filter(F.col("src") == 1).select(
        "user_id",
        "ts",
        "event_id",
        "bv",
        "fv",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("bts"))).alias("b_us"),
        (F.unix_micros(F.col("fts")) - F.unix_micros(F.col("ts"))).alias("f_us"),
    )
    back_wins = F.col("b_us").isNotNull() & (
        F.col("f_us").isNull() | (F.col("b_us") <= F.col("f_us"))
    )
    return scored.select(
        "user_id",
        "event_id",
        "ts",
        F.when(back_wins, F.col("bv")).otherwise(F.col("fv"))
        .alias("nearest_value"),
        F.when(back_wins, F.col("b_us") / F.lit(1e6))
        .otherwise(F.col("f_us") / F.lit(1e6))
        .alias("lag_secs"),
        F.when(back_wins, F.lit("backward"))
        .when(F.col("f_us").isNotNull(), F.lit("forward"))
        .alias("direction"),
    ).orderBy("user_id", "ts", "event_id")


# ----------------------------------------------- point-in-band range join

# Irregular log-spaced value bands (a fee/amount histogram with
# hand-tuned boundaries -- the classic "range join" shape Spark has no
# native operator for).  Naive SQL `v >= lo AND v < hi` plans as a
# BroadcastNestedLoopJoin: every event row tests every band.  The scale
# form BUCKETIZES: each band pre-expands (in plain Python -- the band
# list is a static constant) to the fixed-width buckets it covers, the
# fact side computes its bucket arithmetically, and the join becomes a
# broadcast EQUI-join on bucket + a residual range filter -- hash
# lookup per row, no nested loop, no shuffle of the fact table.
BANDS = [
    (0, 0.0, 1.0), (1, 1.0, 2.5), (2, 2.5, 5.0), (3, 5.0, 10.0),
    (4, 10.0, 25.0), (5, 25.0, 50.0), (6, 50.0, 100.0),
    (7, 100.0, 250.0), (8, 250.0, 500.0), (9, 500.0, 1e9),
]
BAND_BUCKET_W = 10
BAND_BUCKET_MAX = 100  # values beyond W*MAX collapse into the top bucket

_BAND_COVERAGE = [
    (band_id, lo, hi, bucket)
    for band_id, lo, hi in BANDS
    for bucket in range(
        int(lo // BAND_BUCKET_W),
        min(int((hi - 1e-9) // BAND_BUCKET_W), BAND_BUCKET_MAX) + 1,
    )
]

_SQL_BANDS = "bands(band_id, lo, hi) AS (VALUES " + ", ".join(
    f"({b}, {lo!r}, {hi!r})" for b, lo, hi in BANDS
) + ")"


@register(
    "join_point_in_band",
    rotation_group=8,
    oracle=f"""
    WITH {_SQL_BANDS}
    SELECT band_id, lo, hi,
           CAST(COUNT(event_id) AS BIGINT) AS n_events,
           COALESCE({sql_fround(sql_dsum('value', 2), 2)}, 0.0) AS total_value
    FROM bands LEFT JOIN events ON value >= lo AND value < hi
    GROUP BY 1, 2, 3
    ORDER BY 1
    """,
    doc="Point-in-band range join: every event lands in the one "
        "irregular value band containing it, aggregated per band "
        "(count + order-independent decimal sum), empty bands emitted "
        "as zero rows.  The oracle is the naive theta join; the Spark "
        "plan is the BUCKETIZED form -- the static band list "
        "pre-expands to (bucket, band) coverage rows in Python, the "
        "fact side derives its bucket with one floor division, and "
        "the join is a broadcast HASH join on bucket plus a residual "
        "lo/hi filter (plan-asserted: no BroadcastNestedLoopJoin).  "
        "At 100 TB the fact table never shuffles: bucket derivation "
        "is map-side, the coverage relation is bands x covered "
        "buckets (~115 rows) broadcast everywhere, and the band agg "
        "is 10 cells of map-side-combinable state.",
)
def join_point_in_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # local_df: both band relations are broadcast-consumed; the Arrow
    # form evaluates JVM-side, the list form paid Python unpickle
    # workers inside every broadcast build (functions/localrel.py).
    coverage = local_df(
        spark, _BAND_COVERAGE, "band_id: int, lo: double, hi: double, bucket: int"
    )
    bucket = F.least(
        F.floor(F.col("value") / BAND_BUCKET_W), F.lit(BAND_BUCKET_MAX)
    ).cast("int")
    joined = (
        e.select("event_id", "value", bucket.alias("bucket"))
        .join(F.broadcast(coverage), "bucket")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
    )
    agg = joined.groupBy("band_id").agg(
        F.count("event_id").cast("bigint").alias("n_events"),
        # scale 2, not 9: events.value lives on a 2-dp grid, so the
        # exact decimal sum is itself a 2-dp quantity -- and fround's
        # 2^63 saturation bound then admits per-band sums to ~9.2e16
        # (a 100 TB band at avg value ~50 sums to ~5e13), where a
        # 9-dp emission would silently saturate past ~9.2e9
        # (r13 ADVICE).
        fround(dsum("value", 2), 2).alias("total_value"),
    )
    bands_df = local_df(
        spark, BANDS, "band_id: int, lo: double, hi: double"
    )
    return (
        bands_df.join(agg, "band_id", "left")
        .select(
            "band_id",
            "lo",
            "hi",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("band_id")
    )
