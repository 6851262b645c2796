"""Rolling-baseline anomaly detection over metric series.

Reference: the stats daemon stores per-interval type/result counters
(``lib/aggregation/stats.js``) and leaves spike detection to whoever
reads the API; an engine serving ops dashboards needs the rolling
z-score built in.

Shape: aggregate the event log to an (entity, hour) count series first
(one keyed shuffle with map-side partials), then a RANGE-framed window
over the SERIES -- 24 buckets of trailing baseline per row, excluding
the current bucket so an anomalous hour cannot absorb itself into its
own baseline.  The window runs over series rows (hours x types), not
events: its cost is independent of event volume.

Determinism: the baseline keeps exact integer sums (count, sum, sum of
squares) inside the frame; mean/variance/z are then a fixed sequence of
single IEEE ops (divide, multiply-subtract, sqrt -- IEEE sqrt is
correctly rounded, so it is engine-identical), with the emitted z
rounded once at 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import sql_fround
from ..plans.registry import register
from ..sources.catalog import load_table
from .candles import fround

BASELINE_HOURS = 24   # trailing window, current hour excluded
Z_THRESHOLD = 3.0

# The guarded 6-dp z emission, as shared SQL text (fround, not native
# ROUND: the quotient of integer moments lands on the 6-dp half-grid,
# where Spark's repr-HALF_UP and DuckDB's nearbyint disagree).
_Z_VAR = (
    "CAST(b_sum2 AS DOUBLE) / b_n"
    " - (CAST(b_sum AS DOUBLE) / b_n) * (CAST(b_sum AS DOUBLE) / b_n)"
)
_Z_CASE = (
    f"CASE WHEN b_n >= 2 AND {_Z_VAR} > 0 "
    f"THEN {sql_fround(f'(n - CAST(b_sum AS DOUBLE) / b_n) / SQRT({_Z_VAR})', 6)} "
    f"END"
)

# Shared by window_rolling_zscore and its streaming twin
# (streaming/rsi_stream.py stream_rolling_zscore).
SQL_ROLLING_ZSCORE = f"""
    WITH series AS (
        SELECT event_type,
               CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS bucket_start,
               epoch(DATE_TRUNC('hour', ts)) // 3600 AS hour_idx,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    based AS (
        SELECT event_type, bucket_start, n,
               COUNT(n) OVER w AS b_n,
               SUM(n) OVER w AS b_sum,
               SUM(n * n) OVER w AS b_sum2
        FROM series
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
                     RANGE BETWEEN {BASELINE_HOURS} PRECEDING
                           AND 1 PRECEDING)
    )
    SELECT event_type, bucket_start, n,
           CAST(b_n AS BIGINT) AS baseline_hours,
           {_Z_CASE} AS z,
           COALESCE(ABS({_Z_CASE}) > {Z_THRESHOLD}, FALSE) AS is_anomaly
    FROM based
    ORDER BY event_type, bucket_start
    """


def hourly_event_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, bucket_start, hour_idx, n) hourly count series --
    the aggregated relation both the batch z-score window and its
    streaming twin score over."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("bucket_start"),
        F.expr("unix_seconds(date_trunc('hour', ts)) div 3600").alias("hour_idx"),
    ).agg(F.count("*").alias("n"))


@register(
    "window_rolling_zscore",
    rotation_group=2,
    oracle=SQL_ROLLING_ZSCORE,
    doc=f"Rolling z-score anomaly flags over the hourly metric series: "
        f"each (type, hour) count scored against the trailing "
        f"{BASELINE_HOURS}-hour baseline (RANGE frame on the hour index, "
        "current hour excluded so a spike cannot damp its own score; "
        "gaps in the series correctly shrink the baseline because RANGE "
        "frames span index distance, not row count).  The spike-"
        "detection layer the reference's stats counters leave to API "
        "consumers.  The window runs over the aggregated series, so its "
        "cost is hours x types regardless of event volume; baseline "
        "state is three exact integer sums, z is a fixed IEEE op "
        "sequence rounded once.",
)
def window_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    series = hourly_event_series(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rangeBetween(-BASELINE_HOURS, -1)
    )
    based = series.select(
        "event_type",
        "bucket_start",
        "n",
        F.count("n").over(w).alias("b_n"),
        F.sum("n").over(w).alias("b_sum"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("b_sum2"),
    )
    mean = F.col("b_sum").cast("double") / F.col("b_n")
    var = F.col("b_sum2").cast("double") / F.col("b_n") - mean * mean
    z = F.when(
        (F.col("b_n") >= 2) & (var > 0),
        fround((F.col("n") - mean) / F.sqrt(var), 6),
    )
    return (
        based.select(
            "event_type",
            "bucket_start",
            "n",
            F.col("b_n").cast("bigint").alias("baseline_hours"),
            z.alias("z"),
            F.coalesce(F.abs(z) > Z_THRESHOLD, F.lit(False)).alias("is_anomaly"),
        )
        .orderBy("event_type", "bucket_start")
    )


# ---------------------------------------------- seasonal baseline z

@register(
    "profile_seasonal_baseline",
    rotation_group=7,
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    keyed AS (
        SELECT event_type, bucket, cnt,
               CAST(epoch(bucket) AS BIGINT) // 86400 % 7 AS dow,
               CAST(epoch(bucket) AS BIGINT) // 3600 % 24 AS hod
        FROM hourly
    ),
    stats AS (
        SELECT event_type, bucket, cnt, dow, hod,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(cnt) OVER w AS BIGINT) AS s1,
               CAST(SUM(cnt * cnt) OVER w AS BIGINT) AS s2
        FROM keyed
        WINDOW w AS (PARTITION BY event_type, dow, hod)
    )
    SELECT event_type, bucket, cnt,
           """ + sql_fround("CAST(s1 AS DOUBLE) / n", 6) + """ AS seasonal_mean,
           """ + sql_fround(
        "(cnt - CAST(s1 AS DOUBLE) / n)"
        " / SQRT((n * s2 - s1 * s1) / (CAST(n AS DOUBLE) * (n - 1)))", 6
    ) + """ AS z
    FROM stats
    WHERE n >= 3 AND n * s2 > s1 * s1
    ORDER BY event_type, bucket
    """,
    doc="Seasonal-baseline anomaly score: each hourly event count "
        "against the mean/stddev of its OWN seasonal cell (event_type, "
        "day-of-week, hour-of-day) across all weeks -- the STL-lite "
        "outage/spike detector that complements the trailing "
        "window_rolling_zscore (a level shift that recurs weekly is "
        "normal here and anomalous there).  Day-of-week and hour are "
        "derived arithmetically from the epoch (identical in both "
        "engines -- calendar functions differ in week-start "
        "convention); moments are exact BIGINT window sums over the "
        "grouped hourly relation, one corpus shuffle total; cells with "
        "n < 3 samples or zero variance are excluded in both engines.  "
        "At 100 TB the grouped hourly relation is calendar-bounded "
        "(types x hours) -- the corpus is touched once.",
)
def profile_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    keyed = hourly.select(
        "event_type",
        "bucket",
        "cnt",
        F.expr("unix_timestamp(bucket) div 86400 % 7").alias("dow"),
        F.expr("unix_timestamp(bucket) div 3600 % 24").alias("hod"),
    )
    w = Window.partitionBy("event_type", "dow", "hod")
    stats = keyed.select(
        "event_type",
        "bucket",
        "cnt",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("cnt").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).cast("bigint").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")) / (
        F.col("n").cast("double") * (F.col("n") - 1)
    )
    return (
        stats.filter(
            (F.col("n") >= 3) & (F.col("n") * F.col("s2") > F.col("s1") * F.col("s1"))
        )
        .select(
            "event_type",
            "bucket",
            "cnt",
            fround(mean, 6).alias("seasonal_mean"),
            fround((F.col("cnt") - mean) / F.sqrt(var), 6).alias("z"),
        )
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------- CUSUM changepoint detection

CUSUM_K = 0.5   # slack, in stddevs: drift under K sigma is absorbed
CUSUM_H = 5.0   # alarm threshold, in cumulated sigmas (Page 1954)
_DD = 9         # fold rounding (operators/candles.py DD_ROUND policy)


SQL_CUSUM = f"""
    WITH RECURSIVE counts AS MATERIALIZED (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    mom AS MATERIALIZED (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM counts GROUP BY 1
    ),
    z AS MATERIALIZED (
        SELECT c.event_type, c.day,
               (FLOOR(((c.x - CAST(m.sx AS DOUBLE) / m.n)
                     / SQRT(GREATEST(
                         (m.n * CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx),
                         1e0) / m.n / m.n)) * 1000000000e0 + 0.5) / 1000000000e0) AS z,
               ROW_NUMBER() OVER (PARTITION BY c.event_type
                                  ORDER BY c.day) AS rn
        FROM counts c JOIN mom m ON c.event_type = m.event_type
    ),
    rec AS (
        SELECT event_type, rn, day,
               (FLOOR((GREATEST(0e0, z - {CUSUM_K})) * 1000000000e0 + 0.5) / 1000000000e0) AS s_pos,
               (FLOOR((GREATEST(0e0, -z - {CUSUM_K})) * 1000000000e0 + 0.5) / 1000000000e0) AS s_neg
        FROM z WHERE rn = 1
        UNION ALL
        SELECT g.event_type, g.rn, g.day,
               (FLOOR((GREATEST(0e0, r.s_pos + g.z - {CUSUM_K})) * 1000000000e0 + 0.5) / 1000000000e0),
               (FLOOR((GREATEST(0e0, r.s_neg - g.z - {CUSUM_K})) * 1000000000e0 + 0.5) / 1000000000e0)
        FROM rec r JOIN z g
          ON g.event_type = r.event_type AND g.rn = r.rn + 1
    )
    SELECT event_type, day, s_pos, s_neg,
           (s_pos > {CUSUM_H} OR s_neg > {CUSUM_H}) AS alarm
    FROM rec
    ORDER BY event_type, day
    """


def _cusum_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, day) z-scores from exact BIGINT series moments --
    shared by the batch fold and the streaming twin (the 'model' the
    stream monitors against)."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("bigint").alias("x"))
    mom = counts.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return counts.join(F.broadcast(mom), "event_type").select(
        "event_type",
        "day",
        fround(
            (F.col("x") - F.col("sx").cast("double") / F.col("n"))
            / F.sqrt(
                F.greatest(
                    F.col("n") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx"),
                    F.lit(1.0),
                )
                / F.col("n")
                / F.col("n")
            ),
            _DD,
        ).alias("z"),
    )


@register(
    "profile_cusum_drift",
    rotation_group=8,
    oracle=SQL_CUSUM,
    doc=f"Two-sided CUSUM changepoint detector (Page 1954) over the "
        "per-type daily count series: s+_t = max(0, s+_(t-1) + z_t - "
        f"{CUSUM_K}), s-_t = max(0, s-_(t-1) - z_t - {CUSUM_K}), alarm "
        f"when either side exceeds {CUSUM_H} -- the drift detector "
        "that catches a SUSTAINED small shift the per-day z-score "
        "(window_rolling_zscore) and the seasonal baseline "
        "(profile_seasonal_baseline) both miss, because CUSUM "
        "integrates evidence across days instead of judging each day "
        "alone.  z-scores come from exact BIGINT series moments "
        "(population mean/std per type, variance floored at 1/n^0.5 "
        "scale to survive constant series); the recursion is the "
        "EWMA-family pattern: one JVM aggregate() fold per type over "
        "the calendar-bounded day series, every step fround-ed "
        f"at 1e-{_DD} so fold == recursive-CTE oracle bit-exact.  "
        "Scale: one corpus shuffle (the daily groupBy); the fold and "
        "moments run on the day-sized relation.",
)
def profile_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = _cusum_z(spark, sf_dir)
    series = z.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "z"))).alias("series")
    )
    fold = f"""
    aggregate(
        series,
        named_struct(
            'sp', cast(0.0 as double), 'sn', cast(0.0 as double),
            'out', cast(array() as
                array<struct<day:timestamp,s_pos:double,s_neg:double>>)),
        (a, x) -> named_struct(
            'sp', (FLOOR((greatest(0e0, a.sp + x.z - {CUSUM_K})) * 1000000000e0 + 0.5) / 1000000000e0),
            'sn', (FLOOR((greatest(0e0, a.sn - x.z - {CUSUM_K})) * 1000000000e0 + 0.5) / 1000000000e0),
            'out', concat(a.out, array(named_struct(
                'day', x.day,
                's_pos', (FLOOR((greatest(0e0, a.sp + x.z - {CUSUM_K})) * 1000000000e0 + 0.5) / 1000000000e0),
                's_neg', (FLOOR((greatest(0e0, a.sn - x.z - {CUSUM_K})) * 1000000000e0 + 0.5) / 1000000000e0))))
        )
    ).out
    """
    return (
        series.select("event_type", F.explode(F.expr(fold)).alias("o"))
        .select(
            "event_type",
            "o.day",
            "o.s_pos",
            "o.s_neg",
            (
                (F.col("o.s_pos") > CUSUM_H) | (F.col("o.s_neg") > CUSUM_H)
            ).alias("alarm"),
        )
        .orderBy("event_type", "day")
    )
