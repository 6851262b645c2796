"""Data profiling and constraint validation: the quality gates a
pipeline runs before trusting a new batch.

The reference trusts its importer end-to-end (verification is a
separate daemon diffing ledger hashes, ``lib/verifyLedgers.js``-style);
a lake engine profiles every landed partition and fails fast on
constraint violations -- the Deequ / Great-Expectations shape, here as
plain one-pass aggregations.

Scale: both operators are ONE full-scan aggregation with map-side
partials; per-column state is a handful of scalars (the distinct counts
are the only cardinality-bearing term -- swap in the HLL sketch from
operators/sketches.py when the column is unbounded).  Zero joins,
zero windows.

Determinism: counts are integers; means go through the DECIMAL(38,6)
order-independent sum; min/max are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localrel import local_df
from ..functions.numeric import dsum, fround, sql_dsum, sql_fround
from ..functions.dispatch import serve_exact
from ..plans.registry import register
from ..sources.catalog import load_table


@register(
    "profile_column_stats",
    rotation_group=2,
    oracle=f"""
    SELECT 'value' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(value) AS n_non_null,
           COUNT(DISTINCT value) AS n_distinct,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           {sql_dsum("value")} / COUNT(value) AS mean_value
    FROM events
    UNION ALL
    SELECT 'user_id',
           COUNT(*), COUNT(user_id), COUNT(DISTINCT user_id),
           CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE),
           {sql_dsum("user_id")} / COUNT(user_id)
    FROM events
    ORDER BY column_name
    """,
    doc="Per-column profile of a landed batch (row/non-null/distinct "
        "counts, min/max, decimal-exact mean) -- the summary a pipeline "
        "records per partition to detect drift before training on it.  "
        "ONE wide aggregation covers every profiled column (stack() "
        "unpivots after; adding a column adds expressions, never a "
        "second scan), map-side combinable throughout; COUNT(DISTINCT) "
        "is exact here and swaps for the mergeable HLL register sketch "
        "on unbounded columns.",
)
def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # ONE wide aggregation computes every profiled column's stats, then
    # stack() unpivots to per-column rows -- adding a column adds agg
    # expressions, never a second scan of the table.
    cols = {"value": F.col("value"), "user_id": F.col("user_id").cast("double")}
    aggs = [F.count("*").alias("n_rows")]
    for name, c in cols.items():
        aggs += [
            F.count(c).alias(f"{name}_nn"),
            F.countDistinct(c).alias(f"{name}_nd"),
            F.min(c).alias(f"{name}_min"),
            F.max(c).alias(f"{name}_max"),
            (dsum(c) / F.count(c)).alias(f"{name}_mean"),
        ]
    wide = e.agg(*aggs)
    stack_args = ", ".join(
        f"'{n}', {n}_nn, {n}_nd, {n}_min, {n}_max, {n}_mean" for n in cols
    )
    return (
        wide.selectExpr(
            "n_rows",
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_non_null, n_distinct, min_value, max_value,"
            " mean_value)",
        )
        .select(
            "column_name", "n_rows", "n_non_null", "n_distinct",
            "min_value", "max_value", "mean_value",
        )
        .orderBy("column_name")
    )


# Constraint suite over the events batch: each rule counts violations.
CONSTRAINTS = {
    "event_id_not_null": "event_id IS NULL",
    "event_id_unique": None,  # special-cased: duplicates counted via agg
    "ts_in_range": "ts < TIMESTAMP '2020-01-01' OR ts > TIMESTAMP '2030-01-01'",
    "value_non_negative": "value < 0",
    "event_type_in_domain":
        "event_type NOT IN ('purchase','view','click','signup','error')",
}


@register(
    "validate_constraints",
    rotation_group=2,
    oracle="""
    WITH dup AS (
        SELECT CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS d
        FROM events
    )
    SELECT * FROM (
        SELECT 'event_id_not_null' AS rule,
               CAST(COUNT(*) FILTER (WHERE event_id IS NULL) AS BIGINT)
                 AS n_violations
        FROM events
        UNION ALL
        SELECT 'event_id_unique', d FROM dup
        UNION ALL
        SELECT 'ts_in_range',
               CAST(COUNT(*) FILTER (WHERE ts < TIMESTAMP '2020-01-01'
                    OR ts > TIMESTAMP '2030-01-01') AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'value_non_negative',
               CAST(COUNT(*) FILTER (WHERE value < 0) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'event_type_in_domain',
               CAST(COUNT(*) FILTER (WHERE event_type NOT IN
                    ('purchase','view','click','signup','error'))
                    AS BIGINT)
        FROM events
    ) ORDER BY rule
    """,
    doc="Constraint validation over a landed batch: null / uniqueness / "
        "range / domain rules evaluated as conditional counters in ONE "
        "aggregation pass (the uniqueness rule is count - distinct, "
        "same pass), emitting a (rule, violation count) report -- the "
        "fail-fast gate before a batch is admitted downstream.  Every "
        "counter is map-side combinable; adding a rule adds a column, "
        "not a scan.",
)
def validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # F.count (not F.sum of 0/1): SUM over an empty batch is NULL, and
    # a fail-fast `n_violations == 0` gate must see 0 -- matching the
    # oracle's COUNT(*) FILTER -- when a landed partition is empty.
    counters = [
        F.count(F.when(F.expr(pred), 1)).cast("bigint").alias(rule)
        for rule, pred in CONSTRAINTS.items()
        if pred is not None
    ]
    counters.append(
        (F.count("*") - F.countDistinct("event_id")).cast("bigint")
        .alias("event_id_unique")
    )
    wide = e.agg(*counters)
    # unpivot the one-row wide report to (rule, n_violations)
    pairs = ", ".join(f"'{r}', {r}" for r in sorted(CONSTRAINTS))
    return (
        wide.selectExpr(f"stack({len(CONSTRAINTS)}, {pairs}) AS (rule, n_violations)")
        .orderBy("rule")
    )


# --------------------------------------------------- correlation

@register(
    "profile_correlation",
    rotation_group=2,
    oracle=f"""
    WITH s AS (
        SELECT COUNT(*) AS n,
               {sql_dsum("value")} AS sx,
               {sql_dsum("CAST(user_id AS DOUBLE)")} AS sy,
               {sql_dsum("value * value")} AS sxx,
               {sql_dsum("CAST(user_id AS DOUBLE) * CAST(user_id AS DOUBLE)")}
                 AS syy,
               {sql_dsum("value * CAST(user_id AS DOUBLE)")} AS sxy
        FROM events
    )
    SELECT n,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                THEN (FLOOR(((n * sxy - sx * sy)
                     / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)))
                     * 1000000000e0 + 0.5) / 1000000000e0)
                END AS pearson_r
    FROM s
    """,
    doc="Pearson correlation between two columns from ONE pass of exact "
        "decimal sums (n, Σx, Σy, Σx², Σy², Σxy) -- the profiling "
        "cross-column check, computed without Spark's corr() because "
        "its float accumulation is partition-order-dependent; this "
        "construction is order-independent and engine-exact (the final "
        "expression is a fixed scalar IEEE op sequence, rounded once).  "
        "All six sums are map-side combinable; adding column pairs adds "
        "columns, not passes.",
)
def profile_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    x = F.col("value")
    y = F.col("user_id").cast("double")
    s = e.agg(
        F.count("*").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
        dsum(x * y).alias("sxy"),
    )
    # Zero-variance guard: a constant column makes the denominator
    # exactly 0, and under ANSI mode the bare division would raise
    # DIVIDE_BY_ZERO instead of yielding the undefined-r NULL.
    denom = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(denom)
    return s.select(
        "n", F.when(denom > 0, fround(r, 9)).alias("pearson_r")
    )


# --------------------------------------------------- drift (PSI)

PSI_BINS = 10
PSI_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"  # reference vs current half


@register(
    "profile_psi_drift",
    rotation_group=2,
    oracle=f"""
    WITH binned AS (
        SELECT GREATEST(0, LEAST(CAST(FLOOR(value / 50.0) AS INT),
                                 {PSI_BINS - 1})) AS bin,
               ts < {PSI_SPLIT} AS is_ref
        FROM events
    ),
    counts AS (
        SELECT bin,
               COUNT(*) FILTER (WHERE is_ref) AS n_ref,
               COUNT(*) FILTER (WHERE NOT is_ref) AS n_cur
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(n_ref) AS DOUBLE) AS t_ref,
               CAST(SUM(n_cur) AS DOUBLE) AS t_cur
        FROM counts
    )
    SELECT c.bin,
           CAST(c.n_ref AS BIGINT) AS n_ref,
           CAST(c.n_cur AS BIGINT) AS n_cur,
           CASE WHEN t.t_ref > 0 AND t.t_cur > 0 THEN
               (FLOOR(((c.n_cur / t.t_cur - c.n_ref / t.t_ref)
                     * (FLOOR((LN(GREATEST(c.n_cur / t.t_cur, 1e-6)
                                  / GREATEST(c.n_ref / t.t_ref, 1e-6)))
                              * 1000000000e0 + 0.5) / 1000000000e0))
                      * 1000000000e0 + 0.5) / 1000000000e0)
               END AS psi_term
    FROM counts c CROSS JOIN tot t
    ORDER BY c.bin
    """,
    doc=f"Population stability index between the reference (first half) "
        f"and current (second half) event batches over {PSI_BINS} fixed "
        "value bins: per-bin PSI terms (p_cur - p_ref) * ln(p_cur/"
        "p_ref), floored at 1e-6 for empty bins -- the standard drift "
        "alarm run between every training snapshot and the corpus it "
        "was trained on.  One grouped count pass + a broadcast 1-row "
        "totals relation; LN rounds once at 9 dp (libm absorption), "
        "each term is then a fixed IEEE sequence rounded once.  Total "
        "PSI is the trivial sum of the emitted terms.",
)
def profile_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # explicit FLOOR: a bare double->INT cast truncates in Spark but
    # rounds in DuckDB -- the bin edge must be the same operation.
    # Clamp BOTH ends: without GREATEST(0, ...) a negative value mints
    # a negative bin id and the "fixed 10 bins" contract silently grows
    # bins below 0.
    binned = e.select(
        F.greatest(
            F.lit(0),
            F.least(
                F.floor(F.col("value") / 50.0).cast("int"),
                F.lit(PSI_BINS - 1),
            ),
        ).alias("bin"),
        (F.col("ts") < F.expr(PSI_SPLIT)).alias("is_ref"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("double").alias("t_ref"),
        F.sum("n_cur").cast("double").alias("t_cur"),
    )
    p_ref = F.col("n_ref") / F.col("t_ref")
    p_cur = F.col("n_cur") / F.col("t_cur")
    term = (p_cur - p_ref) * fround(
        F.log(F.greatest(p_cur, F.lit(1e-6)) / F.greatest(p_ref, F.lit(1e-6))), 9
    )
    # Empty-side guard: a batch entirely before/after the split makes a
    # total 0 and the ANSI division would raise; PSI is undefined then.
    guarded = F.when(
        (F.col("t_ref") > 0) & (F.col("t_cur") > 0), fround(term, 9)
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            guarded.alias("psi_term"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------- k-anonymity

K_ANON = 5
# Quasi-identifier tuple: coarse attributes that could re-identify a
# user when combined (type of action, day, spend band).
QI_SQL = ("event_type", "CAST(DATE_TRUNC('day', ts) AS TIMESTAMP)",
          "CAST(FLOOR(value / 100.0) AS INT)")


@register(
    "privacy_k_anonymity",
    rotation_group=2,
    oracle=f"""
    WITH groups AS (
        SELECT {QI_SQL[0]} AS event_type,
               {QI_SQL[1]} AS day,
               {QI_SQL[2]} AS value_band,
               COUNT(*) AS group_size,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1, 2, 3
    )
    SELECT event_type, day, value_band,
           group_size, n_users
    FROM groups
    WHERE group_size < {K_ANON}
    ORDER BY event_type, day, value_band
    """,
    doc=f"k-anonymity audit over the quasi-identifier tuple (event "
        f"type, day, value band): every group smaller than k={K_ANON} "
        "is a re-identification risk -- the release gate that pairs "
        "with text_pii_scrub (scrubbing direct identifiers does not "
        "help if the QI combination is unique).  One grouped count with "
        "map-side partials; the violating-group report is tiny by "
        "construction (each row < k members).  Generalize-and-retry "
        "(coarser bands) is re-running the same plan with wider "
        "bucket constants.",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.floor(F.col("value") / 100.0).cast("int").alias("value_band"),
        )
        .agg(
            F.count("*").alias("group_size"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .filter(F.col("group_size") < K_ANON)
        .orderBy("event_type", "day", "value_band")
    )


# ------------------------------- Kolmogorov-Smirnov drift per source

# Two-sample KS over the documents' n_chars distribution: each source
# vs the rest of the corpus.  The ECDF difference is evaluated on the
# full distinct-value grid (every step point of BOTH samples, where the
# supremum is attained).  Complements the PSI alarm: bin-free, so a
# shift inside one PSI bin still registers.
KS_ROUND = 9
KS_ALPHA_C = 1.358  # c(alpha) for alpha = 0.05 (two-sample KS)


@register(
    "profile_ks_drift",
    rotation_group=5,
    oracle=f"""
    WITH counts AS (
        SELECT source, n_chars AS v, COUNT(*) AS k
        FROM documents GROUP BY 1, 2
    ),
    tot AS (
        SELECT source, SUM(k) AS n_src FROM counts GROUP BY 1
    ),
    n_all AS (SELECT SUM(k) AS n FROM counts),
    grid AS (
        SELECT s.source, v.v
        FROM (SELECT DISTINCT source FROM counts) s
        CROSS JOIN (SELECT DISTINCT v FROM counts) v
    ),
    cums AS (
        SELECT g.source, g.v,
               SUM(COALESCE(c.k, 0)) OVER (
                   PARTITION BY g.source ORDER BY g.v
               ) AS cum_src
        FROM grid g
        LEFT JOIN counts c ON g.source = c.source AND g.v = c.v
    ),
    allcum AS (
        SELECT v, SUM(kv) OVER (ORDER BY v) AS cum_all
        FROM (SELECT v, SUM(k) AS kv FROM counts GROUP BY 1)
    ),
    diffs AS (
        SELECT cu.source,
               {sql_fround('''ABS(
                   CAST(cu.cum_src AS DOUBLE) / t.n_src
                   - CAST(ac.cum_all - cu.cum_src AS DOUBLE)
                     / (na.n - t.n_src)
               )''', KS_ROUND)} AS diff,
               t.n_src, na.n
        FROM cums cu
        JOIN allcum ac ON cu.v = ac.v
        JOIN tot t ON cu.source = t.source
        CROSS JOIN n_all na
        WHERE t.n_src < na.n
    )
    SELECT source,
           CAST(MAX(n_src) AS BIGINT) AS n_src,
           CAST(MAX(n) - MAX(n_src) AS BIGINT) AS n_rest,
           {sql_fround('MAX(diff)', 6)} AS d_stat,
           {sql_fround(f'''{KS_ALPHA_C} * SQRT(CAST(MAX(n) AS DOUBLE)
                 / (MAX(n_src) * (MAX(n) - MAX(n_src))))''', 6)} AS ks_crit,
           ({sql_fround('MAX(diff)', 6)}
            > {sql_fround(f'''{KS_ALPHA_C} * SQRT(CAST(MAX(n) AS DOUBLE)
                    / (MAX(n_src) * (MAX(n) - MAX(n_src))))''', 6)}) AS drifted
    FROM diffs
    GROUP BY source
    ORDER BY source
    """,
    doc="Two-sample Kolmogorov-Smirnov drift test per source: each "
        "source's n_chars ECDF against the rest of the corpus, "
        "evaluated on the full distinct-value grid (the supremum of an "
        "ECDF difference is attained at a step point, so the grid scan "
        "is exact, not an approximation); d_stat compared to the "
        "alpha=0.05 critical value 1.358*sqrt((n+m)/nm).  The bin-free "
        "companion to profile_psi_drift for catching one source "
        "drifting away from the corpus.  A source that IS the whole "
        "corpus (n_src == n) has no rest-sample and is excluded in "
        "both engines rather than dividing by zero.  Per-diff "
        "rounding at 9 dp "
        "absorbs IEEE division noise before the max.  At 100 TB: the "
        "value grid of an integer document metric is bounded (doc "
        "length cap), so counts/grid/cumsums are all "
        "bounded-cardinality relations -- one keyed count over the "
        "corpus, then window work on a tiny grid; sources x values "
        "stays broadcastable.",
)
def profile_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").alias("k")
    )
    tot = counts.groupBy("source").agg(F.sum("k").alias("n_src"))
    n_all = counts.agg(F.sum("k").alias("n"))
    grid = (
        counts.select("source").distinct()
        .crossJoin(F.broadcast(counts.select("v").distinct()))
    )
    filled = grid.join(counts, ["source", "v"], "left").select(
        "source", "v", F.coalesce("k", F.lit(0)).alias("k")
    )
    w_src = Window.partitionBy("source").orderBy("v")
    cums = filled.select(
        "source", "v", F.sum("k").over(w_src).alias("cum_src")
    )
    w_all = Window.orderBy("v")
    allcum = (
        counts.groupBy("v").agg(F.sum("k").alias("kv"))
        .select("v", F.sum("kv").over(w_all).alias("cum_all"))
    )
    diffs = (
        cums.join(F.broadcast(allcum), "v")
        .join(F.broadcast(tot), "source")
        .crossJoin(F.broadcast(n_all))
        .filter(F.col("n_src") < F.col("n"))
        .select(
            "source", "n_src", "n",
            fround(
                F.abs(
                    F.col("cum_src").cast("double") / F.col("n_src")
                    - (F.col("cum_all") - F.col("cum_src")).cast("double")
                    / (F.col("n") - F.col("n_src"))
                ),
                KS_ROUND,
            ).alias("diff"),
        )
    )
    crit = fround(
        F.lit(KS_ALPHA_C)
        * F.sqrt(
            F.max("n").cast("double")
            / (F.max("n_src") * (F.max("n") - F.max("n_src")))
        ),
        6,
    )
    return (
        diffs.groupBy("source")
        .agg(
            F.max("n_src").cast("bigint").alias("n_src"),
            (F.max("n") - F.max("n_src")).cast("bigint").alias("n_rest"),
            fround(F.max("diff"), 6).alias("d_stat"),
            crit.alias("ks_crit"),
            (fround(F.max("diff"), 6) > crit).alias("drifted"),
        )
        .orderBy("source")
    )


# --------------------------------------------------- l-diversity

L_DIVERSE = 3
# Sensitive attribute: event_type (what the user did).  Quasi-identifier
# here is the (day, spend band) pair -- coarser than the k-anonymity
# tuple on purpose: a group can be large (k-anonymous) yet still leak
# the sensitive value when everyone in it shares one event_type.


@register(
    "privacy_l_diversity",
    rotation_group=6,
    oracle=f"""
    WITH groups AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               CAST(FLOOR(value / 100.0) AS INT) AS value_band,
               COUNT(*) AS group_size,
               COUNT(DISTINCT event_type) AS l_distinct
        FROM events
        GROUP BY 1, 2
    )
    SELECT day, value_band,
           CAST(group_size AS BIGINT) AS group_size,
           CAST(l_distinct AS BIGINT) AS l_distinct
    FROM groups
    WHERE l_distinct < {L_DIVERSE}
    ORDER BY day, value_band
    """,
    doc=f"l-diversity audit (Machanavajjhala et al., 2007), the "
        "attribute-disclosure companion to privacy_k_anonymity: a "
        "quasi-identifier group where every member shares the same "
        "sensitive value leaks that value even when the group is large "
        f"enough to be k-anonymous.  Flags (day, spend-band) groups "
        f"with fewer than l={L_DIVERSE} distinct event types.  Same "
        "scale shape as the k-anonymity gate: one grouped "
        "count-distinct with map-side partials, violating-group report "
        "bounded by the QI-group count, zero joins.",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("day", "ts").alias("day"),
            F.floor(F.col("value") / 100.0).cast("int").alias("value_band"),
        )
        .agg(
            F.count("*").alias("group_size"),
            F.countDistinct("event_type").alias("l_distinct"),
        )
        .filter(F.col("l_distinct") < L_DIVERSE)
        .orderBy("day", "value_band")
    )


# ------------------------------------------- mutual information

MI_ROUND = 9


@register(
    "profile_mutual_information",
    rotation_group=6,
    oracle=f"""
    WITH joint AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM documents GROUP BY 1, 2
    ),
    mx AS (SELECT lang, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM joint GROUP BY 1),
    my AS (SELECT source, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM joint GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM joint)
    SELECT j.lang, j.source, j.n_xy,
           {sql_fround('''LN(CAST(j.n_xy AS DOUBLE) * t.n
                    / (CAST(m1.n_x AS DOUBLE) * m2.n_y)) / LN(2.0)''',
                           MI_ROUND)} AS pmi_bits,
           {sql_fround('''(CAST(j.n_xy AS DOUBLE) / t.n)
                 * (LN(CAST(j.n_xy AS DOUBLE) * t.n
                       / (CAST(m1.n_x AS DOUBLE) * m2.n_y)) / LN(2.0))''',
                           MI_ROUND)} AS mi_term_bits
    FROM joint j
    JOIN mx m1 ON j.lang = m1.lang
    JOIN my m2 ON j.source = m2.source
    CROSS JOIN tot t
    ORDER BY j.lang, j.source
    """,
    doc="Pointwise mutual information between the corpus's lang and "
        "source columns -- the dependence profile a mixture designer "
        "reads before treating language and provenance as independent "
        "sampling axes (sum of mi_term_bits = the MI in bits; a "
        "near-zero table says the axes factorize, a hot cell says one "
        "source is carrying one language).  The corpus is scanned and "
        "shuffled exactly ONCE (the joint groupBy, plan-asserted); "
        "marginals and the total are window sums OVER the (|langs| x "
        "|sources|) joint table itself -- tiny-relation exchanges, "
        "never a corpus recompute (the naive self-join formulation "
        "re-evaluated the corpus aggregation once per marginal branch: "
        "4 full scans).  Per-cell logs are single IEEE ops rounded at "
        "1e-9, identical in both engines.",
)
def profile_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    joint = d.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_xy")
    )
    # The joint table is bounded by |langs| x |sources|: window sums
    # over it are cheap by construction, and -- unlike re-aggregating
    # `joint` through separate join branches -- keep ONE lineage, so
    # the corpus scan/shuffle is not replayed per marginal.
    withm = joint.select(
        "lang",
        "source",
        "n_xy",
        F.sum("n_xy").over(Window.partitionBy("lang")).cast("bigint").alias("n_x"),
        F.sum("n_xy").over(Window.partitionBy("source")).cast("bigint").alias("n_y"),
        F.sum("n_xy").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    ratio = (
        F.col("n_xy").cast("double")
        * F.col("n")
        / (F.col("n_x").cast("double") * F.col("n_y"))
    )
    return withm.select(
        "lang",
        "source",
        "n_xy",
        fround(F.log(ratio) / F.log(F.lit(2.0)), MI_ROUND).alias("pmi_bits"),
        fround(
            (F.col("n_xy").cast("double") / F.col("n"))
            * (F.log(ratio) / F.log(F.lit(2.0))),
            MI_ROUND,
        ).alias("mi_term_bits"),
    ).orderBy("lang", "source")


# --------------------------------------------------- t-closeness

T_CLOSE = 0.2
# Nominal sensitive attribute -> the distance is total-variation
# (the categorical instantiation of t-closeness's EMD; Li et al. 2007
# section 3 uses equal ground distance for unordered domains).
#
# Spine-free identity: types ABSENT from a group contribute their full
# global mass, and sum_absent q = 1 - sum_present q, so
#     TVD = 0.5 * (sum_present |p - q| + 1 - sum_present q)
# -- every term lives on an existing (QI, type) row, no group x type
# cross join, and with marginals as WINDOW sums the whole audit is one
# lineage over one corpus shuffle.


@register(
    "privacy_t_closeness",
    rotation_group=6,
    oracle=f"""
    WITH joint AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               CAST(FLOOR(value / 100.0) AS INT) AS value_band,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_gt
        FROM events GROUP BY 1, 2, 3
    ),
    win AS (
        SELECT day, value_band, n_gt,
               CAST(SUM(n_gt) OVER (PARTITION BY day, value_band) AS BIGINT)
                 AS g_tot,
               CAST(SUM(n_gt) OVER (PARTITION BY event_type) AS BIGINT)
                 AS t_tot,
               CAST(SUM(n_gt) OVER () AS BIGINT) AS n
        FROM joint
    ),
    terms AS (
        SELECT day, value_band, g_tot,
               {sql_fround('''ABS(CAST(n_gt AS DOUBLE) / g_tot
                         - CAST(t_tot AS DOUBLE) / n)''', 9)} AS term,
               {sql_fround('CAST(t_tot AS DOUBLE) / n', 9)} AS q
        FROM win
    )
    SELECT day, value_band,
           CAST(MAX(g_tot) AS BIGINT) AS group_size,
           {sql_fround(f'0.5 * ({sql_dsum("term", 9)} + 1 - {sql_dsum("q", 9)})', 6)}
             AS tvd,
           {sql_fround(f'0.5 * ({sql_dsum("term", 9)} + 1 - {sql_dsum("q", 9)})', 6)}
             > {T_CLOSE} AS exceeds
    FROM terms
    GROUP BY day, value_band
    ORDER BY day, value_band
    """,
    doc=f"t-closeness audit (Li et al., 2007), completing the privacy "
        "triad with k-anonymity and l-diversity: a QI group can be "
        "large AND diverse yet still leak if its sensitive-value "
        "DISTRIBUTION diverges from the table's -- e.g. a group where "
        "one event type jumps from 10% to 90% frequency.  Distance is "
        "total variation (the categorical t-closeness instantiation) "
        "computed spine-free: absent types contribute 1 - sum(present "
        "global mass), so no group-by-type cross join exists at any "
        "scale.  The corpus shuffles ONCE (the (QI, type) grouped "
        "count, plan-asserted); group/global/total marginals are "
        "window sums OVER that bounded joint relation in the same "
        "lineage -- the same no-rescan shape as "
        "profile_mutual_information.  Per-term arithmetic is rounded "
        "at 1e-9 and accumulated through the DECIMAL sum, so the "
        "distance is engine-exact.",
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    joint = e.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.floor(F.col("value") / 100.0).cast("int").alias("value_band"),
        "event_type",
    ).agg(F.count("*").cast("bigint").alias("n_gt"))
    win = joint.select(
        "day",
        "value_band",
        "n_gt",
        F.sum("n_gt").over(Window.partitionBy("day", "value_band"))
        .cast("bigint").alias("g_tot"),
        F.sum("n_gt").over(Window.partitionBy("event_type"))
        .cast("bigint").alias("t_tot"),
        F.sum("n_gt").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    terms = win.select(
        "day",
        "value_band",
        "g_tot",
        fround(
            F.abs(
                F.col("n_gt").cast("double") / F.col("g_tot")
                - F.col("t_tot").cast("double") / F.col("n")
            ),
            9,
        ).alias("term"),
        fround(F.col("t_tot").cast("double") / F.col("n"), 9).alias("q"),
    )
    tvd = fround(0.5 * (dsum("term", 9) + 1 - dsum("q", 9)), 6)
    return (
        terms.groupBy("day", "value_band")
        .agg(
            F.max("g_tot").cast("bigint").alias("group_size"),
            tvd.alias("tvd"),
            (tvd > T_CLOSE).alias("exceeds"),
        )
        .orderBy("day", "value_band")
    )


# ----------------------------------------------------- Benford deviation

# First-significant-digit audit per event_type: a synthetic or
# hand-edited numeric column rarely follows Benford's law, so a large
# deviation flags fabricated/templated values during corpus intake.
# chi-square vs p_d = log10(1 + 1/d) on the bounded 9-digit spine.
BENFORD_CHI2_CRIT = 15.507  # alpha = 0.05, 8 degrees of freedom


# Exact first-digit extraction: a comparison ladder over power-of-ten
# LITERALS instead of FLOOR(LOG10(v)) + POWER(10, .) -- libm log10 can
# return 2.9999999999999996 for an exact power of ten and pow carries
# its own 1-ulp license, either of which flips the digit on one engine.
# Every 10^k literal up to 10^15 is an exactly-representable double and
# comparisons/division are correctly rounded, so the ladder is
# bit-deterministic.  Negative-exponent literals (1e-1 .. 1e-30) are
# NOT exact doubles, but both engines parse the same literal to the
# same double and compare/divide it correctly rounded, so the digit
# stays bit-identical cross-engine there too.
#
# DOMAIN BOUNDARIES (r13 ADVICE -- both classes drop from the 1..9
# spine identically on both engines, so n counts only in-domain rows):
#  * value >= 1e16: the top rung emits FLOOR(value/1e15) >= 10, a
#    multi-digit number the spine join discards (extracting its first
#    digit would need rungs beyond the exact-double window).
#  * 0 < value < 1e-30: falls to the ELSE 0 arm and is discarded.
# The testdata metric envelope (0.01 .. ~1e3 on a 2-dp grid) sits six
# orders inside both edges.
_BENFORD_EXPS = range(15, -31, -1)


def _sql_first_digit() -> str:
    arms = " ".join(
        f"WHEN value >= 1e{k} THEN CAST(FLOOR(value / 1e{k}) AS INT)"
        for k in _BENFORD_EXPS
    )
    return f"CASE {arms} ELSE 0 END"


@register(
    "profile_benford_deviation",
    rotation_group=7,
    oracle=f"""
    WITH pos AS (
        SELECT event_type,
               {_sql_first_digit()} AS digit
        FROM events WHERE value > 0
    ),
    counts AS (
        SELECT event_type, digit, CAST(COUNT(*) AS BIGINT) AS k
        FROM pos GROUP BY 1, 2
    ),
    spine AS (
        SELECT t.event_type, d.digit
        FROM (SELECT DISTINCT event_type FROM counts) t
        CROSS JOIN (SELECT UNNEST(range(1, 10)) AS digit) d
    ),
    filled AS (
        SELECT s.event_type, s.digit, COALESCE(c.k, 0) AS k,
               LOG10(1e0 + 1e0 / s.digit) AS p
        FROM spine s LEFT JOIN counts c
          ON s.event_type = c.event_type AND s.digit = c.digit
    ),
    tot AS (
        SELECT event_type, digit, k, p,
               SUM(k) OVER (PARTITION BY event_type) AS n
        FROM filled
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           {sql_fround('SUM((k - n * p) * (k - n * p) / (n * p))', 6)} AS chi2,
           {sql_fround('MAX(ABS(CAST(k AS DOUBLE) / n - p))', 6)} AS max_abs_dev,
           ({sql_fround('SUM((k - n * p) * (k - n * p) / (n * p))', 6)}
            > {BENFORD_CHI2_CRIT}) AS deviates
    FROM tot
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Benford first-digit audit per event_type: the first "
        "significant digit comes from an exact power-of-ten comparison "
        "ladder (no log10/pow -- libm-free, bit-deterministic on both "
        "engines) for positive values, chi-square against "
        "p_d = log10(1 + 1/d) plus the max absolute frequency "
        "deviation, flagged at the 0.05 critical value (8 dof).  One "
        "keyed (type, digit) count over the corpus; the digit spine is "
        "a broadcast constant (types x 9 rows) so absent digits "
        "contribute their full expected mass; marginals are WINDOW "
        "sums over the grouped relation (no second corpus scan).  The "
        "exact integer counts make everything but the final closed "
        "form deterministic.",
)
def profile_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    # the same comparison-ladder text executes in Spark SQL -- one
    # digit definition, two engines, zero libm
    digit = F.expr(_sql_first_digit()).cast("int")
    counts = e.groupBy("event_type", digit.alias("digit")).agg(
        F.count("*").cast("bigint").alias("k")
    )
    spine = (
        counts.select("event_type").distinct()
        .crossJoin(
            F.broadcast(
                spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
            )
        )
    )
    filled = spine.join(counts, ["event_type", "digit"], "left").select(
        "event_type",
        "digit",
        F.coalesce("k", F.lit(0)).alias("k"),
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")).alias("p"),
    )
    tot = filled.select(
        "*",
        F.sum("k").over(Window.partitionBy("event_type")).alias("n"),
    )
    chi2 = fround(
        F.sum(
            (F.col("k") - F.col("n") * F.col("p"))
            * (F.col("k") - F.col("n") * F.col("p"))
            / (F.col("n") * F.col("p"))
        ),
        6,
    )
    return (
        tot.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            chi2.alias("chi2"),
            fround(
                F.max(F.abs(F.col("k").cast("double") / F.col("n") - F.col("p"))), 6
            ).alias("max_abs_dev"),
            (chi2 > BENFORD_CHI2_CRIT).alias("deviates"),
        )
        .orderBy("event_type")
    )


# ----------------------------------------------------- Cramér's V

# Categorical association strength between the corpus's lang and source
# axes -- the single-number companion to profile_mutual_information's
# per-cell PMI table.  chi-square uses the SAME spine-free identity as
# t-closeness: cells ABSENT from the joint table contribute exactly
# their expected count e = n_x*n_y/n to the statistic ((0-e)^2/e = e),
# and sum-over-all-cells of e equals n, so
#     chi2 = sum_present((n_xy - e)^2 / e) + (n - sum_present(e))
# -- every term lives on an existing joint row, no lang x source cross
# join at any scale.


@register(
    "profile_cramers_v",
    rotation_group=8,
    oracle="""
    WITH joint AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM documents GROUP BY 1, 2
    ),
    win AS (
        SELECT lang, source, n_xy,
               CAST(SUM(n_xy) OVER (PARTITION BY lang) AS BIGINT) AS n_x,
               CAST(SUM(n_xy) OVER (PARTITION BY source) AS BIGINT) AS n_y,
               CAST(SUM(n_xy) OVER () AS BIGINT) AS n
        FROM joint
    ),
    terms AS (
        SELECT lang, source, n,
               (FLOOR((((CAST(n_xy AS DOUBLE)
                           - CAST(n_x AS DOUBLE) * n_y / n)
                          * (CAST(n_xy AS DOUBLE)
                           - CAST(n_x AS DOUBLE) * n_y / n))
                     / (CAST(n_x AS DOUBLE) * n_y / n))
                    * 1000000000e0 + 0.5) / 1000000000e0) AS chi_term,
               (FLOOR((CAST(n_x AS DOUBLE) * n_y / n) * 1000000000e0 + 0.5)
                / 1000000000e0) AS e_term
        FROM win
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS c,
           CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1)
                AS BIGINT) AS dof,
           (FLOOR((CAST(SUM(CAST(chi_term AS DECIMAL(38,9))) AS DOUBLE)
                 + (MAX(n) - CAST(SUM(CAST(e_term AS DECIMAL(38,9)))
                                  AS DOUBLE))) * 1000000e0 + 0.5)
            / 1000000e0) AS chi2,
           (FLOOR((SQRT((CAST(SUM(CAST(chi_term AS DECIMAL(38,9))) AS DOUBLE)
                       + (MAX(n) - CAST(SUM(CAST(e_term AS DECIMAL(38,9)))
                                        AS DOUBLE)))
                      / (MAX(n) * (LEAST(COUNT(DISTINCT lang),
                                         COUNT(DISTINCT source)) - 1))))
                   * 1000000e0 + 0.5) / 1000000e0) AS cramers_v
    FROM terms
    """,
    doc="Cramér's V between the corpus's lang and source columns -- "
        "the bounded [0,1] association strength a mixture designer "
        "checks before treating the two axes as independent sampling "
        "dimensions (V near 0: the axes factorize; near 1: one "
        "determines the other).  chi-square over the joint "
        "contingency grid uses the spine-free absent-cell identity "
        "(missing cells contribute their expected mass e, and total "
        "expected mass is n), so the statistic needs NO lang x source "
        "spine: the corpus is scanned and shuffled exactly once (the "
        "joint groupBy), marginals are window sums over the bounded "
        "grid in the same lineage, and per-cell terms accumulate "
        "through DECIMAL(38,9) so the sum is partition-order exact.",
)
def profile_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    joint = d.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_xy")
    )
    win = joint.select(
        "lang",
        "source",
        "n_xy",
        F.sum("n_xy").over(Window.partitionBy("lang"))
        .cast("bigint").alias("n_x"),
        F.sum("n_xy").over(Window.partitionBy("source"))
        .cast("bigint").alias("n_y"),
        F.sum("n_xy").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    e = F.col("n_x").cast("double") * F.col("n_y") / F.col("n")
    terms = win.select(
        "lang",
        "source",
        "n",
        # (x*x), not pow(x,2): multiply is correctly rounded on both
        # engines, pow is not (the 1-ulp libm license).
        fround(
            (F.col("n_xy").cast("double") - e)
            * (F.col("n_xy").cast("double") - e) / e, 9
        ).alias("chi_term"),
        fround(e, 9).alias("e_term"),
    )
    chi2 = dsum("chi_term", 9) + (F.max("n") - dsum("e_term", 9))
    r, c = F.countDistinct("lang"), F.countDistinct("source")
    return terms.agg(
        F.max("n").cast("bigint").alias("n"),
        r.cast("bigint").alias("r"),
        c.cast("bigint").alias("c"),
        ((r - 1) * (c - 1)).cast("bigint").alias("dof"),
        fround(chi2, 6).alias("chi2"),
        fround(
            F.sqrt(chi2 / (F.max("n") * (F.least(r, c) - 1))), 6
        ).alias("cramers_v"),
    )


# ----------------------------------------------------- Gini concentration

# Inequality of document length per source: the classic rank-weighted
# Gini formula G = sum_i (2i - n - 1) x_(i) / (n * sum x) over lengths
# sorted ascending.  Every term is BIGINT (lengths and ranks are
# integers), so the accumulation is EXACT with no rounding policy --
# ties in x permute equal values across adjacent ranks and leave the
# sum unchanged, making the statistic sort-tie-independent by algebra.


@register(
    "profile_gini_concentration",
    rotation_group=8,
    oracle="""
    WITH ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id) AS i,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
        FROM documents
    )
    SELECT source,
           CAST(MAX(n_s) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           (FLOOR((CAST(SUM((2 * i - n_s - 1) * n_chars) AS DOUBLE)
                 / (MAX(n_s) * CAST(SUM(n_chars) AS DOUBLE)))
                   * 1000000e0 + 0.5) / 1000000e0) AS gini
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    doc="Gini coefficient of document length per source -- the "
        "concentration profile that flags a source whose token mass "
        "is carried by a few huge documents (dedup and packing both "
        "behave differently there).  Rank-weighted closed form over "
        "lengths sorted ascending: ONE corpus shuffle (partition by "
        "source, sort by (n_chars, doc_id) -- the window's sort IS "
        "the only heavy op), every accumulated term an exact BIGINT "
        "product so no float policy is needed, and the output is one "
        "row per source.  Tie order provably cannot change the sum "
        "(equal lengths swap between adjacent ranks), so the doc_id "
        "tiebreak is for determinism of the intermediate, not the "
        "answer.  At 64-bit limits: |term| < 2n * max_len, safe to "
        "~1e13 docs x 1e5 chars; beyond that the sum lifts to "
        "DECIMAL(38,0) unchanged.",
)
def profile_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_src = Window.partitionBy("source")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number().over(w_rank).alias("i"),
        F.count("*").over(w_src).cast("bigint").alias("n_s"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            fround(
                F.sum(
                    (2 * F.col("i") - F.col("n_s") - 1) * F.col("n_chars")
                ).cast("double")
                / (F.max("n_s") * F.sum("n_chars").cast("double")),
                6,
            ).alias("gini"),
        )
        .orderBy("source")
    )


# ------------------------------------------------- robust MAD outliers

MAD_K = 5  # outlier cut: |x - median| > MAD_K * MAD


@register(
    "profile_mad_outliers",
    rotation_group=8,
    oracle=f"""
    WITH ranked AS (
        SELECT event_type, value, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value, event_id) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM events
    ),
    med AS (
        SELECT event_type, n, value AS median
        FROM ranked WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT r.event_type, m.n, m.median,
               ABS(r.value - m.median) AS d,
               ROW_NUMBER() OVER (
                   PARTITION BY r.event_type
                   ORDER BY ABS(r.value - m.median), r.event_id) AS rn
        FROM ranked r JOIN med m ON r.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, n, median, d AS mad
        FROM dev WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type,
           MAX(d.n) AS n,
           MAX(m.median) AS median,
           MAX(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.d > {MAD_K} * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           {sql_fround(f'''CAST(SUM(CASE WHEN d.d > {MAD_K} * m.mad
                               THEN 1 ELSE 0 END)
                      AS DOUBLE) / MAX(d.n)''', 6)} AS outlier_rate
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    doc=f"Robust outlier profile per event_type: EXACT lower median "
        "and exact median absolute deviation by rank selection "
        "(rn = (n+1)//2 over a deterministic (value, event_id) "
        f"order), outliers = values with |x - median| > {MAD_K} x "
        "MAD.  Median/MAD are selection statistics, so unlike the "
        "mean/stddev z-score family (window_rolling_zscore) a single "
        "corrupt extreme cannot drag the threshold -- the standard "
        "robust screen before clipping or winsorizing a feature at "
        "ingest.  Exactness is the point: both engines select the "
        "SAME element (no interpolation, no approximate percentile), "
        "so every output value is a value that exists in the data and "
        "the parity check is bit-trivial.  Scale: two corpus "
        "shuffles, both keyed by event_type (the rank windows); the "
        "medians relation is bounded (one row per type) and "
        "broadcast-joins back onto the deviations in-lineage.  At "
        "extreme per-key cardinality the rank window becomes a "
        "per-key sort -- swap in approx_percentile at a documented "
        "accuracy budget; the exact form is the oracle either way.",
)
def profile_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w_rank = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_n = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_n).cast("bigint").alias("n"),
    )
    # integer lower-median index: (n+1)//2
    med = ranked.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select("event_type", "n", F.col("value").alias("median"))
    dev = ranked.join(F.broadcast(med.drop("n")), "event_type").select(
        "event_type",
        "n",
        "median",
        "event_id",
        F.abs(F.col("value") - F.col("median")).alias("d"),
    )
    w_drank = Window.partitionBy("event_type").orderBy("d", "event_id")
    dev_ranked = dev.withColumn("rn", F.row_number().over(w_drank))
    mad = dev_ranked.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select("event_type", F.col("d").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("median").alias("median"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(F.col("d") > MAD_K * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
            fround(
                F.sum(
                    F.when(F.col("d") > MAD_K * F.col("mad"), 1).otherwise(0)
                ).cast("double")
                / F.max("n"),
                6,
            ).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------- calibration reliability

CALIB_MID = 50.0   # logistic midpoint over the value column
CALIB_SCALE = 20.0
_SQL_CALIB_P = sql_fround(
    f"1e0 / (1e0 + EXP(-(value - {CALIB_MID}) / {CALIB_SCALE}))", 9
)


@register(
    "profile_calibration_bins",
    rotation_group=8,
    oracle=f"""
    WITH scored AS (
        SELECT {_SQL_CALIB_P} AS p,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    binned AS (
        SELECT LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS bin, p, y
        FROM scored
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           (FLOOR(({sql_dsum('p', 9)} / COUNT(*)) * 1000000000e0 + 0.5)
            / 1000000000e0) AS mean_predicted,
           (FLOOR((CAST(SUM(y) AS DOUBLE) / COUNT(*)) * 1000000000e0 + 0.5)
            / 1000000000e0) AS frac_positive,
           (FLOOR(((FLOOR((CAST(SUM(y) AS DOUBLE) / COUNT(*)) * 1000000000e0
                     + 0.5) / 1000000000e0)
             - (FLOOR(({sql_dsum('p', 9)} / COUNT(*)) * 1000000000e0
                      + 0.5) / 1000000000e0)) * 1000000000e0 + 0.5)
            / 1000000000e0) AS gap
    FROM binned GROUP BY 1 ORDER BY 1
    """,
    doc="Reliability-diagram bins for a probabilistic classifier: a "
        "logistic score over the value column vs the observed "
        "purchase outcome, bucketed into 10 equal-width probability "
        "bins with per-bin mean prediction, empirical positive rate, "
        "and the calibration gap (the ECE summand).  The EXP call is "
        "rounded at 9 dp at the source (libm-absorption margin), all "
        "means are order-independent decimal sums, and the gap "
        "subtracts two already-rounded doubles -- bit-identical in "
        "both engines.  One scan, one 10-key aggregation: the "
        "reliability table for any model/corpus size is 10 rows of "
        "state, map-side combinable.",
)
def profile_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = fround(
        1.0 / (1.0 + F.exp(-(F.col("value") - CALIB_MID) / CALIB_SCALE)), 9
    )
    scored = e.select(
        p.alias("p"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bin"),
        "p",
        "y",
    )
    mean_p = fround(dsum("p", 9) / F.count("*"), 9)
    frac = fround(F.sum("y").cast("double") / F.count("*"), 9)
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            mean_p.alias("mean_predicted"),
            frac.alias("frac_positive"),
            fround(frac - mean_p, 9).alias("gap"),
        )
        .orderBy("bin")
    )


# --------------------------------------------- decile drift (exact)

DRIFT_SPLIT_DAYS = 15  # early/late cut: min(ts) + 15 days

# Sketch-served path: fixed-width histogram bins over the value column.
# 0.25 is an exact binary fraction, so FLOOR(value / W) and bin * W are
# bit-identical in Spark and DuckDB (division by a power of two only
# rescales the exponent), and decile values land on exact multiples of
# W -- no rounding ties anywhere.
DRIFT_BIN_W = 0.25
# Above this row count the registered query serves deciles from the
# mergeable histogram (bounded state, no global rank); below it the
# exact-rank form runs -- small enough that a 2-partition rank is free,
# and it doubles as the oracle-matched path at every driver SF
# (sf0.1 events = 1e5 rows, 10x classify = 1e6).
DRIFT_EXACT_MAX_ROWS = 2_000_000


def _drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(half, value, event_id) with half = early/late around the
    MIN(ts) + DRIFT_SPLIT_DAYS cut (broadcast scalar, deterministic)."""
    e = load_table(spark, sf_dir, "events")
    cut = e.agg(
        F.expr(f"MIN(ts) + INTERVAL {DRIFT_SPLIT_DAYS} DAY").alias("cut")
    )
    return e.crossJoin(F.broadcast(cut)).select(
        F.when(F.col("ts") < F.col("cut"), "early")
        .otherwise("late")
        .alias("half"),
        "value",
        "event_id",
    )


@register(
    "profile_quantile_drift",
    rotation_group=8,
    oracle=f"""
    WITH anchor AS (
        SELECT MIN(ts) + INTERVAL {DRIFT_SPLIT_DAYS} DAY AS cut FROM events
    ),
    halves AS (
        SELECT CASE WHEN ts < cut THEN 'early' ELSE 'late' END AS half,
               value, event_id
        FROM events, anchor
    ),
    ranked AS (
        SELECT half, value,
               ROW_NUMBER() OVER (
                   PARTITION BY half ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY half) AS n
        FROM halves
    ),
    qs AS (SELECT unnest(generate_series(1, 9)) AS q),
    picked AS (
        SELECT q.q, r.half, r.value
        FROM ranked r JOIN qs q
          ON r.rn = (r.n - 1) * q.q // 10 + 1
    )
    SELECT q AS decile,
           MAX(CASE WHEN half = 'early' THEN value END) AS v_early,
           MAX(CASE WHEN half = 'late' THEN value END) AS v_late,
           {sql_fround('''MAX(CASE WHEN half = 'late' THEN value END)
                 - MAX(CASE WHEN half = 'early' THEN value END)''', 9)} AS shift
    FROM picked GROUP BY 1 ORDER BY 1
    """,
    doc="Decile-by-decile distribution drift of the value column "
        f"between the stream's first {DRIFT_SPLIT_DAYS} days and the "
        "rest: EXACT deciles by rank (value, event_id tie-break -- "
        "the same rank-exact pattern as the MAD outlier op, so both "
        "engines pick the identical row, no interpolation semantics "
        "to reconcile), one row per decile with the early/late values "
        "and their shift.  The time cut derives from MIN(ts) -- "
        "deterministic, not wall-clock.  Size-dispatched serving: the "
        f"exact per-half rank runs only below {DRIFT_EXACT_MAX_ROWS} "
        "rows (where a 2-partition sort is free, and where the driver "
        "gate oracle-matches it); above that the query serves the "
        "mergeable histogram form (profile_quantile_drift_sketch), so "
        "no global rank ever touches a 100 TB table.",
)
def profile_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Size-dispatched serving: the exact-rank form below DRIFT_EXACT_MAX_ROWS
    # (oracle-matched at every test SF), the mergeable histogram above it --
    # so the registered query never runs a whole-table rank in 2 partitions
    # at scale.  The count is one parquet-metadata-cheap action.
    e = load_table(spark, sf_dir, "events")
    if not serve_exact(
        "profile_quantile_drift", e.count(), DRIFT_EXACT_MAX_ROWS
    ):
        return quantile_drift_sketch_plan(spark, sf_dir)
    return quantile_drift_exact_plan(spark, sf_dir)


def quantile_drift_exact_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deciles by per-half rank.  Correct at any size but the
    rank sorts each half in ONE task -- small-input oracle only; the
    serving path (profile_quantile_drift) switches to the histogram
    above DRIFT_EXACT_MAX_ROWS."""
    from pyspark.sql.window import Window

    halves = _drift_halves(spark, sf_dir)
    w = Window.partitionBy("half").orderBy("value", "event_id")
    ranked = halves.select(
        "half",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("half")).alias("n"),
    )
    qs = spark.range(1, 10).select(F.col("id").cast("int").alias("q"))
    # BIGINT-exact rank target: integer div, no float rounding at any n
    picked = ranked.join(
        F.broadcast(qs), F.col("rn") == F.expr("(n - 1) * q div 10") + 1
    )
    early = F.max(F.when(F.col("half") == "early", F.col("value")))
    late = F.max(F.when(F.col("half") == "late", F.col("value")))
    return (
        picked.groupBy(F.col("q").alias("decile"))
        .agg(
            early.alias("v_early"),
            late.alias("v_late"),
            fround(late - early, 9).alias("shift"),
        )
        .orderBy("decile")
    )


@register(
    "profile_quantile_drift_sketch",
    rotation_group=9,
    oracle=f"""
    WITH anchor AS (
        SELECT MIN(ts) + INTERVAL {DRIFT_SPLIT_DAYS} DAY AS cut FROM events
    ),
    halves AS (
        SELECT CASE WHEN ts < cut THEN 'early' ELSE 'late' END AS half, value
        FROM events, anchor
    ),
    hist AS (
        SELECT half, CAST(FLOOR(value / {DRIFT_BIN_W}e0) AS BIGINT) AS bin,
               COUNT(*) AS cnt
        FROM halves GROUP BY 1, 2
    ),
    cum AS (
        SELECT half, bin, cnt,
               SUM(cnt) OVER (PARTITION BY half ORDER BY bin) AS cum,
               SUM(cnt) OVER (PARTITION BY half) AS n
        FROM hist
    ),
    qs AS (SELECT unnest(generate_series(1, 9)) AS q),
    picked AS (
        SELECT q.q, c.half, CAST(c.bin AS DOUBLE) * {DRIFT_BIN_W}e0 AS v
        FROM cum c JOIN qs q
          ON c.cum >= (c.n - 1) * q.q // 10 + 1
         AND c.cum - c.cnt < (c.n - 1) * q.q // 10 + 1
    )
    SELECT q AS decile,
           MAX(CASE WHEN half = 'early' THEN v END) AS v_early,
           MAX(CASE WHEN half = 'late' THEN v END) AS v_late,
           {sql_fround('''MAX(CASE WHEN half = 'late' THEN v END)
                 - MAX(CASE WHEN half = 'early' THEN v END)''', 9)} AS shift
    FROM picked GROUP BY 1 ORDER BY 1
    """,
    doc="Scale-safe decile drift: the same early/late split as "
        "profile_quantile_drift, but deciles served from a mergeable "
        f"fixed-width histogram (bin width {DRIFT_BIN_W}, an exact "
        "binary fraction so both engines floor-bin every double "
        "identically).  The raw table collapses to (half, bin) counts "
        "in ONE map-side-combinable aggregation; the cumulative walk "
        "and the decile pick then run over the bounded bin relation "
        "(hundreds of rows however large the input), so no global "
        "rank ever touches raw rows.  Each decile is the lower edge "
        "of the bin containing its exact rank target -- error <= one "
        "bin width by construction, deterministic (no interpolation, "
        "no rounding ties: every output is an exact multiple of the "
        "bin width).  This is the form profile_quantile_drift itself "
        f"serves above {DRIFT_EXACT_MAX_ROWS} rows.",
)
def profile_quantile_drift_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return quantile_drift_sketch_plan(spark, sf_dir)


def quantile_drift_sketch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    halves = _drift_halves(spark, sf_dir)
    # One shuffle, map-side combinable: raw rows -> (half, bin) counts.
    hist = halves.groupBy(
        "half",
        F.floor(F.col("value") / DRIFT_BIN_W).cast("bigint").alias("bin"),
    ).agg(F.count("*").alias("cnt"))
    # Windows below operate on the BOUNDED bin relation (state is the
    # bin count, not the row count) -- safe at any input size.
    cum = hist.select(
        "half",
        "bin",
        "cnt",
        F.sum("cnt")
        .over(Window.partitionBy("half").orderBy("bin"))
        .alias("cum"),
        F.sum("cnt").over(Window.partitionBy("half")).alias("n"),
    )
    qs = spark.range(1, 10).select(F.col("id").cast("int").alias("q"))
    tgt = F.expr("(n - 1) * q div 10") + 1
    # The decile's rank target falls inside exactly one bin per half:
    # prev cumulative < target <= cumulative.
    picked = cum.join(
        F.broadcast(qs),
        (F.col("cum") >= tgt) & (F.col("cum") - F.col("cnt") < tgt),
    ).select("q", "half", (F.col("bin") * F.lit(DRIFT_BIN_W)).alias("v"))
    early = F.max(F.when(F.col("half") == "early", F.col("v")))
    late = F.max(F.when(F.col("half") == "late", F.col("v")))
    return (
        picked.groupBy(F.col("q").alias("decile"))
        .agg(
            early.alias("v_early"),
            late.alias("v_late"),
            fround(late - early, 9).alias("shift"),
        )
        .orderBy("decile")
    )


# ------------------------- differentially-private count release

# Laplace-mechanism count release (sensitivity 1, the canonical DP
# histogram): noised = max(0, round(count + Lap(1/eps))).  The noise
# variate is drawn by inverse CDF from a salted-md5 uniform -- SEEDED,
# so the release is reproducible across reruns and engines; a seeded
# draw voids the formal DP guarantee (the adversary can re-derive the
# noise), so production swaps _dp_uniform's hash for a CSPRNG and
# keeps EVERYTHING else.  Determinism device: the inverse CDF is
# evaluated over a 1999-point QUANTIZED uniform grid at module import
# and shipped as a literal noise TABLE (a broadcast artifact joined by
# grid index), so no runtime ln() is evaluated in either engine --
# cross-engine log implementations differ in the last ulp, a literal
# double does not.
DP_EPSILON = 1.0
_DP_GRID = 1999  # u_milli in [-999, 999]: |u| <= 0.4995, ln never hits 0


def _dp_noise_table() -> list[float]:
    """noise[idx] = -b * sign(u) * ln(1 - 2|u|), u = (idx - 999)/2000."""
    import math

    b = 1.0 / DP_EPSILON
    out = []
    for idx in range(_DP_GRID):
        u = (idx - 999) / 2000.0
        mag = -b * math.log(1.0 - 2.0 * abs(u))
        out.append(mag if u > 0 else (-mag if u < 0 else 0.0))
    return out


_DP_NOISE = _dp_noise_table()


def _sql_dp_noise_values() -> str:
    return ", ".join(f"({i}, {v!r})" for i, v in enumerate(_DP_NOISE))


@register(
    "privacy_dp_noised_counts",
    rotation_group=11,
    oracle=f"""
    WITH noise(idx, n) AS (VALUES {_sql_dp_noise_values()}),
    days AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS date
        FROM events
    ),
    counts AS (
        SELECT event_type, date, COUNT(*) AS c,
               CAST(CAST('0x' || substr(md5('dp:' || event_type || '|' ||
                    strftime(date, '%Y-%m-%d')), 1, 8)
                    AS BIGINT) % {_DP_GRID} AS BIGINT) AS idx
        FROM days GROUP BY 1, 2
    )
    SELECT c.event_type, c.date,
           CAST(GREATEST(0, {sql_fround('c.c + n.n', 0)}) AS BIGINT)
             AS noised_count,
           CAST({DP_EPSILON} AS DOUBLE) AS epsilon
    FROM counts c JOIN noise n ON c.idx = n.idx
    ORDER BY c.event_type, c.date
    """,
    doc=f"Differentially-private daily count release (Laplace "
        f"mechanism, sensitivity 1, epsilon {DP_EPSILON:g}): noised = "
        "max(0, round(count + Lap(1/eps))), true counts never emitted. "
        "The variate comes from a salted-md5 uniform quantized to a "
        f"{_DP_GRID}-point grid whose inverse-CDF values are computed "
        "once at import and joined as a literal noise table -- no "
        "runtime ln(), so both engines add the bit-identical double "
        "(SEEDED and therefore reproducible; production swaps the "
        "hash for a CSPRNG and keeps the mechanism).  Scale: the "
        "noise table is a ~2k-row broadcast; the release is one keyed "
        "aggregation plus a map-side join -- DP post-processing "
        "(clamp, round) is free.",
)
def privacy_dp_noised_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # local_df: the ~2k-row noise table is broadcast-joined; Arrow form
    # evaluates JVM-side per build (functions/localrel.py).
    spark_noise = local_df(
        e.sparkSession, list(enumerate(_DP_NOISE)), "idx int, n double"
    )
    idx = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp:"),
                        F.col("event_type"),
                        F.lit("|"),
                        F.date_format("date", "yyyy-MM-dd"),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _DP_GRID
    ).cast("int")
    counts = (
        e.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("date")
        )
        .agg(F.count("*").alias("c"))
        .withColumn("idx", idx)
    )
    return (
        counts.join(F.broadcast(spark_noise), "idx")
        .select(
            "event_type",
            "date",
            F.greatest(F.lit(0), fround(F.col("c") + F.col("n"), 0))
            .cast("bigint")
            .alias("noised_count"),
            F.lit(float(DP_EPSILON)).alias("epsilon"),
        )
        .orderBy("event_type", "date")
    )
