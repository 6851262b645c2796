"""Data-layout keys: Z-order (Morton) interleaving for multi-dimensional
file clustering.

The reference gets its locality from ONE hand-designed HBase rowkey per
table (``lib/hbase/hbase-thrift/data.js`` rowkey prefixes: time-major
for ledgers, account-major for account_tx) -- a query filtering on the
*other* dimension scans everything.  Columnar lakes solve this with a
space-filling curve: write files sorted by an interleaved key and
parquet min/max stats prune on BOTH dimensions at once.  This module
computes that key.

Codes are EQUAL-FREQUENCY (rank-based ntile), not equal-width: a skewed
measure (value here is long-tailed) collapses equal-width buckets onto
a few codes and the curve degenerates to single-dimension sorting --
measured, which is why this operator ranks.  The registered form uses
exact NTILE(256) so the code assignment is all-integer and
driver-verifiable bit-for-bit (cross-engine quantile INTERPOLATION
differs by ulps -- measured 2-13 boundary mismatches per 255 -- so
interpolated boundaries are deliberately avoided).

Scale design (100 TB): at cluster scale the exact ntile's global sort is
replaced by a broadcast boundary artifact -- IMPLEMENTED below as
:func:`zorder_scale_key`: approxQuantile boundaries computed once
(train-once, like the quantization ranges artifact), code = count of
boundaries below the value over the broadcast literal array; the key
then stays a zero-shuffle projection (plan-asserted,
tests/test_zorder_scale.py) and the write path is
``repartitionByRange(N, "zkey").sortWithinPartitions("zkey")`` -- one
write-time range shuffle buys bounded per-file min/max envelopes on
every interleaved dimension.
tests/test_invariants.py asserts the pruning benefit on real written
parquet files: against each single-dimension-sorted layout, the Z-order
layout must let a min/max-pruned scan skip files for BOTH predicates.

Determinism: NTILE over a total order (ts/value with event_id
tie-break) is integer-exact in any engine; the Morton interleave is a
generated sum of disjoint power-of-two terms (addition of disjoint bits
== bitwise OR, exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dispatch import serve_exact
from ..plans.registry import register
from ..sources.catalog import load_table

Z_BITS = 8  # 8 bits per dimension -> 16-bit Morton key
M = 2 ** Z_BITS

# Size-dispatch threshold (same contract as profiling's
# DRIFT_EXACT_MAX_ROWS): the exact-NTILE key -- a one-task sort per
# dimension, but bit-exact across engines -- serves only below this;
# above it the registered queries serve the train-once boundary-
# artifact forms (zorder_scale_key / hilbert_scale_key), whose key is
# a zero-shuffle projection.  Every driver-tested SF (incl. the 10x
# dataset's 1 M events) stays below the cut, so the oracles keep
# matching the exact form.
LAYOUT_EXACT_MAX_ROWS = 2_000_000

# approxQuantile relative error of the scale forms' boundary artifact.
QUANTILE_REL_ERR = 0.001


def _morton_terms(cu: str, cv: str, spark_side: bool) -> str:
    """Render sum-of-disjoint-bits Morton interleave; same structure in
    both engines (Spark: shiftleft/shiftright fns, DuckDB: << >> ops)."""
    terms = []
    for i in range(Z_BITS):
        if spark_side:
            terms.append(f"shiftleft(shiftright({cu}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({cv}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({cu} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({cv} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "layout_zorder_key",
    rotation_group=2,
    oracle=f"""
    WITH coded AS (
        SELECT event_id,
               NTILE({M}) OVER (ORDER BY ts, event_id) - 1 AS code_t,
               NTILE({M}) OVER (ORDER BY value, event_id) - 1 AS code_v
        FROM events
    )
    SELECT event_id, code_t, code_v,
           CAST({_morton_terms('code_t', 'code_v', spark_side=False)}
                AS BIGINT) AS zkey
    FROM coded
    ORDER BY zkey, event_id
    """,
    doc="Z-order (Morton) layout key over equal-frequency (time, value) "
        "rank buckets: interleave 8 bits of each dimension so sorting "
        "by zkey co-locates rows close in BOTH dimensions -- the multi-"
        "dimensional generalization of the reference's single rowkey "
        "prefix (data.js time-major/account-major keys).  Writing "
        "repartitionByRange(zkey).sortWithinPartitions(zkey) gives "
        "every parquet file a bounded min/max envelope on time AND "
        "value, so either predicate prunes files at scan time "
        "(asserted on real written files).  Rank-based codes keep the "
        "curve non-degenerate under value skew.  Size-dispatched "
        "serving: the exact ntile (this oracle's form) runs only below "
        "LAYOUT_EXACT_MAX_ROWS; above it the registered query serves "
        "zorder_scale_key -- the train-once broadcast approx-quantile "
        "boundary artifact, a zero-shuffle key projection.",
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Size-dispatched serving, same contract as profile_quantile_drift:
    # exact NTILE (oracle-matched, but a one-task sort per dimension)
    # only below LAYOUT_EXACT_MAX_ROWS; above it the registered query
    # serves the train-once boundary-artifact form, so the key is a
    # zero-shuffle projection and no global sort ever touches a 100 TB
    # events table.
    e = load_table(spark, sf_dir, "events")
    if not serve_exact("layout_zorder_key", e.count(), LAYOUT_EXACT_MAX_ROWS):
        return zorder_scale_key(e).orderBy("zkey", "event_id")
    w_t = Window.orderBy("ts", "event_id")
    w_v = Window.orderBy("value", "event_id")
    coded = e.select(
        "event_id",
        (F.ntile(M).over(w_t) - 1).alias("code_t"),
        (F.ntile(M).over(w_v) - 1).alias("code_v"),
    )
    return coded.selectExpr(
        "event_id",
        "code_t",
        "code_v",
        f"CAST({_morton_terms('code_t', 'code_v', spark_side=True)} AS BIGINT)"
        " AS zkey",
    ).orderBy("zkey", "event_id")


def _quantile_codes(df: DataFrame) -> DataFrame:
    """Train-once equal-frequency grid codes: one approxQuantile pass
    per dimension yields M-1 boundaries (a driver-side constant of
    2*(M-1) doubles); assignment is code = #(boundaries <= x) as an
    array-lambda over the broadcast literal array -- a zero-shuffle
    projection shared by both curve keys' scale forms."""
    num = df.select(
        "event_id",
        F.col("ts").cast("double").alias("_t"),
        F.col("value").cast("double").alias("_v"),
    )
    probs = [i / M for i in range(1, M)]
    b_t, b_v = (
        num.stat.approxQuantile(c, probs, QUANTILE_REL_ERR)
        for c in ("_t", "_v")
    )

    def code(col: str, bounds: list[float]) -> F.Column:
        arr = F.array(*[F.lit(b) for b in bounds])
        return F.size(F.filter(arr, lambda b: b <= F.col(col)))

    return num.select(
        "event_id",
        code("_t", b_t).alias("code_t"),
        code("_v", b_v).alias("code_v"),
    )


def zorder_scale_key(df: DataFrame) -> DataFrame:
    """The 100 TB form the module doc describes, implemented: the exact
    ntile's global sort is replaced by a TRAIN-ONCE boundary artifact --
    one approxQuantile pass yields M-1 boundaries per dimension (a
    driver-side constant of 2*(M-1) doubles, the same shape as the
    quantization-ranges artifact), and the code assignment becomes a
    zero-shuffle projection: code = #(boundaries <= x), evaluated as an
    array-lambda over the broadcast literal boundary array.  Not
    registered as its OWN driver query (approx-quantile boundaries are
    not bit-reproducible across engines -- the module doc's measured
    2-13/255 mismatches -- so the exact-NTILE form keeps the oracle);
    the registered layout_zorder_key size-dispatches to this form above
    LAYOUT_EXACT_MAX_ROWS, and this form carries the plan/quality laws
    (tests/test_zorder_scale.py: zero exchanges in the key plan, codes
    within one bucket of the exact ranks, balanced occupancy; the
    dispatch itself is pinned in tests/test_round10_ops.py).
    """
    return _quantile_codes(df).selectExpr(
        "event_id",
        "code_t",
        "code_v",
        f"CAST({_morton_terms('code_t', 'code_v', spark_side=True)} AS BIGINT)"
        " AS zkey",
    )


# --------------------------------------------- Hilbert curve layout

# The Hilbert curve is the locality upgrade over the Morton curve: a
# Z-order key jumps across the grid at every quadrant seam (the "Z"
# diagonal), while the Hilbert walk is fully contiguous -- adjacent
# key ranges are always adjacent cells, which tightens per-file
# min/max envelopes for range scans on BOTH dimensions (why Delta/
# Databricks added HILBERT over ZORDER).  The transform is the
# classic per-level quadrant fold (Wikipedia xy2d): 8 unrolled levels
# of pure integer CASE/FLOOR/modulo arithmetic -- the SAME generated
# expression text runs in Spark (selectExpr) and DuckDB (chained
# CTEs), so the key is verified bit-exact by construction, like the
# Morton term generator above.

H_SIDE = M  # 2^Z_BITS x 2^Z_BITS grid, same resolution as the Z key


def _hilbert_level(s: int) -> tuple[str, str, str, str, str]:
    """(rx, ry, d_increment, new_hx, new_hy) expression text for one
    fold level at side s; references columns hx, hy, rx, ry."""
    rx = f"CAST(FLOOR(hx / {s}) AS INT) % 2"
    ry = f"CAST(FLOOR(hy / {s}) AS INT) % 2"
    quad = ("CASE WHEN rx = 1 AND ry = 1 THEN 2 WHEN rx = 1 THEN 3 "
            "WHEN ry = 1 THEN 1 ELSE 0 END")
    d_inc = f"d + {s * s} * ({quad})"
    nhx = (f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {H_SIDE - 1} - hy "
           "ELSE hy END) ELSE hx END")
    nhy = (f"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN {H_SIDE - 1} - hx "
           "ELSE hx END) ELSE hy END")
    return rx, ry, d_inc, nhx, nhy


def _sql_hilbert_ctes() -> str:
    """lvl0..lvlN CTE chain from `coded` (event_id, hx, hy)."""
    parts = ["lvl0 AS (SELECT event_id, hx AS ox, hy AS oy, 0 AS d, hx, hy"
             " FROM coded)"]
    for k, s in enumerate(2 ** b for b in reversed(range(Z_BITS))):
        rx, ry, d_inc, nhx, nhy = _hilbert_level(s)
        parts.append(
            f"lvl{k + 1} AS (SELECT event_id, ox, oy, {d_inc} AS d,"
            f" {nhx} AS hx, {nhy} AS hy FROM (SELECT *, {rx} AS rx,"
            f" {ry} AS ry FROM lvl{k}))"
        )
    return ",\n    ".join(parts)


@register(
    "layout_hilbert_key",
    rotation_group=6,
    oracle=f"""
    WITH coded AS (
        SELECT event_id,
               NTILE({M}) OVER (ORDER BY ts, event_id) - 1 AS hx,
               NTILE({M}) OVER (ORDER BY value, event_id) - 1 AS hy
        FROM events
    ),
    {_sql_hilbert_ctes()}
    SELECT event_id, ox AS code_t, oy AS code_v,
           CAST(d AS BIGINT) AS hkey
    FROM lvl{Z_BITS}
    ORDER BY hkey, event_id
    """,
    doc="Hilbert-curve layout key over the same equal-frequency "
        "(time, value) rank codes as layout_zorder_key: the "
        "space-filling curve with no quadrant seams, so consecutive "
        "key ranges are geometrically contiguous cells and per-file "
        "min/max envelopes are tighter than the Z curve's on both "
        "dimensions (tests/test_invariants.py asserts the seam gap "
        "directly: max adjacent-key grid distance is 1 for Hilbert vs "
        f"{M} for Morton at this resolution).  Eight unrolled "
        "quadrant-fold levels of integer CASE arithmetic, generated "
        "once and rendered into BOTH engines -- like the Morton term "
        "generator, the key stays a zero-shuffle projection over the "
        "coded inputs (size-dispatched above LAYOUT_EXACT_MAX_ROWS to "
        "hilbert_scale_key's boundary artifact, like "
        "layout_zorder_key), and the write path "
        "is the same repartitionByRange(hkey) + sortWithinPartitions.",
)
def layout_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Size-dispatched like layout_zorder_key: exact NTILE below
    # LAYOUT_EXACT_MAX_ROWS (the oracle-matched form), the broadcast
    # quantile-boundary artifact above it.
    e = load_table(spark, sf_dir, "events")
    if not serve_exact(
        "layout_hilbert_key", e.count(), LAYOUT_EXACT_MAX_ROWS
    ):
        return hilbert_scale_key(e).orderBy("hkey", "event_id")
    w_t = Window.orderBy("ts", "event_id")
    w_v = Window.orderBy("value", "event_id")
    coded = e.select(
        "event_id",
        (F.ntile(M).over(w_t) - 1).alias("code_t"),
        (F.ntile(M).over(w_v) - 1).alias("code_v"),
    )
    return _hilbert_fold(coded).orderBy("hkey", "event_id")


def _hilbert_fold(coded: DataFrame) -> DataFrame:
    """(event_id, code_t, code_v) -> + hkey via the unrolled quadrant
    folds; pure projections, shared by the exact and scale forms."""
    df = coded.selectExpr(
        "event_id", "code_t", "code_v", "0 AS d",
        "code_t AS hx", "code_v AS hy",
    )
    for s in (2 ** b for b in reversed(range(Z_BITS))):
        rx, ry, d_inc, nhx, nhy = _hilbert_level(s)
        df = df.selectExpr(
            "event_id", "code_t", "code_v", "d", "hx", "hy",
            f"{rx} AS rx", f"{ry} AS ry",
        ).selectExpr(
            "event_id", "code_t", "code_v",
            f"{d_inc} AS d", f"{nhx} AS hx", f"{nhy} AS hy",
        )
    return df.selectExpr(
        "event_id", "code_t", "code_v", "CAST(d AS BIGINT) AS hkey"
    )


def hilbert_scale_key(df: DataFrame) -> DataFrame:
    """Scale form of layout_hilbert_key, same contract as
    zorder_scale_key: the exact ntile's global sort is replaced by the
    train-once approx-quantile boundary artifact (2*(M-1) broadcast
    doubles), after which the fold is a zero-shuffle projection.  Not
    registered as its own driver query (approx boundaries are not
    bit-reproducible across engines); layout_hilbert_key dispatches
    here above LAYOUT_EXACT_MAX_ROWS, and the plan/quality laws live
    in tests/test_zorder_scale.py + tests/test_round10_ops.py."""
    return _hilbert_fold(_quantile_codes(df))
