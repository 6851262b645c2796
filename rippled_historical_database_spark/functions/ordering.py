"""Scale-safe exact global ordering: row numbers and running sums
over a TOTAL order without a single-partition sort.

``Window.orderBy(...)`` with no partition spec is semantically a global
rank but physically a one-task sort: Spark moves EVERY row into a
single partition (WindowExec warns "No Partition Defined ... Moving
all data to a single partition").  Fine over a bounded artifact (a
top-K cut, a histogram, per-partition offsets); a scale killer over an
unbounded relation -- the defect class the round-9 verdict flagged on
``profile_quantile_drift``'s 2-partition rank.

The exact two-pass scheme (zipWithIndex's), with the partition id
replaced by a DATA-DERIVED bucket:

1. Sample the order's leading PREFIX -- its first two columns, or the
   only one -- once at plan-construction time (one bounded TakeOrdered
   job: the bottom ``SAMPLE_ROWS`` rows by xxhash64 of the prefix) and
   embed up to num_buckets - 1 boundary tuples as literals.  The bucket
   is then a pure projection of the row -- every branch and every
   recomputation of the plan assigns the same bucket to the same row.
   (The first implementation used ``spark_partition_id()`` after
   ``repartitionByRange``; that id is an EXECUTION artifact -- AQE may
   coalesce each consumer's shuffle read differently and range
   boundaries are runtime-sampled per branch -- so the offsets branch
   and the main branch could disagree.  Caught by the
   sorted-neighborhood 10x oracle run: the pair count drifted between
   executions.)
2. Per-bucket totals -- one map-side-combinable aggregation yielding
   at most ``num_buckets`` rows.
3. Exclusive prefix offsets over that bounded relation (the one
   remaining unpartitioned window runs over <= num_buckets rows),
   broadcast back, and a within-bucket window keyed by the bucket.

A row's bucket is the number of boundaries its prefix is STRICTLY
past in the order's direction.  "Past" is a never-null predicate that
follows Spark's default null order (ascending: nulls first;
descending: nulls last), so a null prefix column sorts exactly where
the within-bucket window puts it -- e.g. under a descending tie-break
a null tie is past every boundary of its lead value.  The count is
monotone in the total order and rows tied on the prefix land in the
same bucket, so the within-bucket sort (over the full order) settles
them and the result is exact for ANY boundary sample; sampling quality
affects only balance.  Because the prefix includes the first
tie-break, a hot lead value splits across buckets by that tie-break
(the round-14 skew probe: 80% of documents on ONE blocking key
serialized the sorted-neighborhood rank into one 7.2 s task when only
the lead was bucketed).  Cost shape at 100 TB: one bounded TakeOrdered
sample collect + one hash shuffle on the bucket, all fully parallel --
versus the naive form's single task sorting the entire table.

Requirement: the full order must be TOTAL (include a unique
tie-break), or different engines/runs may disagree on tie order.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_B = "__gord_bucket"
SAMPLE_ROWS = 4096  # boundary-sample size; affects balance only

OrderSpec = "str | tuple[str, str]"  # "col" (asc) or ("col", "desc")


def _parse_order(order) -> list[tuple[str, bool]]:
    """-> [(column name, descending?)] in order."""
    return [
        (o[0], str(o[1]).lower().startswith("desc"))
        if isinstance(o, tuple)
        else (o, False)
        for o in order
    ]


def _cmp(a: tuple, b: tuple, prefix: list[tuple[str, bool]]) -> int:
    """Driver-side comparison of two prefix tuples in the order's
    direction and Spark's default null order."""
    for x, y, (_, desc) in zip(a, b, prefix):
        if x == y:
            continue
        if x is None or y is None:
            first = (x is None) != desc  # asc: nulls first; desc: last
            return -1 if first else 1
        return (-1 if x < y else 1) * (-1 if desc else 1)
    return 0


def _boundaries(df: DataFrame, prefix, num_buckets: int) -> list[tuple]:
    """Train-once boundary artifact: a deterministic uniform sample of
    the prefix (ONE bounded TakeOrdered job -- bottom SAMPLE_ROWS rows
    by xxhash64), sorted in the order's direction and thinned to
    <= num_buckets - 1 distinct boundary tuples."""
    cols = [F.col(c) for c, _ in prefix]
    sample = [
        tuple(r)
        for r in df.select(*cols)
        .orderBy(F.xxhash64(*cols), *cols)
        .limit(SAMPLE_ROWS)
        .collect()
    ]
    sample.sort(key=functools.cmp_to_key(lambda a, b: _cmp(a, b, prefix)))
    step = max(1, len(sample) // num_buckets)
    bounds: list[tuple] = []
    for i in range(step, len(sample), step):
        if len(bounds) >= num_buckets - 1:
            break
        if not bounds or sample[i] != bounds[-1]:
            bounds.append(sample[i])
    return bounds


def _past(col: Column, b, desc: bool) -> Column:
    """Never-null ``col`` strictly after literal ``b`` in the sort
    direction (ascending: nulls first; descending: nulls last)."""
    if b is None:
        return F.lit(False) if desc else col.isNotNull()
    if desc:
        return F.coalesce(col < F.lit(b), F.lit(True))
    return F.coalesce(col > F.lit(b), F.lit(False))


def _with_bucket(
    df: DataFrame, order, num_buckets: int | None
) -> tuple[DataFrame, list[Column]]:
    spec = _parse_order(order)
    prefix = spec[:2]
    nb = num_buckets or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    bucket = F.lit(0)
    for bound in _boundaries(df, prefix, nb):
        # lexicographic strict "past" over the prefix, innermost first
        past = F.lit(False)
        for (c, desc), b in reversed(list(zip(prefix, bound))):
            past = _past(F.col(c), b, desc) | (
                F.col(c).eqNullSafe(F.lit(b)) & past
            )
        bucket = bucket + F.when(past, 1).otherwise(0)
    cols = [F.col(c).desc() if d else F.col(c).asc() for c, d in spec]
    return df.withColumn(_B, bucket), cols


def _offsets(
    t: DataFrame, aggs: list[Column], offs: list[tuple[str, str]]
) -> DataFrame:
    """Per-bucket totals -> exclusive prefix sums, one row per bucket
    (bounded by num_buckets, so the unpartitioned window here is over
    a bounded artifact)."""
    w_prev = Window.orderBy(_B).rowsBetween(Window.unboundedPreceding, -1)
    totals = t.groupBy(_B).agg(*aggs)
    return totals.select(
        _B,
        *(
            F.coalesce(F.sum(tot).over(w_prev), F.lit(0)).alias(off)
            for tot, off in offs
        ),
    )


def global_row_number(
    df: DataFrame,
    order,
    out_col: str = "rn",
    num_buckets: int | None = None,
) -> DataFrame:
    """``df`` + BIGINT ``out_col`` = exact 1-based global row number.

    ``order``: list of column names, each optionally ``(name, "desc")``
    -- must form a total order.  No one-task sort: see module doc.
    """
    t, cols = _with_bucket(df, order, num_buckets)
    offsets = _offsets(
        t, [F.count(F.lit(1)).alias("__n")], [("__n", "__off")]
    )
    w_in = Window.partitionBy(_B).orderBy(*cols)
    return (
        t.join(F.broadcast(offsets), _B)
        .withColumn(
            out_col,
            (F.row_number().over(w_in) + F.col("__off")).cast("bigint"),
        )
        .drop(_B, "__off")
    )


def global_running_sums(
    df: DataFrame,
    order,
    sums: dict[str, Column | str],
    num_buckets: int | None = None,
) -> DataFrame:
    """``df`` + one inclusive global running-sum column per ``sums``
    entry ({out_col: summed expression}), cumulated in ``order`` (a
    total order; same spec syntax as global_row_number).  Exact for
    integer/decimal inputs (addition is associative, so the two-pass
    split cannot change the value); for DOUBLE inputs route through
    the house DECIMAL accumulator first."""
    items = [
        (out, F.col(e) if isinstance(e, str) else e)
        for out, e in sums.items()
    ]
    t, cols = _with_bucket(df, order, num_buckets)
    offsets = _offsets(
        t,
        [F.sum(e).alias(f"__t_{out}") for out, e in items],
        [(f"__t_{out}", f"__off_{out}") for out, _ in items],
    )
    w_in = Window.partitionBy(_B).orderBy(*cols)
    res = t.join(F.broadcast(offsets), _B)
    for out, e in items:
        res = res.withColumn(
            out, F.sum(e).over(w_in) + F.col(f"__off_{out}")
        )
    return res.drop(_B, *(f"__off_{out}" for out, _ in items))
