"""Table catalog over the driver-provided parquet tables.

The reference's ~50 HBase tables with handcrafted composite string row keys
(``lib/hbase/hbase-thrift/data.js:2625-3087``) collapse in Spark to plain
columnar tables with typed columns; the rowkey apparatus (zero-padded
numerics, YYYYMMDDHHmmss strings, inverse timestamps) is replaced by
ordinary ORDER BY / WHERE on typed columns, which Catalyst pushes down to
the parquet scan (predicate pushdown + column pruning for free).

Schemas are declared explicitly (never inferred) so a bad file fails fast
at read time -- the reference's stringly-typed cells required ``Number()``
coercion at ~50 read sites (``data.js:193-217``); explicit StructType
removes that class of bug.

At 100 TB these tables would be date-partitioned (events by day,
lineitem by ship month) and bucketed on their join keys; the loader keeps
a single read path so the same plans work on a directory of partitioned
parquet as on the single-file test inputs.
"""

from __future__ import annotations

import functools
import glob
import os
import warnings

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Explicit schema per table (matches the driver-generated parquet;
# see TESTDATA.md).  ts fields are parquet TIMESTAMP which Spark reads as
# TimestampType in the UTC session zone.
TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.ts physical precision varies between testdata generations
    # (TIMESTAMP(NANOS) vs timestamp[us]); load_table inspects the parquet
    # footer and only applies the nanos->micros shim when the file really
    # is nanos.  The logical schema here is the post-load shape.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# An event's synthetic counterparty (events have no second party): pure
# integer arithmetic, identical in any engine.  SQL_COUNTERPARTY is the
# oracle-SQL text, counterparty() the same expression as a Column.
SQL_COUNTERPARTY = "(user_id + event_id % 7 + 1) % 15"


def counterparty() -> Column:
    return (F.col("user_id") + F.col("event_id") % 7 + 1) % 15


def sort_key() -> Column:
    """An event's position in the trade order: the (executed_time,
    ledger_index, tx_index, node_index) analog is (ts, event_id), and
    event_id is globally unique, so open/close/latest picks are
    deterministic.  Packed into one DECIMAL(38,0) scalar (micros * 1e8 +
    event_id, which orders exactly like (ts, event_id)): a struct
    ordering key forces SortAggregate, a fixed-width scalar keeps
    ``min_by``/``max_by`` hash-aggregable -- O(n) instead of a
    per-partition sort."""
    return (
        F.unix_micros(F.col("ts")).cast("decimal(38,0)") * 100_000_000
        + F.col("event_id")
    )


DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _ts_is_nanos(path: str) -> bool:
    """True iff the parquet footer declares events.ts as TIMESTAMP(NANOS).

    Spark has no nanosecond timestamp type: with
    ``spark.sql.legacy.parquet.nanosAsLong`` a nanos column surfaces as a
    raw long that must be truncated to micros by hand, while a
    micros/millis column reads directly as TimestampType.  The driver's
    testdata generator has emitted both precisions across rounds, so the
    loader checks one footer instead of assuming either.  The verdict is
    cached by (file, mtime) so an in-place regeneration with the other
    precision re-sniffs instead of reusing a stale answer.
    """
    target = path
    if os.path.isdir(path):
        inner = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not inner:
            return False
        target = inner[0]
    try:
        return _ts_is_nanos_cached(target, os.stat(target).st_mtime_ns)
    except ImportError:
        # pyarrow genuinely absent: the sniff can never work in this
        # environment -- surface it instead of silently mis-shimming.
        raise
    except Exception as exc:
        # pyarrow maps Arrow errors onto assorted Python types
        # (ValueError, OSError, but also NotImplementedError, TypeError,
        # KeyError...); any of them means "footer unreadable", which must
        # warn-and-default, never crash the load.
        # A failed sniff (unreadable file, corrupt footer) must be
        # VISIBLE: silently defaulting to the no-shim path would read a
        # genuine TIMESTAMP(NANOS) column 1000x wrong downstream.  An
        # absent file legitimately falls through (the caller's read will
        # produce its own clear error).
        if os.path.exists(target):
            warnings.warn(
                f"could not sniff parquet timestamp precision for "
                f"{target!r} ({exc}); assuming micros -- if this file is "
                "TIMESTAMP(NANOS), event timestamps will be wrong",
                stacklevel=2,
            )
        return False


@functools.lru_cache(maxsize=64)
def _ts_is_nanos_cached(target: str, mtime_ns: int) -> bool:
    import pyarrow.parquet as pq

    # Check the parquet PHYSICAL type: true nanos is INT64 annotated
    # TIMESTAMP(NANOS).  (pyarrow's logical schema also reports
    # Spark-written INT96 as timestamp[ns], but Spark reads INT96
    # directly, so that must NOT trigger the shim.)
    schema = pq.ParquetFile(target).metadata.schema
    for i in range(len(schema)):
        col = schema.column(i)
        if col.name == "ts":
            return (
                col.physical_type == "INT64"
                and "nano" in str(col.logical_type).lower()
            )
    return False


def data_version(sf_dir: str) -> tuple:
    """A version stamp of the tables under ``sf_dir``: (name, size,
    mtime_ns) of every entry and of the files one level down (the part
    files of a table directory), sorted.  Rewriting any input table
    changes it, so a result memoized under it (``plans.api``) is rebuilt
    after the rewrite -- the same (file, mtime) keying as the footer
    sniff above."""
    stamp = []
    with os.scandir(sf_dir) as entries:
        for entry in entries:
            st = entry.stat()
            stamp.append((entry.name, st.st_size, st.st_mtime_ns))
            if entry.is_dir():
                with os.scandir(entry.path) as parts:
                    for part in parts:
                        pst = part.stat()
                        stamp.append(
                            (f"{entry.name}/{part.name}", pst.st_size, pst.st_mtime_ns)
                        )
    return tuple(sorted(stamp))


def events_read_schema(
    path: str, columns: tuple[str, ...] | None = None
) -> tuple[T.StructType, bool]:
    """(read schema, nanos-shim needed) for an events parquet at `path`.

    Shared by the batch loader and the streaming sources so every events
    read applies (or skips) the ns->us conversion consistently.

    ``columns`` restricts the declared schema to those fields (r15, per
    the r14 advice): a stream source over a PROJECTED rewrite of the
    events table must declare the rewrite's actual columns -- Spark
    silently fills a declared-but-absent column with nulls, so a plan
    that later read it would get all-nulls instead of a loud failure.
    """
    fields = TABLES["events"].fields
    if columns is not None:
        by_name = {f.name: f for f in fields}
        fields = [by_name[c] for c in columns]
    if _ts_is_nanos(path):
        raw = T.StructType(
            [
                T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
                for f in fields
            ]
        )
        return raw, True
    return T.StructType(list(fields)), False


def normalize_events_ts(df: DataFrame, needs_shim: bool) -> DataFrame:
    if not needs_shim:
        return df
    from pyspark.sql import functions as F

    # integer `div`, not `/`: float division is lossy at ns-epoch scale
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def _read_schema(path: str, name: str) -> tuple[T.StructType, bool]:
    """(read schema, nanos-shim needed) of table ``name`` at ``path``."""
    if name == "events":
        return events_read_schema(path)
    return TABLES[name], False


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table.  The explicit schema lets Catalyst prune columns
    and push filters without a footer-inference pass per query."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, shim = _read_schema(path, name)
    return normalize_events_ts(spark.read.schema(schema).parquet(path), shim)


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Open one table as a file stream, with ``load_table``'s schema and
    nanos shim.

    The file streaming source lists a directory, non-recursively.  A
    Spark-written table IS a directory of part files -- stream it as-is
    (symlinking the directory under another dir would stream ZERO rows,
    silently); a single-file table (the generated testdata shape) is
    streamed from ``sf_dir`` itself, filtered to its file name, so
    nothing is left on disk after the stream."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, shim = _read_schema(path, name)
    reader = spark.readStream.schema(schema)
    if os.path.isdir(path):
        df = reader.parquet(path)
    else:
        df = reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)
    return normalize_events_ts(df, shim)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so plans can be written in SQL.

    Catalyst produces identical plans for DataFrame and SQL forms; views
    make the oracle-SQL and the Spark plan visually comparable.
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
