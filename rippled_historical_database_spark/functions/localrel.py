"""JVM-evaluable local relations from driver-side rows (guide section 4).

``spark.createDataFrame`` on a plain Python list (or a list of collected
``Row`` objects) is backed by a *pickled-row RDD*: the rows are pickled
into ``defaultParallelism`` slices, and EVERY evaluation of the relation
-- each broadcast build, each action over an un-cached consumer, each
oracle compare -- launches Python workers to unpickle its slices before
the JVM sees a single row.  That is a hidden JVM->Python->JVM boundary
in otherwise pure-JVM query paths.  Measured on local[32] (pyspark
4.1.2): a ``coalesce(1).count()`` over an 8-row list relation is ~3.4 s
-- 32 serial ~0.1 s Python worker round-trips -- and even the parallel
32-task evaluation pays ~0.3-0.5 s per pass, per consumer.

Routing the same rows through a pandas DataFrame flips
``createDataFrame`` onto its Arrow path (``arrow.pyspark.enabled`` is on
in session.py): the rows are serialized ONCE on the driver into Arrow
batches and the scan deserializes them IN THE JVM -- zero Python workers
at evaluation time.  Same values, same schema; under
``arrow.localRelationThreshold`` the relation plans as a
``LocalTableScan`` that an action reads on the driver without a job, and
the measured 8-row probe drops to ~0.08 s.

``local_df`` is the drop-in replacement.  It forces ``dtype=object`` on
the intermediate pandas frame so no pandas type inference runs -- the
explicit Spark schema alone drives the Arrow conversion, exactly as the
pickle path's row verification does.  An empty ``rows`` becomes an empty
Arrow table of the schema (``LocalTableScan <empty>``, exact schema and
nullability) instead of an empty pickled-row RDD, whose every evaluation
still schedules ``defaultParallelism`` Python-backed tasks (250-430 ms
on 4 cores).

Three cases still take the original ``createDataFrame(rows, schema)``
call, so behavior can only differ in evaluation cost: a schema that does
not parse to a struct, a row whose length differs from the schema's
(e.g. dict rows), and an Arrow conversion error (or pandas missing).
Each is counted by reason (``fallback_count``) so a path that silently
turned back into a Python-worker scan shows up.  The Arrow conversion is
called directly (``SparkSession._create_from_pandas_with_arrow``):
the public ``createDataFrame(pandas_df)`` catches the same error itself
and falls back to the pickled path with only a ``UserWarning``
(``arrow.pyspark.fallback.enabled``), which no counter could see.
"""

from __future__ import annotations

import threading
from collections import Counter
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

FALLBACK_REASONS = ("schema", "row_length", "arrow")
_LOCK = threading.Lock()
_FALLBACKS: Counter = Counter()


def local_df(spark: SparkSession, rows: Iterable, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` without Python workers at
    evaluation time (Arrow-batch-backed instead of pickled-row-backed).

    ``schema`` is a DDL string or ``StructType``, as for
    ``createDataFrame``; rows may be tuples, lists or ``Row`` objects.
    """
    rows = list(rows)
    struct = _struct_type(schema)
    if struct is None:
        return _fallback("schema", spark, rows, schema)
    if any(len(r) != len(struct) for r in rows):
        return _fallback("row_length", spark, rows, schema)
    try:
        if not rows:
            from pyspark.sql.pandas.types import to_arrow_schema

            return spark.createDataFrame(to_arrow_schema(struct).empty_table(), struct)
        import pandas as pd

        names = struct.fieldNames()
        # Object-dtype columns built directly from the row values: no
        # pandas type inference runs (None stays None, never NaN); the
        # explicit Spark schema alone drives the Arrow conversion.
        data = [tuple(r) for r in rows]
        pdf = pd.DataFrame(
            {
                name: pd.Series([r[i] for r in data], dtype=object)
                for i, name in enumerate(names)
            },
            columns=names,
        )
        return spark._create_from_pandas_with_arrow(
            pdf, struct, spark._jconf.sessionLocalTimeZone()
        )
    except Exception:
        return _fallback("arrow", spark, rows, schema)


def fallback_count(reason: str | None = None) -> int:
    """Pickled-path fallbacks taken so far, for one reason of
    ``FALLBACK_REASONS`` or all of them (test/probe hook)."""
    with _LOCK:
        return _FALLBACKS[reason] if reason else sum(_FALLBACKS.values())


def _fallback(reason: str, spark: SparkSession, rows: list, schema) -> DataFrame:
    with _LOCK:
        _FALLBACKS[reason] += 1
    return spark.createDataFrame(rows, schema)


def _struct_type(schema) -> StructType | None:
    if isinstance(schema, StructType):
        return schema
    if isinstance(schema, str):
        # fromDDL accepts every string form createDataFrame accepts ("a
        # int, b string", "a: int, b: string", "struct<...>").
        try:
            parsed = StructType.fromDDL(schema)
        except Exception:
            return None
        return parsed if isinstance(parsed, StructType) else None
    return None
