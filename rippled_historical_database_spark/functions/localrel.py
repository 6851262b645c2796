"""JVM-evaluable local relations from driver-side rows (guide section 4).

``spark.createDataFrame`` on a plain Python list (or a list of collected
``Row`` objects) is backed by a *pickled-row RDD*: EVERY evaluation of
the relation -- each broadcast build, each action over an un-cached
consumer -- launches Python workers to unpickle its slices before the
JVM sees a single row.  Measured on local[32] (pyspark 4.1.2): a
``coalesce(1).count()`` over an 8-row list relation is ~3.4 s.

``local_df`` builds a ``pyarrow.Table`` from the rows against the
explicit Spark schema and passes it to ``createDataFrame``, whose Arrow
table path has no fallback: the rows cross to the JVM once, and under
``arrow.localRelationThreshold`` the relation plans as a
``LocalTableScan`` (the 8-row probe: ~0.08 s).  A row that does not fit
the schema raises instead of degrading to the pickled path.
"""

from __future__ import annotations

from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, VariantType


def local_df(spark: SparkSession, rows: Iterable, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` without Python workers at
    evaluation time (Arrow-batch-backed instead of pickled-row-backed).

    ``schema`` is a ``StructType`` or a DDL string ("a int, b string",
    "a: int, b: string"); rows are tuples, lists or ``Row`` objects with
    one value per schema field.
    """
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    if not isinstance(struct, StructType):
        raise TypeError(f"local_df needs a struct schema, got {schema!r}")
    rows = list(rows)
    for r in rows:
        if len(r) != len(struct):
            raise ValueError(
                f"row {r!r} does not have the {len(struct)} fields of "
                f"{struct.simpleString()}"
            )
    arrow = to_arrow_schema(struct)
    columns = []
    for i, (field, arrow_field) in enumerate(zip(struct, arrow)):
        values = [r[i] for r in rows]
        if isinstance(field.dataType, VariantType):
            # to_arrow_schema declares a VARIANT as struct<value, metadata>
            # (both binary); pa.array does not take the VariantVal itself.
            values = [
                None if v is None else {"value": v.value, "metadata": v.metadata}
                for v in values
            ]
        columns.append(pa.array(values, type=arrow_field.type))
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), struct)
