"""Shared runners for finite streaming plans.

``run_to_memory`` drives a bounded streaming plan to completion through
Spark's memory sink (the local and test path; production plans swap
in file/kafka sinks).  Memory-sink results are driver-resident by
construction, so snapshotting the table and dropping the temp view
costs nothing extra and fixes two leaks the shared hard-coded-name
pattern had: concurrent invocations on one SparkSession no longer
collide on the sink name, and the sink table no longer outlives the
call.

``stateful_fold`` is the one harness behind the per-key stateful twins
(``rsi_stream.py``): it replays a batch source as an ordered file
stream, runs a :class:`Fold` over it with ``applyInPandasWithState``,
drains through ``run_to_memory`` and deletes the replay files.  A twin
supplies only its spec and its per-micro-batch ``step``.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable, Iterator, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.localrel import local_df

# State-store parallelism of the few-key folds (~4 keys per stream).
# A stateful query creates (and commits, every micro-batch) one
# state-store partition per shuffle partition, so at 4 keys the session
# default of 32 mostly schedules empty-store commits (~2.5-3 s/batch vs
# ~0.9 s at 8 -- SCALE.md round-12 note).  Key-HEAVY streams (the
# account-bucket and pHash registries: 10k-160k keys) must NOT be
# narrowed: the per-key Python work is the cost there and 8 partitions
# starve the 32 cores (measured at the 10x corpus: 86.5 s at 8 vs
# 38.9 s at 32), so they call run_to_memory directly and keep the
# session setting.
FEW_KEY_STATE_PARTITIONS = 8


def run_to_memory(
    df: DataFrame,
    base_name: str,
    output_mode: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a finite streaming DataFrame to completion through a
    uniquely-named memory sink, snapshot the result, free the sink, and
    return the snapshot as a local (batch) DataFrame.

    ``state_partitions`` (optional) is the stream's state partition
    count; None keeps the session's.  It is on the session's
    ``spark.sql.shuffle.partitions`` only during ``start()``, which
    clones the session conf into the query, so a query planned on
    another thread during the drain keeps the session's count.  The
    stream runs on the caller's session, not a child one, so that
    session's ``StreamingQueryListener``s see it.
    """
    spark = df.sparkSession
    name = f"{base_name}_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    snap = spark.table(name)
    rows, schema = snap.collect(), snap.schema
    spark.catalog.dropTempView(name)
    # local_df: the drained snapshot is re-entered as a local relation
    # that every downstream action (oracle compare, noop eval) re-reads;
    # the Arrow form scans JVM-side instead of paying Python unpickle
    # workers per evaluation (functions/localrel.py).
    return local_df(spark, rows, schema)


class Fold:
    """A per-key stateful fold and the spec that runs it.

    ``step(key, rows, state) -> (state, out)`` sees one key's micro-batch
    ``rows`` sorted by ``order`` and its stored state tuple (None on the
    key's first batch); it returns the new state tuple and ``out``, the
    non-key output columns as equal-length lists in ``output_schema``
    order.  Calling the fold is the ``applyInPandasWithState`` updater
    contract ``(key, pdfs, state)``; the ``key`` column is prepended to
    each emitted frame.
    """

    def __init__(
        self,
        step: Callable[[tuple, pd.DataFrame, Any], tuple[Any, dict]],
        key: str,
        order: str | Sequence[str],
        state_schema: StructType,
        output_schema: StructType,
        output_mode: str = "append",
    ) -> None:
        functools.update_wrapper(self, step)
        self.step = step
        self.key = key
        self.order = [order] if isinstance(order, str) else list(order)
        self.state_schema = state_schema
        self.output_schema = output_schema
        self.output_mode = output_mode

    def __call__(
        self, key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(self.order)
        new_state, out = self.step(key, rows, state.get if state.exists else None)
        state.update(new_state)
        n = len(next(iter(out.values())))
        yield pd.DataFrame({self.key: [key[0]] * n, **out})

    def __reduce__(self) -> str:
        # Pickle by name: Python workers import the defining module and
        # look the fold up, exactly as for a module-level function.
        return self.__qualname__


def fold(
    key: str,
    order: str | Sequence[str],
    state_schema: StructType,
    output_schema: StructType,
    output_mode: str = "append",
) -> Callable[[Callable], Fold]:
    """Decorator form of :class:`Fold` for a module-level ``step``."""
    return lambda step: Fold(
        step, key, order, state_schema, output_schema, output_mode
    )


def _write_ordered_slices(source: DataFrame, order_cols: list[str]) -> str:
    """Materialize a batch series as one parquet file per contiguous
    ``order_cols`` range, mtime-ordered oldest-first, so the file source
    replays the series in order with one slice per micro-batch
    (slicing on ``order_cols`` boundaries keeps every time step whole).

    ``order_cols`` may form a TOTAL order: when the lead column
    has ties (the 10x clone corpus repeats every trade ts 10 times), an
    ntile over the lead column alone cuts tie groups ARBITRARILY across
    slices, and a later-tiebreak row landing in an earlier slice
    reaches the stateful updater out of order."""
    from pyspark.sql.window import Window

    n_slices = 4
    stream_dir = tempfile.mkdtemp(prefix="fold_slices_")
    # ONE job writes all slices (r14): the r12 form persisted the sliced
    # relation and ran one filter+coalesce+write job per slice -- 5 job
    # round-trips and 4 cache scans per twin, times ~20 twins.  The
    # ntile window already sorts globally into a single partition, so a
    # single-task dynamic-partition write emits every slice file in the
    # same pass; the explicit sortWithinPartitions keeps rows in replay
    # order and satisfies the writer's required partition ordering, so
    # no extra sort is inserted.
    build = os.path.join(stream_dir, "_build")
    (
        source.withColumn(
            "slice",
            F.ntile(n_slices).over(Window.orderBy(*order_cols)),
        )
        .coalesce(1)
        .sortWithinPartitions("slice", *order_cols)
        .write.mode("overwrite")
        .partitionBy("slice")
        .parquet(build)
    )
    for i in range(1, n_slices + 1):
        part_dir = os.path.join(build, f"slice={i}")
        if not os.path.isdir(part_dir):  # < n_slices rows: slice empty
            continue
        (part,) = [
            f for f in os.listdir(part_dir)
            if f.endswith(".parquet") and f.startswith("part-")
        ]
        dst = os.path.join(stream_dir, f"{i:04d}.parquet")
        os.replace(os.path.join(part_dir, part), dst)
        # file source orders by modification time; force strict order.
        t = time.time() + i
        os.utime(dst, (t, t))
    shutil.rmtree(build, ignore_errors=True)
    return stream_dir


def stateful_fold(source: DataFrame, name: str, spec: Fold) -> DataFrame:
    """Replay the batch ``source`` in ``spec.order`` as a file stream,
    fold it per ``spec.key`` with ``applyInPandasWithState``, drain the
    result through a memory sink and return it as a local DataFrame.

    The replay files are deleted once the drain returns: the drained
    result is a driver-resident snapshot, so nothing reads them later.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    spark = source.sparkSession
    stream_dir = _write_ordered_slices(source, spec.order)
    try:
        feed = (
            spark.readStream.schema(source.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        folded = feed.groupBy(spec.key).applyInPandasWithState(
            spec,
            outputStructType=spec.output_schema,
            stateStructType=spec.state_schema,
            outputMode=spec.output_mode,
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return run_to_memory(
            folded, name, spec.output_mode,
            state_partitions=FEW_KEY_STATE_PARTITIONS,
        )
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)
