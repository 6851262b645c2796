"""Incremental gold-table maintenance via foreachBatch.

Reference: the exchanges daemon incrementally read-modify-writes
``agg_exchanges`` -- per-event cache updates, hourly purges, a 30-minute
forced re-reduce to heal races (``lib/aggregation/exchanges.js:103-133,
160-239``).

Spark shape: candles are *mergeable* aggregates (min/max/sum/count plus
min_by/max_by keyed on the packed sort scalar), so each micro-batch
appends its per-(pair, hour) PARTIAL candle to the gold store and the
read path re-reduces partials to final candles.  Properties:
  * exactly-once per batch (append of a deterministic partial; replays
    overwrite the same epoch partition),
  * no read-modify-write race by construction -- merging is associative,
    so batch order cannot change the result (the daemon's forceUpdate
    heal has nothing to heal),
  * compaction = re-reducing partials back into one row per bucket with
    the same merge expression, run whenever partial count grows.

The partial/merge split is exactly how the hierarchical interval rollup
already works in batch (operators/candles.py ``final=False``); streaming
reuses it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.candles import hourly_candles, merge_candle_aggs


def partial_candles(batch_df: DataFrame) -> DataFrame:
    """Per-batch mergeable candle partials (decimal volumes + open/close
    sort keys retained for the merge)."""
    return hourly_candles(batch_df, final=False)


def merge_candles(partials: DataFrame) -> DataFrame:
    """Re-reduce any number of partials per (pair, bucket) into final
    candles -- associative, so it is also the compaction step."""
    return partials.groupBy("pair", "bucket_start").agg(*merge_candle_aggs())


def run_incremental(
    spark: SparkSession, events_dir: str, gold_dir: str, files_per_trigger: int = 3
) -> int:
    """Stream an events directory into a partial-candle gold store in
    micro-batches; returns the number of batches processed."""
    from ..sources.catalog import events_read_schema, normalize_events_ts

    schema, shim = events_read_schema(events_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(events_dir)
    )
    events = normalize_events_ts(raw, shim)
    n_batches = {"n": 0}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        n_batches["n"] += 1
        (
            partial_candles(batch_df)
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(gold_dir)
        )

    q = events.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return n_batches["n"]


def read_candles(spark: SparkSession, gold_dir: str) -> DataFrame:
    """The serving view: merge partials to final candles."""
    return merge_candles(spark.read.parquet(gold_dir).drop("epoch"))
