"""Structured Streaming variant of the incremental candle aggregation.

Reference (SURVEY.md section 2.9): the aggregation daemons hand-roll
micro-batching -- 200 ms queue polls, in-memory interval caches hydrated
from HBase, a ~2 h late-data window after which events are dropped with
a log line (``lib/aggregation/exchanges.js:52, 493-496``), a 30-minute
forced re-reduce to heal missed events.

Structured Streaming replaces all of it declaratively:
  * micro-batch queue        -> trigger/processing intervals
  * in-memory interval cache -> the built-in state store
  * 2 h drop-late rule       -> ``withWatermark('ts', '2 hours')``
  * forced re-reduce         -> unnecessary (exactly-once state)

The streaming plan is the SAME groupBy(window, pair) aggregation as the
batch candle build -- semantics are defined once.  Local smoke uses a
file source over the test parquet and a memory sink driven to completion
with ``processAllAvailable`` (complete mode, so every window is emitted
and the result is oracle-comparable); production swaps source/sink for
Kafka + a transactional table, nothing else changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import sql_dsum
from ..plans.registry import register
from ..sources.catalog import stream_table
from .memory_sink import run_to_memory

LATE_DATA_WATERMARK = "2 hours"  # exchanges.js:52 late-data window


@register(
    "stream_candles_hourly",
    oracle=f"""
    SELECT event_type AS pair,
           DATE_TRUNC('hour', ts) AS bucket_start,
           COUNT(*) AS n_trades,
           {sql_dsum("value")} AS base_volume,
           MAX(value) AS high,
           MIN(value) AS low
    FROM events
    GROUP BY 1, 2
    """,
    doc="Streaming hourly candles: file source -> withWatermark(2h, the "
        "reference's late-data drop window) -> windowed groupBy -> memory "
        "sink, driven to completion. Complete mode emits every window, so "
        "the streaming result equals the batch aggregation and is "
        "oracle-verified.",
)
def stream_candles_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    agg = (
        events.withWatermark("ts", LATE_DATA_WATERMARK)
        .groupBy(
            F.col("event_type").alias("pair"),
            F.window("ts", "1 hour").alias("w"),
        )
        .agg(
            F.count("*").alias("n_trades"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("base_volume"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
        )
    )
    return run_to_memory(agg, "stream_candles_hourly", "complete").select(
        "pair",
        F.col("w.start").alias("bucket_start"),
        "n_trades",
        "base_volume",
        "high",
        "low",
    )


@register(
    "stream_dedup_exactly_once",
    oracle="""
    SELECT event_id, ts, user_id, value
    FROM events
    WHERE event_type = 'purchase' AND event_id % 100 < 3
    ORDER BY event_id
    """,
    doc="Streaming dedup (payment dedup by tx_hash before bucket add, "
        "accountPayments.js:135-166): dropDuplicates on the event key "
        "within the watermark -- the declarative form of the daemon's "
        "already-seen check. File source emits each row once here; the "
        "operator guards at-least-once sources in production.",
)
def stream_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    filtered = (
        events.filter((F.col("event_type") == "purchase") & (F.col("event_id") % 100 < 3))
        .withWatermark("ts", LATE_DATA_WATERMARK)
        .dropDuplicates(["event_id"])
        .select("event_id", "ts", "user_id", "value")
    )
    return run_to_memory(filtered, "stream_dedup", "append").orderBy("event_id")
