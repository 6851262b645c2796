"""Structured Streaming sessionization: the state-store-backed
session_window() form of operators/sessions.window_sessionize.

Reference: the aggregation daemons keep per-account in-memory buckets
keyed by time interval (``lib/aggregation/accountPayments.js:135-223``)
-- a hand-rolled merging-state session machine.  Spark's
``session_window`` is that machine declaratively: the state store holds
open sessions per user, merges them when a new event lands within the
gap, and the watermark evicts sessions once no event can extend them.

Scale: state per executor is bounded by OPEN sessions of the users in
its partitions, not by history -- closed sessions leave the store at
watermark passage (append mode in production; the registered local form
drives complete mode so the full result is oracle-comparable).  The
aggregation keys on user_id: the same single-shuffle shape as the batch
operator.

Correctness: native session_window end = last event ts + gap, so the
oracle emits MAX(ts) + gap from the identical gaps-and-islands
construction the batch operator verifies; tests additionally assert
streamed == batch (test_invariants.py native-vs-manual law covers the
batch side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..operators.sessions import GAP_SECONDS, SQL_SESSION_ISLANDS
from ..plans.registry import register
from ..sources.catalog import stream_table
from .candles_stream import LATE_DATA_WATERMARK
from .memory_sink import run_to_memory


@register(
    "stream_sessionize",
    rotation_group=2,
    oracle=f"""
    WITH {SQL_SESSION_ISLANDS}
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {GAP_SECONDS} SECOND AS session_end,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS total_value
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    doc="Streaming sessionization: file source -> watermark -> "
        "session_window(48 h gap) groupBy -> memory sink driven to "
        "completion.  The state store replaces accountPayments.js's "
        "hand-rolled per-account interval cache; the oracle is the "
        "batch gaps-and-islands construction with the native end "
        "(last event + gap).",
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    agg = (
        events.withWatermark("ts", LATE_DATA_WATERMARK)
        .groupBy(
            "user_id",
            F.session_window("ts", f"{GAP_SECONDS} seconds").alias("sw"),
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )
    return (
        run_to_memory(agg, "stream_sessionize", "complete")
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )
