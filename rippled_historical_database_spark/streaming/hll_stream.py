"""Streaming HyperLogLog register construction.

The batch sketch family (operators/sketches.py) exists because
max-per-register is associative; this module is the payoff on the
streaming side: the SAME register table builds incrementally under
Structured Streaming with state bounded at (days x 64) rows no matter
how many events flow -- a rolling-distinct dashboard with sketch-sized
state, where the reference's active-accounts counters
(lib/aggregation/statsAggregation.js) keep full per-interval member
sets in memory.

The aggregation is a plain streaming groupBy -- no watermark needed in
complete mode, and because max is monotone the emitted registers are
correct after every micro-batch (each batch can only raise them).
Production swaps the file source for Kafka and the memory sink for a
table; the downstream 3-day union (sketch_hll_sliding_union) reads the
register table, never the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..operators.sketches import N_REGISTERS, _rho, _user_hash
from ..sources.catalog import stream_table
from .memory_sink import run_to_memory

_SQL_DAILY_HLL = None  # assigned below to share the ladder constant


def _daily_hll_oracle() -> str:
    from ..operators.sketches import RHO_BITS, _RHO_CASES

    return f"""
    WITH h_t AS (
        SELECT DATE_DIFF('day', DATE '2000-01-01', CAST(ts AS DATE)) AS day_idx,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
               AS BIGINT) AS h
        FROM events
    ),
    w_t AS (
        SELECT day_idx,
               CAST(h % {N_REGISTERS} AS INT) AS register,
               h // {N_REGISTERS} AS w
        FROM h_t
    )
    SELECT CAST(day_idx AS INT) AS day_idx, register,
           MAX(CASE {_RHO_CASES} ELSE {RHO_BITS + 1} END) AS max_rho
    FROM w_t GROUP BY 1, 2
    ORDER BY day_idx, register
    """


@register(
    "stream_sketch_hll_daily",
    rotation_group=6,
    oracle=_daily_hll_oracle(),
    doc="Streaming per-day HyperLogLog register build: file source -> "
        "md5-ladder projection -> groupBy(day, register) max -- the "
        "mergeable-sketch aggregation running AS the streaming state, "
        "bounded at days x 64 rows regardless of event volume (the "
        "reference's stats daemon holds full per-interval member sets). "
        "max is monotone, so every micro-batch's emitted registers are "
        "exact for the data seen so far -- no watermark, no rescan, and "
        "late data can only raise a register the way union with a late "
        "sketch would.  Streamed registers == the batch construction "
        "bit-for-bit (same oracle as the daily CTE of "
        "sketch_hll_sliding_union; the sliding 3-day union then reads "
        "this register table, never the raw stream).",
)
def stream_sketch_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = stream_table(spark, sf_dir, "events")
    h = _user_hash()
    base = events.select(
        F.datediff(F.to_date("ts"), F.lit("2000-01-01")).alias("day_idx"),
        h.alias("h"),
    ).select(
        "day_idx",
        (F.col("h") % N_REGISTERS).cast("int").alias("register"),
        F.expr(f"h div {N_REGISTERS}").alias("w"),
    )
    agg = base.groupBy("day_idx", "register").agg(
        F.max(_rho(F.col("w"))).alias("max_rho")
    )
    return (
        run_to_memory(agg, "stream_sketch_hll_daily", "complete")
        .select(F.col("day_idx").cast("int").alias("day_idx"), "register", "max_rho")
        .orderBy("day_idx", "register")
    )
