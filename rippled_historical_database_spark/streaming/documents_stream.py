"""Structured Streaming over the DOCUMENT corpus: quality filtering +
content-dedup as data arrives, not as a nightly batch.

A training-data pipeline ingests crawl shards continuously; admitting
a document should not wait for the next full-corpus pass.  This module
streams the documents table through the SAME gopher rule stack the
batch operator registers (one formulation, two execution modes) and
maintains a per-content-hash registry -- first doc id seen and
duplicate count -- as streaming state.

State design: the aggregation keys on md5(text), so state is one row
per DISTINCT content, not per document; the hot path for crawl streams
(the same page fetched daily) folds into a counter update.  The
registered local form drives complete mode over a finite source so the
result is oracle-comparable; production runs update mode with the
registry as the sink upsert key, and bounds state by a TTL on ingest
time if the corpus is unbounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from ..operators.multimodal import SQL_PHASH_NEARDUP
from ..plans.registry import register
from ..sources.catalog import stream_table
from .memory_sink import run_to_memory


@register(
    "stream_document_dedup_registry",
    rotation_group=3,
    oracle="""
    WITH toks AS (
        SELECT doc_id, text,
               len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                 AS n_words
        FROM documents
    ),
    kept AS (
        SELECT doc_id, md5(text) AS content_md5
        FROM toks WHERE n_words >= 10
    )
    SELECT content_md5,
           MIN(doc_id) AS first_doc_id,
           COUNT(*) AS n_copies
    FROM kept
    GROUP BY content_md5
    ORDER BY content_md5
    """,
    doc="Streaming document admission: a minimum-length quality cut "
        "(the gopher word-count rule as a streaming-safe projection) "
        "followed by a per-content-hash registry -- first doc id and "
        "copy count per distinct md5(text) -- maintained as streaming "
        "state.  MIN/COUNT are order-independent aggregates, so the "
        "registry is identical for ANY arrival order and the batch "
        "oracle checks the streamed result exactly.  State is one row "
        "per distinct content (crawl re-fetches fold into a counter), "
        "keyed on the hash: the same single-shuffle shape as batch "
        "exact dedup.",
)
def stream_document_dedup_registry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = stream_table(spark, sf_dir, "documents")
    kept = docs.filter(
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")) >= 10
    ).select("doc_id", F.md5(F.col("text").cast("binary")).alias("content_md5"))
    agg = kept.groupBy("content_md5").agg(
        F.min("doc_id").alias("first_doc_id"),
        F.count("*").alias("n_copies"),
    )
    return run_to_memory(agg, "stream_doc_registry", "complete").orderBy(
        "content_md5"
    )


# -------------------------- incremental perceptual-hash near-dup pairs

PHASH_PAIR_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("pa", LongType()),
        StructField("pb", LongType()),
    ]
)

# The bucket registry: every (doc_id, phash) previously filed under
# this (band, key).  State IS the LSH index, sharded across executors
# by bucket key -- the same registry-as-state shape as the exact-hash
# dedup stream; RocksDB-backed at scale.
PHASH_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("phs", ArrayType(LongType())),
    ]
)


def _update_phash_bucket(key, pdfs, state):
    import pandas as pd

    if state.exists:
        ids, phs = list(state.get[0]), list(state.get[1])
    else:
        ids, phs = [], []
    # Most buckets see ONE chunk of 1-2 rows per batch: skip the concat
    # copy for the single-chunk case and the sort for single rows (the
    # per-bucket Python overhead is this operator's whole cost at the
    # 32k-bucket scale; r14 micro-pass).
    chunks = list(pdfs)
    rows = chunks[0] if len(chunks) == 1 else pd.concat(
        chunks, ignore_index=True
    )
    if len(rows) > 1:
        rows = rows.sort_values("doc_id")
    out_a, out_b, out_pa, out_pb = [], [], [], []
    for doc_id, ph in zip(rows["doc_id"], rows["ph"]):
        doc_id, ph = int(doc_id), int(ph)
        # each arrival pairs against every PRIOR member of its bucket:
        # a colliding pair is emitted exactly once per band, when the
        # later doc arrives
        for pid, pph in zip(ids, phs):
            a_id, a_ph, b_id, b_ph = (
                (pid, pph, doc_id, ph)
                if pid < doc_id
                else (doc_id, ph, pid, pph)
            )
            out_a.append(a_id)
            out_b.append(b_id)
            out_pa.append(a_ph)
            out_pb.append(b_ph)
        ids.append(doc_id)
        phs.append(ph)
    state.update((ids, phs))
    if out_a:  # most arrivals collide with nobody: skip the empty frame
        yield pd.DataFrame(
            {"id_a": out_a, "id_b": out_b, "pa": out_pa, "pb": out_pb}
        )


def phash_pair_stream(bands: DataFrame) -> DataFrame:
    """Streaming (band, key, doc_id, ph) rows -> candidate near-dup
    pairs as they become discoverable.  ``bands`` must be streaming."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return bands.groupBy("band", "key").applyInPandasWithState(
        _update_phash_bucket,
        outputStructType=PHASH_PAIR_SCHEMA,
        stateStructType=PHASH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_phash_registry",
    rotation_group=10,
    oracle=SQL_PHASH_NEARDUP,
    doc="Incremental image near-dup: the banded-Hamming LSH index "
        "(multimodal_phash_neardup) maintained as STREAMING STATE, so "
        "a newly crawled image's near-duplicates surface on arrival "
        "instead of at the next full-corpus pass.  Each doc explodes "
        "into its 4 (band, key) rows; per-bucket state is the list of "
        "prior members, and an arrival emits a candidate pair against "
        "each of them -- exactly once per band, order-independently, "
        "so the drained candidate set (cross-band DISTINCT) then the "
        "exact bit_count verify reproduce the batch pair set for ANY "
        "arrival order.  State = the LSH index itself (4 entries per "
        "doc), sharded by bucket key across executors -- the "
        "registry-as-state shape of the exact-hash dedup stream, "
        "RocksDB-backed at scale.  streamed == batch == the shared "
        "SQL_PHASH_NEARDUP oracle.",
)
def stream_phash_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = stream_table(spark, sf_dir, "documents")
    ph = (
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("ph")
    )
    bands = (
        docs.select("doc_id", ph)
        .select(
            "doc_id",
            "ph",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band"),
        )
        .withColumn("key", F.expr("shiftright(ph, band * 15) & 32767"))
    )
    drained = run_to_memory(
        phash_pair_stream(bands), "stream_phash_registry", "append"
    )
    hamming = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
    return (
        drained.distinct()  # a pair colliding in 2+ bands emits per band
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 26)
        .orderBy("id_a", "id_b")
    )
