"""JSONL (newline-delimited JSON) document source with a corrupt-record
quarantine channel.

The second standard text-corpus wire format after WET: one JSON object
per line.  Spark's native JSON scan does the whole parse JVM-side; the
engine-specific part this module adds is the POISON-PILL contract:

* the scan runs PERMISSIVE with an explicit ``_corrupt_record`` column,
  so one malformed line quarantines instead of failing a 100 TB job
  (FAILFAST) or silently disappearing (DROPMALFORMED);
* ``read_jsonl`` returns (clean rows, quarantine rows) so the caller
  can land the quarantine for inspection -- the same
  detected-not-silent stance as the WET reader's Content-Length check.

The registered query is a ROUNDTRIP oracle like the WET source:
documents -> JSONL artifact (distributed writer, one ``to_json`` line
per row) -> reader -> typed rows + text md5, compared against DuckDB
reading the documents table directly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import artifacts
from ..plans.registry import register
from .catalog import load_table

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def write_jsonl(docs: DataFrame, out_dir: str) -> None:
    """Distributed JSONL writer: one compact JSON object per line."""
    cols = [f.name for f in DOC_SCHEMA.fields]
    docs.select(
        F.to_json(F.struct(*cols)).alias("value")
    ).write.text(out_dir)


def read_jsonl(
    spark: SparkSession, jsonl_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Parse JSONL into (clean, quarantine) DataFrames.

    Text scan + ``from_json`` rather than the raw ``.json()`` reader:
    the parse is the same JVM Jackson path, but the corrupt channel is
    an ordinary projected column, so downstream plans (e.g. a bare
    ``quarantine.count()``) don't trip Spark's
    QUERY_ONLY_CORRUPT_RECORD_COLUMN restriction on raw JSON scans
    after column pruning.
    """
    # StructType.add mutates in place -- build a fresh schema so
    # DOC_SCHEMA (shared with the writer) never grows the corrupt col.
    schema = T.StructType(
        [*DOC_SCHEMA.fields, T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = spark.read.text(jsonl_dir).select(
        "value",
        F.from_json(
            "value",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r"),
    )
    clean = parsed.filter(F.col("r._corrupt_record").isNull()).select(
        *[f"r.{f.name}" for f in DOC_SCHEMA.fields]
    )
    # doc_id is null for torn lines, set for partially-parsed ones --
    # kept alongside the raw line to aid triage.
    quarantine = parsed.filter(F.col("r._corrupt_record").isNotNull()).select(
        F.col("r.doc_id").alias("doc_id"),
        F.col("value").alias("_corrupt_record"),
    )
    return clean, quarantine


def jsonl_artifact(spark: SparkSession, sf_dir: str) -> str:
    path = os.path.join(
        artifacts.ARTIFACT_ROOT,
        "jsonl_corpus",
        artifacts.source_key(os.path.join(sf_dir, "documents.parquet")),
    )

    def _build(tmp: str) -> None:
        write_jsonl(load_table(spark, sf_dir, "documents"), tmp)

    return artifacts.build_once(path, "_BUILT", _build)


@register(
    "source_jsonl_roundtrip",
    rotation_group=3,
    oracle="""
    SELECT doc_id, lang, source, n_chars,
           md5(text) AS text_md5,
           CAST(0 AS BIGINT) AS n_quarantined
    FROM documents
    ORDER BY doc_id
    """,
    doc="JSONL source roundtrip: the documents table rendered to "
        "newline-delimited JSON by the distributed writer and parsed "
        "back through the PERMISSIVE + _corrupt_record scan; emits the "
        "typed fields, a text md5, and the quarantine count (must be 0 "
        "for a clean corpus -- malformed lines land in a quarantine "
        "relation instead of killing the job; tests/test_jsonl_source "
        "drives that path with injected garbage).  At 100 TB the JSON "
        "parse is the JVM scan with an enforced schema -- no "
        "inference pass over the corpus -- and files split across "
        "executors like any text input.",
)
def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    jl_dir = jsonl_artifact(spark, sf_dir)
    clean, quarantine = read_jsonl(spark, jl_dir)
    n_bad = quarantine.agg(
        F.count("*").cast("bigint").alias("n_quarantined")
    )
    return (
        clean.select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.md5(F.col("text").cast("binary")).alias("text_md5"),
        )
        .crossJoin(F.broadcast(n_bad))
        .orderBy("doc_id")
    )
