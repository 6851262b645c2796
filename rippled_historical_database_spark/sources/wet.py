"""WET (WARC conversion) source: Common-Crawl-style text corpora as a
first-class input format, parsed entirely JVM-side.

The reference ingests exactly one wire format (rippled JSON-RPC); a
training-data engine must also eat the standard web-corpus shape --
WARC/WET files, each a concatenation of records::

    WARC/1.0\r\n
    WARC-Type: conversion\r\n
    WARC-Target-URI: <uri>\r\n
    WARC-Date: <iso>\r\n
    Content-Length: <bytes>\r\n
    \r\n
    <payload>\r\n\r\n

Spark-first design -- NO Python UDF anywhere in the path:

* **Reader**: ``spark.read.option("lineSep", "WARC/1.0\\r\\n").text``
  splits the files into records inside the JVM scan (one row per
  record, any number of records per file, files split across
  executors by Spark's normal file partitioning); header fields come
  out with ``regexp_extract`` and the payload with one
  ``substring``/``locate`` over the record -- the whole parse is a
  projection fused into the scan stage.  Payloads that themselves
  contain the record magic would mis-split (WET conversion payloads
  are plain text, where that cannot occur); the emitted ``length_ok``
  flag cross-checks every payload against its Content-Length header,
  so any mis-split is *detected*, not silent.
* **Writer**: each record is ONE formatted string built with
  ``format_string`` and written by the distributed text writer with a
  ``\\r\\n\\r\\n`` record terminator -- no driver-side collect, any
  corpus size.

The registered query is a ROUNDTRIP oracle: documents -> WET artifact
(train-once, atomic publish) -> reader -> per-record byte length +
payload md5, compared against DuckDB computing the same directly from
the documents table.  The two engines agree only if the writer and the
parser are both byte-exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import artifacts
from ..plans.registry import register
from .catalog import load_table

RECORD_MAGIC = "WARC/1.0\r\n"
URI_PREFIX = "http://corpus.local/doc/"
WET_DATE = "2024-01-01T00:00:00Z"  # fixed: the corpus is a snapshot


def write_wet(docs: DataFrame, out_dir: str) -> None:
    """Distributed WET writer: one record per document row."""
    record = F.format_string(
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: " + URI_PREFIX + "%s\r\n"
        "WARC-Date: " + WET_DATE + "\r\n"
        "Content-Length: %s\r\n"
        "\r\n"
        "%s",
        F.col("doc_id").cast("string"),
        F.octet_length("text").cast("string"),
        F.col("text"),
    )
    docs.select(record.alias("value")).write.option(
        "lineSep", "\r\n\r\n"
    ).text(out_dir)


def read_wet(spark: SparkSession, wet_dir: str) -> DataFrame:
    """Parse WET files into typed rows, entirely in the scan stage."""
    raw = spark.read.option("lineSep", RECORD_MAGIC).text(wet_dir)
    # Splitting on the leading magic makes the first slice of each file
    # empty; records keep a trailing \r\n\r\n terminator to strip.
    rec = F.regexp_replace(F.col("value"), r"(\r\n)+$", "")
    hdr_end = F.locate("\r\n\r\n", rec)
    header = F.substring(rec, F.lit(1), hdr_end - 1)
    payload = F.expr(
        "substring(rec, locate('\r\n\r\n', rec) + 4, octet_length(rec))"
    )
    return (
        raw.filter(F.length("value") > 0)
        .select(rec.alias("rec"))
        .select(
            F.regexp_extract(
                "rec", r"WARC-Target-URI: (\S+)", 1
            ).alias("target_uri"),
            F.regexp_extract("rec", r"WARC-Type: (\S+)", 1).alias("warc_type"),
            F.regexp_extract("rec", r"WARC-Date: (\S+)", 1).alias("warc_date"),
            # A torn record (payload containing the magic) has no
            # Content-Length header: extract yields '' and an ANSI cast
            # would kill the job -- NULL it instead and let length_ok
            # land on FALSE so malformed records are quarantinable.
            F.expr(
                r"try_cast(regexp_extract(rec, 'Content-Length: (\\d+)', 1)"
                " AS BIGINT)"
            ).alias("content_length"),
            payload.alias("payload"),
        )
        .withColumn(
            "length_ok",
            F.coalesce(
                F.octet_length("payload") == F.col("content_length"),
                F.lit(False),
            ),
        )
    )


def wet_artifact(spark: SparkSession, sf_dir: str) -> str:
    """Build the WET rendering of the documents table once per corpus
    identity; atomic publish (functions/artifacts.py)."""
    path = os.path.join(
        artifacts.ARTIFACT_ROOT,
        "wet_corpus",
        artifacts.source_key(os.path.join(sf_dir, "documents.parquet")),
    )

    def _build(tmp: str) -> None:
        write_wet(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            tmp,
        )

    return artifacts.build_once(path, "_BUILT", _build)


@register(
    "source_wet_roundtrip",
    rotation_group=3,
    oracle="""
    SELECT doc_id,
           'conversion' AS warc_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
           md5(text) AS payload_md5,
           TRUE AS length_ok
    FROM documents
    ORDER BY doc_id
    """,
    doc="WET source roundtrip: the documents table rendered to "
        "WARC/WET files (distributed writer, record-per-row) and "
        "parsed back by the JVM-side reader; emits per-record byte "
        "length, payload md5, and the Content-Length cross-check.  "
        "The oracle computes the same directly from documents, so the "
        "row only matches if writer AND parser are byte-exact.  At "
        "100 TB: the reader is a text scan with a custom record "
        "separator -- files split across executors like any text "
        "input, the header parse is a fused projection, and no Python "
        "runs anywhere in the path.",
)
def source_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    wet_dir = wet_artifact(spark, sf_dir)
    parsed = read_wet(spark, wet_dir)
    return (
        parsed.select(
            F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
            .cast("bigint")
            .alias("doc_id"),
            "warc_type",
            "content_length",
            F.md5(F.col("payload").cast("binary")).alias("payload_md5"),
            "length_ok",
        )
        .orderBy("doc_id")
    )
