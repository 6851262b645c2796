"""End-to-end corpus curation WRITE plan: the pipeline a user actually
ships, not just its per-stage queries.

documents
  -> source-level quality gate (drop whole bad domains)
  -> per-document gopher rules
  -> near-dup removal (LSH connected components; drop every non-keeper
     cluster member -- singleton documents are untouched, they never
     enter the pair graph)
  -> write parquet partitioned by (lang, source), each partition's rows
     sorted within the partition on (n_chars, doc_id) so row-group
     min/max envelopes stay tight on the sort column (documents have no
     time axis; the two-dimensional Z-order form lives in
     operators/layout.py and drops in here when a table has two
     pruning dimensions).

Every stage is a registered, oracle-verified operator -- this module
only composes them and owns the write.  The composition itself is
verified by tests/test_curate_plan.py: the landed corpus equals the
intersection of the stage predicates computed independently, the
partition layout is real (directories on disk), and re-running is
idempotent (same bytes, dynamic-overwrite semantics).

Scale notes: the gate and keeper sets are small by construction and
broadcast into their joins; the only corpus-wide shuffles are the ones
the member operators already budget in SCALE.md.  The write partitions
by low-cardinality (lang, source) -- never by doc -- and sorts within
partitions, so downstream readers get partition pruning on the
categorical columns and row-group pruning on the sorted key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    _SQL_LSH_VERIFIED,
    CC_JACCARD_MIN,
    dedup_connected_components,
)
from ..operators.pipeline import SOURCE_GATE_PCT, pipeline_source_gate
from ..operators.text_analysis import (
    SQL_GOPHER_KEEP,
    gopher_keep_column,
    gopher_metric_columns,
)
from ..sources.catalog import load_table
from .registry import register


# The composite oracle re-states every stage in one WITH chain: the LSH
# near-dup graph walked by a recursive CTE (same fragment the
# dedup_connected_components oracle uses), the shared Gopher CTEs, and
# the integer-arithmetic source gate -- one formulation per stage,
# shared verbatim with the stage oracles.
_SQL_CURATED = (
    _SQL_LSH_VERIFIED.replace("WITH ds", "WITH RECURSIVE ds", 1)
    + f"""
    , pairs AS (
        SELECT doc_a, doc_b FROM verified WHERE est_jaccard >= {CC_JACCARD_MIN}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    cc_nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach AS (
        SELECT node, node AS label FROM cc_nodes
        UNION
        SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    dupes AS (
        SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> MIN(label)
    ),
    {SQL_GOPHER_KEEP.strip()},
    per_source AS (
        SELECT d.source,
               COUNT(*) AS n_docs,
               CAST(COUNT(*) FILTER (g.keep) AS BIGINT) AS n_keep
        FROM documents d JOIN gopher_keep g ON d.doc_id = g.doc_id
        GROUP BY d.source
    ),
    good AS (
        SELECT source FROM per_source
        WHERE n_keep * 100 >= {SOURCE_GATE_PCT} * n_docs
    )
    SELECT d.lang, d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d
    JOIN gopher_keep g ON d.doc_id = g.doc_id
    JOIN good ON d.source = good.source
    WHERE g.keep AND d.doc_id NOT IN (SELECT doc_id FROM dupes)
    GROUP BY d.lang, d.source
    ORDER BY d.lang, d.source
    """
)


def curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated corpus as a DataFrame (no write)."""
    d = load_table(spark, sf_dir, "documents")

    good_sources = (
        pipeline_source_gate(spark, sf_dir)
        .filter(F.col("source_kept"))
        .select("source")
    )
    # CC output covers only documents that appear in the near-dup pair
    # graph; curation must DROP the non-keeper members and keep
    # everything else (keepers AND singletons), hence anti-join.
    dupes = (
        dedup_connected_components(spark, sf_dir)
        .filter(~F.col("is_keeper"))
        .select("doc_id")
    )
    # Shape note (r14, measured): fusing the Gopher keep INTO the output
    # scan (filter(gopher_keep_column()) on the wide relation, dropping
    # the per_doc_keep branch) ran 2.1x SLOWER at sf0.1 (3.90 -> 8.14 s
    # noop): predicate pushdown inlines every metric into one Filter
    # condition, so the interpreted split/HOF work re-runs per conjunct
    # (no subexpression elimination across lambda arguments), whereas
    # this branch computes each metric ONCE in a narrow projection and
    # broadcasts the surviving doc_ids -- the big side then pays a hash
    # probe per row, not a tokenization.  Keep the staged shape.
    per_doc_keep = (
        d.select("doc_id", *gopher_metric_columns())
        .withColumn("keep", gopher_keep_column())
        .filter(F.col("keep"))
        .select("doc_id")
    )
    return (
        d.join(F.broadcast(good_sources), "source", "left_semi")
        .join(per_doc_keep, "doc_id", "left_semi")
        .join(F.broadcast(dupes), "doc_id", "left_anti")
    )


@register(
    "pipeline_curated_corpus",
    rotation_group=4,
    oracle=_SQL_CURATED,
    doc="End-to-end curation accounting: the per-(lang, source) size of "
        "the corpus a user would actually ship -- source-level quality "
        "gate AND per-document Gopher rules AND near-dup removal (LSH "
        "connected components, non-keeper members dropped; singletons "
        "never enter the pair graph and pass untouched).  Composes three "
        "registered stage operators; plans/curate.py also owns the "
        "partitioned WRITE of the same corpus (tests/test_curate_plan.py "
        "verifies landed == stage intersection and idempotent re-runs).  "
        "Scale: gate and dupe sets are small by construction and "
        "broadcast; the corpus-wide work is the stage operators' "
        "already-budgeted shuffles plus ONE final keyed agg on the "
        "low-cardinality (lang, source).",
)
def pipeline_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        curated_documents(spark, sf_dir)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


def write_curated_corpus(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, int]:
    """Run the full curation and land the corpus; returns accounting."""
    d = load_table(spark, sf_dir, "documents")
    cur = curated_documents(spark, sf_dir)
    # In-partition sort by doc length then id: a cheap stand-in for the
    # z-order key over text tables (documents have no time axis); the
    # point is bounded per-file envelopes on the sort column.  The sort
    # MUST lead with the partition columns: FileFormatWriter requires
    # its tasks ordered by (lang, source) and would re-sort with a
    # NON-STABLE sort otherwise, silently destroying the n_chars order
    # inside each file (caught by test_curated_files_are_internally_
    # sorted); leading with them satisfies the requirement so the
    # writer keeps our order.
    (
        cur.repartition("lang", "source")
        .sortWithinPartitions("lang", "source", "n_chars", "doc_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang", "source")
        .parquet(out_dir)
    )
    n_in = d.count()
    n_out = spark.read.parquet(out_dir).count()
    return {"n_in": n_in, "n_out": n_out}
