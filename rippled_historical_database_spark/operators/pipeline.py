"""Composite training-data curation pipeline: the pipeline ops
(dedup, quality, language) composed end-to-end into one plan.

A corpus-curation run is never one operator -- it is exact-dedup ->
quality gate -> language gate -> corpus accounting, fused.  Expressing
the composition as a single DataFrame plan lets Catalyst collapse the
whole thing into: one scan + one dedup shuffle + one stats shuffle --
the quality/language gates and token features ride along inside the
same stages (three exchanges total: the dedup hash, the keeper
self-join alignment, the final stats aggregation).

Scale: the md5 keys are uniform (no skew); the keeper self-join keys on
doc_id so AQE can pick SMJ or shuffled-hash without a broadcast of the
(large) keeper set; the gates prune before the stats aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.caching import scoped_persist
from ..functions.numeric import dsum, fround, sql_fround
from ..plans.registry import register
from ..sources.catalog import load_table
from .dedup import SQL_SHINGLES
from .text_analysis import SQL_GOPHER_KEEP, SQL_TOKENS, _tokens

MIN_TOKENS = 10
MEAN_TOKEN_LEN = (3.0, 12.0)  # chars/token band: too low = shredded, too high = code/garbage
KEEP_LANGS = ("en", "es")


@register(
    "pipeline_corpus_curation",
    bench=True,
    oracle=f"""
    WITH dedup AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    kept AS (
        SELECT d.source, d.lang,
               LENGTH(d.text) AS n_chars,
               len({SQL_TOKENS}) AS n_tokens
        FROM documents d JOIN dedup USING (doc_id)
        WHERE len({SQL_TOKENS}) >= {MIN_TOKENS}
          AND CAST(LENGTH(d.text) AS DOUBLE) / len({SQL_TOKENS})
              BETWEEN {MEAN_TOKEN_LEN[0]} AND {MEAN_TOKEN_LEN[1]}
          AND d.lang IN {KEEP_LANGS!r}
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_tokens AS DECIMAL(38,6))) AS DOUBLE) AS total_tokens,
           CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM kept GROUP BY source, lang ORDER BY source, lang
    """,
    doc="End-to-end corpus curation: exact dedup (keep lowest doc_id "
        "per content hash, min_by carrying the keeper's gate inputs "
        "through the same aggregation) -> token-count and mean-token-"
        "length quality gates -> language whitelist -> per-(source, "
        "lang) corpus accounting. One scan, two keyed shuffles, and "
        "only metadata ever crosses an exchange (text stays in the "
        "scan stage).",
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Dedup and attribute selection in ONE aggregation (r14 optimization,
    # guide sections 2.3/2.4/8): min_by carries the keeper row's gate
    # inputs through the content-hash groupBy, so the old keeper-id
    # join-back -- a second full scan of documents plus (at scale, where
    # the keeper set outgrows a broadcast) a doc_id shuffle of the text
    # payload -- disappears.  The one dedup exchange now moves metadata
    # only (hash, doc_id, source, lang, n_chars, n_tokens), never text,
    # and the token split runs ONCE per row in a materialized projection
    # (the join shape re-inlined it three times into the pushed-down
    # gate filter: size>=, />=, /<= each re-split every document).
    # Gates apply AFTER the aggregation, on keeper rows only -- same
    # semantics: the join filtered the keeper's own row by these exact
    # predicates on its own columns.
    tokens = _tokens()
    keepers = d.groupBy(F.md5("text").alias("_h")).agg(
        F.min_by(
            F.struct(
                F.col("source"),
                F.col("lang"),
                F.length("text").alias("n_chars"),
                F.size(tokens).alias("n_tokens"),
            ),
            F.col("doc_id"),
        ).alias("k")
    )
    n_tokens = F.col("k.n_tokens")
    mean_len = F.col("k.n_chars").cast("double") / n_tokens
    kept = (
        keepers.filter(
            (n_tokens >= MIN_TOKENS)
            & mean_len.between(*MEAN_TOKEN_LEN)
            & F.col("k.lang").isin(*KEEP_LANGS)
        )
        .select(
            F.col("k.source").alias("source"),
            F.col("k.lang").alias("lang"),
            F.col("k.n_chars").alias("n_chars"),
            F.col("k.n_tokens").alias("n_tokens"),
        )
    )
    return (
        kept.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            dsum("n_tokens").alias("total_tokens"),
            (dsum("n_chars") / F.count("*")).alias("avg_chars"),
        )
        .orderBy("source", "lang")
    )


# --------------------------------------------- near-dup re-rank composite


def _sql_cosine(a: str, b: str) -> str:
    from .similarity import _sql_dot, _sql_norm

    return f"{_sql_dot(a, b)} / ({_sql_norm(a)} * {_sql_norm(b)})"


def _register_near_dup_rerank():
    from .dedup import _SQL_LSH_VERIFIED

    oracle = (
        _SQL_LSH_VERIFIED
        + f"""
    SELECT e.doc_a, e.doc_b, e.est_jaccard,
           {_sql_cosine('ea.embedding', 'eb.embedding')} AS cosine,
           0.5 * e.est_jaccard
             + 0.5 * ({_sql_cosine('ea.embedding', 'eb.embedding')}) AS score
    FROM verified e
    JOIN embeddings ea ON ea.vec_id = e.doc_a
    JOIN embeddings eb ON eb.vec_id = e.doc_b
    ORDER BY doc_a, doc_b
    """
    )

    @register(
        "pipeline_near_dup_rerank",
        oracle=oracle,
        doc="Cross-modal near-dup curation: MinHash-LSH candidate pairs "
            "(text side) re-scored by embedding cosine (vector side), "
            "blended 50/50 -- the confirm-before-drop stage of a real "
            "dedup pipeline, where cheap text sketches propose and "
            "embeddings adjudicate.  Candidates come from the banded "
            "equi-join only; the embedding join touches candidate rows, "
            "not the corpus; both sketch stages share the single "
            "documents scan.",
    )
    def pipeline_near_dup_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .dedup import (
            _lsh_candidates,
            _lsh_verified,
            doc_shingles,
            minhash_signatures_packed,
        )
        from .similarity import _dot, _norm

        d = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        # r14 optimization: reuse the SAME persisted packed-signature
        # lineage as dedup_minhash_lsh_pairs (its round-13 rewrite).
        # The old shape rebuilt the minhash relation inline and fed it
        # to four plan branches (band self-join a/b + verification
        # sa/sb), re-running the shingle explode + 8x md5 + two
        # aggregations per branch (measured 47.9 s noop at sf0.1 --
        # the most expensive query in the registry census).  Banding
        # is a per-row slice of the persisted signature; candidates,
        # agreement counts, and est_jaccard are value-identical.
        sig = scoped_persist(minhash_signatures_packed(doc_shingles(d)))
        est = _lsh_verified(_lsh_candidates(sig), sig)
        # Embedding re-rank with norms below the join (one interpreted
        # fold per candidate pair instead of three; bit-identical).
        ea = emb.select(
            F.col("vec_id").alias("ea_id"),
            F.col("embedding").alias("ea"),
            _norm(F.col("embedding")).alias("na"),
        )
        eb = emb.select(
            F.col("vec_id").alias("eb_id"),
            F.col("embedding").alias("eb"),
            _norm(F.col("embedding")).alias("nb"),
        )
        cosine = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
        return (
            est.join(ea, F.col("doc_a") == F.col("ea_id"))
            .join(eb, F.col("doc_b") == F.col("eb_id"))
            .select(
                "doc_a",
                "doc_b",
                "est_jaccard",
                cosine.alias("cosine"),
                (0.5 * F.col("est_jaccard") + 0.5 * cosine).alias("score"),
            )
            .orderBy("doc_a", "doc_b")
        )


_register_near_dup_rerank()


# ------------------------------------- near-dup-aware curation composite


def _register_near_dup_curation():
    from .dedup import CC_JACCARD_MIN, _SQL_LSH_VERIFIED

    oracle = (
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
    reach AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
        UNION
        SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    dupes AS (
        SELECT node AS doc_id FROM reach GROUP BY node
        HAVING node <> MIN(label)
    ),
    kept AS (
        SELECT d.source, d.lang,
               LENGTH(d.text) AS n_chars,
               len({SQL_TOKENS}) AS n_tokens
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM dupes)
          AND len({SQL_TOKENS}) >= {MIN_TOKENS}
          AND CAST(LENGTH(d.text) AS DOUBLE) / len({SQL_TOKENS})
              BETWEEN {MEAN_TOKEN_LEN[0]} AND {MEAN_TOKEN_LEN[1]}
          AND d.lang IN {KEEP_LANGS!r}
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_tokens AS DECIMAL(38,6))) AS DOUBLE) AS total_tokens
    FROM kept GROUP BY source, lang ORDER BY source, lang
    """
    )

    @register(
        "pipeline_near_dup_curation",
        oracle=oracle,
        doc="Curation v2: NEAR-dup removal, not just exact -- LSH pair "
            "graph -> connected components -> drop every non-keeper "
            "cluster member -> quality/language gates -> per-(source, "
            "lang) accounting.  The duplicate set arrives as a "
            "(small) anti-join side: clusters hold only confirmed "
            "near-dups, so at 100 TB the anti-join broadcasts the dupe "
            "list while the corpus scan stays shuffle-free.  Oracle "
            "walks the same component graph with a recursive CTE.",
    )
    def pipeline_near_dup_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .dedup import dedup_connected_components

        d = load_table(spark, sf_dir, "documents")
        dupes = (
            dedup_connected_components(spark, sf_dir)
            .filter(~F.col("is_keeper"))
            .select("doc_id")
        )
        tokens = _tokens()
        n_tokens = F.size(tokens)
        mean_len = F.length("text").cast("double") / n_tokens
        kept = (
            d.join(dupes, "doc_id", "left_anti")
            .filter(
                (n_tokens >= MIN_TOKENS)
                & mean_len.between(*MEAN_TOKEN_LEN)
                & F.col("lang").isin(*KEEP_LANGS)
            )
            .select("source", "lang", n_tokens.alias("n_tokens"))
        )
        return (
            kept.groupBy("source", "lang")
            .agg(
                F.count("*").alias("n_docs"),
                dsum("n_tokens").alias("total_tokens"),
            )
            .orderBy("source", "lang")
        )


_register_near_dup_curation()


# --------------------------------------------------- decontamination

# Synthetic eval suite: every 97th document stands in for the held-out
# benchmark.  Real pipelines load the benchmark corpus from a path; the
# plan shape (broadcast the benchmark shingle set) is identical.
BENCH_MOD = 97
CONTAM_THRESHOLD = 0.05  # fraction of a doc's shingles seen in the benchmark


@register(
    "pipeline_decontaminate",
    oracle=f"""
    WITH ds AS (
        SELECT doc_id, UNNEST({SQL_SHINGLES}) AS shingle FROM documents
    ),
    bench AS (
        SELECT DISTINCT shingle FROM ds WHERE doc_id % {BENCH_MOD} = 0
    ),
    tot AS (
        SELECT doc_id, len({SQL_SHINGLES}) AS n_shingles
        FROM documents WHERE doc_id % {BENCH_MOD} <> 0
    ),
    hits AS (
        SELECT t.doc_id, COUNT(*) AS n_overlap
        FROM ds t JOIN bench b USING (shingle)
        WHERE t.doc_id % {BENCH_MOD} <> 0
        GROUP BY t.doc_id
    )
    SELECT tot.doc_id,
           CAST(tot.n_shingles AS BIGINT) AS n_shingles,
           CAST(h.n_overlap AS BIGINT) AS n_overlap,
           CAST(h.n_overlap AS DOUBLE) / tot.n_shingles AS contamination
    FROM tot JOIN hits h USING (doc_id)
    WHERE CAST(h.n_overlap AS DOUBLE) / tot.n_shingles >= {CONTAM_THRESHOLD}
    ORDER BY doc_id
    """,
    doc="Benchmark decontamination (the GPT-3/PaLM n-gram overlap "
        "check): flag training documents sharing >= "
        f"{CONTAM_THRESHOLD:.0%} of their word-3-gram shingles with the "
        "held-out eval set.  Scale: the benchmark is small by "
        "construction (eval suites are MBs against a 100 TB corpus), so "
        "its distinct shingle set is BROADCAST -- the train side never "
        "shuffles on the shingle; the only exchange is ONE per-doc "
        "aggregation whose count(*) is the shingle total and "
        "count(hit) the overlap, so the expensive shingle generation "
        "runs exactly twice (benchmark + train lineages, 14.5 s -> "
        "1.1 s at sf0.1 vs the three-lineage form).",
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from .dedup import _shingles_over, doc_shingles

    d = load_table(spark, sf_dir, "documents")
    ds = doc_shingles(d)
    bench = (
        ds.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("shingle")
        .distinct()
    )
    # One aggregation computes totals AND overlaps: left-join the train
    # shingles to the broadcast benchmark set, count(*) = the doc's
    # distinct shingle count (ds is distinct per doc), count(hit) = the
    # overlap.  This keeps the expensive shingle generation to exactly
    # two lineages (benchmark side + train side) -- a separate totals
    # pass re-ran the interpreted shingle HOF a third time, and
    # computing it inline over _tokens() re-ran the regex split per
    # gram reference (measured 12 s vs 0.6 s at sf0.1 for that leg).
    flagged = (
        ds.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(broadcast(bench.withColumn("hit", F.lit(1))), "shingle", "left")
    )
    agg = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.count("hit").alias("n_overlap"),
    )
    contamination = F.col("n_overlap").cast("double") / F.col("n_shingles")
    return (
        agg.filter(F.col("n_overlap") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            contamination.alias("contamination"),
        )
        .filter(F.col("contamination") >= CONTAM_THRESHOLD)
        .orderBy("doc_id")
    )


# ------------------------------------------------ split leakage audit


def _split_case(key: str) -> str:
    # Rendered from the split contract defined once in sampling.py --
    # no local copy of the salt or thresholds.
    from .sampling import sql_split_case

    return sql_split_case(key)


def _leakage_oracle() -> str:
    from .dedup import JACCARD_THRESHOLD, SQL_PAIR_STATS

    return f"""
    WITH {SQL_PAIR_STATS}
    SELECT s.doc_a, s.doc_b,
           CAST(s.n_common AS DOUBLE) / (s.n_a + s.n_b - s.n_common)
             AS jaccard,
           {_split_case('s.doc_a')} AS split_a,
           {_split_case('s.doc_b')} AS split_b
    FROM stats s
    WHERE CAST(s.n_common AS DOUBLE) / (s.n_a + s.n_b - s.n_common)
          >= {JACCARD_THRESHOLD}
      AND {_split_case('s.doc_a')} <> {_split_case('s.doc_b')}
    ORDER BY s.doc_a, s.doc_b
    """


@register(
    "pipeline_split_leakage",
    rotation_group=2,
    oracle=_leakage_oracle(),
    doc="Train/val/test split-leakage audit: every near-duplicate pair "
        "(shared-shingle Jaccard >= the dedup threshold) whose two "
        "members landed in DIFFERENT splits of sample_hash_splits.  "
        "Each such pair is evaluation contamination -- the val/test "
        "member leaks training signal -- and the canonical fix is "
        "splitting by CLUSTER keeper instead of by document.  Composes "
        "two verified relations (the pair stats join and the salted-"
        "hash split projection); the split assignment is a zero-cost "
        "map-side CASE on both pair members, so the audit adds NO "
        "shuffle beyond the pair generation it reuses.",
)
def pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import JACCARD_THRESHOLD, shingle_pair_stats
    from .sampling import split_col

    d = load_table(spark, sf_dir, "documents")
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    pairs = (
        shingle_pair_stats(d)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    # r15 negative result (measured, reverted): computing split_a /
    # split_b inline from doc_a/doc_b (the split is a pure salted-md5
    # CASE of the id, exactly what the oracle does) instead of joining
    # the (doc_id, split) projection back onto each member measured
    # 2.64 -> 6.94 s best-of-5 noop at sf0.1.  With the splits inline,
    # the deterministic split_a != split_b filter is pushed BELOW the
    # pair-stats aggregation and its md5s run per shingle-join candidate
    # row (millions) instead of per aggregated pair; the broadcast
    # join-back is the per-doc compute-once-and-attach form (guide
    # section 8 in miniature) and blocks exactly that pushdown.
    splits = d.select("doc_id", split_col().alias("split"))
    sa = splits.alias("sa")
    sb = splits.alias("sb")
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(F.col("sa.split") != F.col("sb.split"))
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.col("sa.split").alias("split_a"),
            F.col("sb.split").alias("split_b"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------- boilerplate chunk scrubbing

# CCNet/RefinedWeb-style repeated-segment removal, re-expressed over
# token chunks: any CHUNK_TOKENS-token segment present in at least
# BOILER_PCT% of documents is boilerplate (navigation, headers, cookie
# banners in real corpora) and is cut from every document, preserving
# the order of what remains.  The synthetic corpus has no newlines, so
# the segmentation unit is a token chunk; production swaps the
# segmenter (split on \n) without touching the counting/scrub shape.
CHUNK_TOKENS = 2
BOILER_PCT = 5  # segment is boilerplate when nd * 100 >= PCT * n_docs


@register(
    "pipeline_boilerplate_scrub",
    rotation_group=3,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKENS} AS t FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM documents),
    chunks AS (
        SELECT doc_id, i AS cid,
               array_to_string(
                   t[i * {CHUNK_TOKENS} + 1 : i * {CHUNK_TOKENS} + {CHUNK_TOKENS}],
                   ' ') AS chunk
        FROM toks,
             UNNEST(range(0, CAST(ceil(len(t) / {CHUNK_TOKENS}.0) AS BIGINT)))
               AS r(i)
    ),
    freq AS (
        SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1
    ),
    boiler AS (
        SELECT f.chunk FROM freq f CROSS JOIN tot
        WHERE f.nd * 100 >= {BOILER_PCT} * tot.n
    ),
    marked AS (
        SELECT c.doc_id, c.cid, c.chunk, b.chunk IS NOT NULL AS is_b
        FROM chunks c LEFT JOIN boiler b ON c.chunk = b.chunk
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(COUNT(*) FILTER (is_b) AS BIGINT) AS n_removed,
           md5(COALESCE(string_agg(CASE WHEN NOT is_b THEN chunk END,
                                   ' ' ORDER BY cid), '')) AS scrubbed_hash
    FROM marked GROUP BY doc_id ORDER BY doc_id
    """,
    doc=f"Boilerplate segment removal (CCNet's repeated-line cut, "
        f"RefinedWeb line-wise filtering): {CHUNK_TOKENS}-token chunks "
        f"occurring in >= {BOILER_PCT}% of documents are dropped from "
        "every document; the scrubbed text is rebuilt in chunk order "
        "and emitted as an md5 so the driver compares the full "
        "reconstruction without shipping text.  Shuffle budget: ONE "
        "keyed exchange to count distinct docs per chunk, ONE keyed "
        "exchange to rebuild per doc; the boilerplate set itself is "
        "tiny by construction (segments above a corpus-fraction "
        "threshold) and BROADCASTS into the scrub join, so the chunk "
        "stream never shuffles for the removal step.  The percentage "
        "gate is all-integer (nd*100 >= pct*n) -- no float threshold "
        "to diverge between engines.",
)
def pipeline_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens().alias("t"))
    c = CHUNK_TOKENS
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(f"sequence(0, cast(ceil(size(t) / {c}.0) as int) - 1)")
        ).alias("cid"),
        F.col("t"),
    ).select(
        "doc_id",
        "cid",
        F.expr(f"array_join(slice(t, cid * {c} + 1, {c}), ' ')").alias("chunk"),
    )
    tot = d.agg(F.count("*").alias("n"))
    boiler = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("nd") * 100 >= BOILER_PCT * F.col("n"))
        .select("chunk", F.lit(1).alias("is_b"))
    )
    marked = chunks.join(F.broadcast(boiler), "chunk", "left")
    kept_chunk = F.when(F.col("is_b").isNull(), F.struct("cid", "chunk"))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count("is_b").alias("n_removed"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_chunk)),
                        lambda s: s["chunk"],
                    ),
                    " ",
                ).cast("binary")
            ).alias("scrubbed_hash"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------ source-level quality gate

# RefinedWeb/C4-style DOMAIN filtering: documents are admitted or
# rejected by the aggregate quality of their whole source, not only
# per-document rules -- a domain whose keep-rate falls below the gate
# is dropped wholesale (spam farms pass per-doc rules individually
# while the domain is garbage in aggregate).
SOURCE_GATE_PCT = 76  # source passes iff n_keep * 100 >= PCT * n_docs


@register(
    "pipeline_source_gate",
    rotation_group=3,
    oracle=f"""
    WITH {SQL_GOPHER_KEEP},
    per_source AS (
        SELECT d.source,
               COUNT(*) AS n_docs,
               CAST(COUNT(*) FILTER (g.keep) AS BIGINT) AS n_keep,
               CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
        FROM documents d JOIN gopher_keep g ON d.doc_id = g.doc_id
        GROUP BY d.source
    )
    SELECT source, n_docs, n_keep, total_chars,
           {sql_fround('CAST(n_keep AS DOUBLE) / n_docs', 6)} AS keep_rate,
           n_keep * 100 >= {SOURCE_GATE_PCT} * n_docs AS source_kept
    FROM per_source
    ORDER BY source
    """,
    doc=f"Source-level quality gate (RefinedWeb's domain filtering, "
        "C4's blocklist stage, generalized): per-document Gopher keep "
        "flags aggregate per source, and the whole source is admitted "
        f"only when its keep-rate clears {SOURCE_GATE_PCT}% -- an "
        "integer-arithmetic gate (n_keep*100 >= pct*n_docs), so the "
        "cut is bit-exact in both engines.  Composes the registered "
        "gopher operator rather than re-deriving it (one formulation, "
        "two consumers -- the oracle shares the same CTE).  Shuffle "
        "budget: the per-doc flags are a zero-shuffle projection; ONE "
        "keyed exchange on source produces the gate table, which is "
        "tiny (distinct sources) and broadcasts back when filtering "
        "the corpus.",
)
def pipeline_source_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_analysis import gopher_keep_column, gopher_metric_columns

    # The keep flag is computed IN THIS SCAN (gopher metrics are
    # reusable column expressions), not joined back from the per-doc
    # operator's output: composing via a doc_id join re-shuffled the
    # whole corpus and measured 3.4x wall at 10x data; as a fused
    # projection + one keyed agg it is the flat ~2x the other
    # single-exchange operators show.
    d = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", *gopher_metric_columns()
    )
    per_source = (
        d.withColumn("keep", gopher_keep_column())
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("keep"), 1)).alias("n_keep"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_keep",
        "total_chars",
        fround(F.col("n_keep").cast("double") / F.col("n_docs"), 6).alias(
            "keep_rate"
        ),
        (F.col("n_keep") * 100 >= SOURCE_GATE_PCT * F.col("n_docs")).alias(
            "source_kept"
        ),
    ).orderBy("source")


# ---------------------------------- quality-ranked cluster keepers


def _register_quality_keeper():
    from .dedup import CC_JACCARD_MIN, _SQL_LSH_VERIFIED

    oracle = (
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
    reach AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
        UNION
        SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node
    ),
    ranked AS (
        SELECT c.component, c.doc_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.component
                   ORDER BY d.n_chars DESC, c.doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY c.component) AS sz
        FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT component,
           CAST(sz AS BIGINT) AS cluster_size,
           doc_id AS keeper_doc_id,
           n_chars AS keeper_n_chars
    FROM ranked WHERE rk = 1 ORDER BY component
    """
    )

    @register(
        "pipeline_quality_keeper",
        rotation_group=6,
        oracle=oracle,
        doc="Quality-ranked keeper election per duplicate cluster: "
            "where dedup_connected_components keeps the MIN doc_id "
            "(arbitrary), production dedup keeps the best cluster "
            "member -- Lee et al. (2022) keep the longest duplicate, "
            "RefinedWeb the highest-quality one -- so re-crawls that "
            "truncate a page don't evict its full-length copy.  "
            "Election is a row_number over (n_chars DESC, doc_id) "
            "inside each component: the cluster relation is only "
            "confirmed near-dups (tiny vs the corpus -- the pair graph "
            "is the expensive artifact and it is reused, not rebuilt), "
            "so the per-cluster window shuffles a set bounded by the "
            "duplicate count, never the corpus, and downstream curation "
            "swaps its anti-join list for non-keepers by quality with "
            "zero added corpus passes.  Oracle: same component walk as "
            "the CC oracle plus the same deterministic argmax.",
    )
    def pipeline_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql.window import Window

        from .dedup import dedup_connected_components

        d = load_table(spark, sf_dir, "documents")
        labels = dedup_connected_components(spark, sf_dir).select(
            "doc_id", "component"
        )
        members = d.join(F.broadcast(labels), "doc_id").select(
            "component", "doc_id", "n_chars"
        )
        w = Window.partitionBy("component").orderBy(
            F.col("n_chars").desc(), "doc_id"
        )
        wc = Window.partitionBy("component")
        return (
            members.select(
                "component",
                "doc_id",
                "n_chars",
                F.row_number().over(w).alias("rk"),
                F.count("*").over(wc).cast("bigint").alias("cluster_size"),
            )
            .filter(F.col("rk") == 1)
            .select(
                "component",
                "cluster_size",
                F.col("doc_id").alias("keeper_doc_id"),
                F.col("n_chars").alias("keeper_n_chars"),
            )
            .orderBy("component")
        )


_register_quality_keeper()
