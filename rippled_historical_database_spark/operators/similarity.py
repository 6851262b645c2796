"""Similarity search over embedding columns (array<float>).

Beyond the reference's surface: approximate-nearest-neighbor operators
for training-data pipelines (embedding near-dup, semantic retrieval).

Numeric determinism: dot products are computed as a *sequential left
fold* of per-element double products (``zip_with`` + ``aggregate``).
Per-element float->double casts and the fold order are identical in
DuckDB (``list_reduce``), so even 1e-8-scale cosine values are verified
bit-for-bit against the oracle -- top-k order can't diverge between
engines.

Scale paths:
  * brute-force top-k: broadcast the (small) query set, scan the corpus
    once -- embarrassingly parallel, no shuffle; the right baseline and
    the right answer when the query set is small.
  * LSH (random-hyperplane) bucketing: md5-derived deterministic
    hyperplane signs -> 8-bit signature; candidate generation becomes a
    bucket equi-join.  An IVF layout does the same with learned
    centroids; the relational shape is identical (bucket -> equi-join).
  * For 100 TB, the vectorized alternative is a Pandas UDF (Arrow batch
    + BLAS); see ``ann_cosine_pandas`` for the plumbing (its emitted
    cosine is rounded to 6 decimals on both sides so the oracle compare
    stays exact despite BLAS accumulation order).
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.localrel import local_df
from ..functions.numeric import dsum, fround, sql_dsum, sql_fround
from ..plans.registry import register
from ..sources.catalog import load_table

DIM = 64
N_QUERIES = 3  # query vectors: vec_id < 3
TOP_K = 5


def _dot(a: Column, b: Column) -> Column:
    """Deterministic sequential-fold dot product in double over the two
    arrays' true lengths (so a prefix slice folds only its prefix).

    r15 NEGATIVE RESULT (measured, reverted): unrolling this into 64
    explicit element_at products (to escape the interpreted HOF
    evaluator) ran 3.0-4.4x SLOWER across the cosine family in a clean
    back-to-back A/B (ann_cosine_topk 0.84 -> 2.57 s noop,
    ann_lsh_recall 2.32 -> 9.31, family total 30.0 -> 72.3 s at
    sf0.1): the 64-term tree, duplicated into each consuming operator,
    blows past codegen method limits and falls back to interpreted
    evaluation of 128 element_at nodes -- far worse than zip_with +
    aggregate's single specialized array pass.  The same lesson as
    r14's SimHash lane-fold revert: per-invocation expression weight
    beats invocation count in the interpreted evaluator.
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _sql_dot(a: str, b: str, n: int = DIM) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {n}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        f"(acc, x) -> acc + x)"
    )


def _sql_norm(a: str) -> str:
    return f"sqrt({_sql_dot(a, a)})"


def _unit_normalized(df: DataFrame, *keep: str) -> DataFrame:
    """(keep..., embedding) with the embedding unit-normalized.

    r14 optimization: the norm is staged as a materialized column and
    referenced TWICE in the per-element lambda (null guard + divisor)
    ON PURPOSE -- CollapseProject inlines a single-reference non-cheap
    alias into the lambda body, and an inlined norm fold re-runs once
    per ELEMENT: O(dim^2) interpreted work per row, which the plan
    probe confirmed for the old `x / _norm(embedding)` shape.  The
    guard is an identity: x / n and CASE WHEN n IS NOT NULL THEN x / n
    END propagate nulls identically, so the normalized values are
    bit-identical to the oracle's list_transform(x -> x / norm).
    """
    staged = df.select(*keep, "embedding", _norm(F.col("embedding")).alias("_n"))
    return staged.select(
        *keep,
        F.transform(
            "embedding",
            lambda x: F.when(
                F.col("_n").isNotNull(), x.cast("double") / F.col("_n")
            ),
        ).alias("embedding"),
    )


def _top_k(scored: DataFrame, order: Column, k: int | None = TOP_K) -> DataFrame:
    """Rank scored (query_id, neighbor_id, <score>) rows per query by
    ``order``, ties to the lower neighbor_id, into a ``rank`` column;
    keep ranks <= ``k`` (every rank when ``k`` is None).  The one top-k
    tail of every near-neighbour query; _sql_rank is its oracle twin."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    return ranked if k is None else ranked.filter(F.col("rank") <= k)


def _sql_rank(order: str) -> str:
    return (
        f"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {order}, "
        "neighbor_id) AS rank"
    )


def _recall_at_k(gt: DataFrame, found: DataFrame, *by: str) -> DataFrame:
    """Per (*by, query_id): how many of the ground truth's (query_id,
    neighbor_id) rows ``found`` recovers -- n_true, n_hit and their
    ratio.  ``gt`` and ``found`` both carry (*by, query_id,
    neighbor_id); the left join keeps a query with no hits at 0/k."""
    keys = (*by, "query_id", "neighbor_id")
    hits = found.select(*[F.col(c).alias(f"f_{c}") for c in keys])
    on = F.col(keys[0]) == F.col(f"f_{keys[0]}")
    for c in keys[1:]:
        on = on & (F.col(c) == F.col(f"f_{c}"))
    return (
        gt.join(hits, on, "left")
        .groupBy(*by, "query_id")
        .agg(
            F.count("*").alias("n_true"),
            F.count("f_neighbor_id").alias("n_hit"),
            (
                F.count("f_neighbor_id").cast("double") / F.count("*")
            ).alias("recall_at_k"),
        )
        .orderBy(*by, "query_id")
    )


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
               {_sql_dot('q.embedding', 'c.embedding')}
                 / ({_sql_norm('q.embedding')} * {_sql_norm('c.embedding')})
                 AS cosine
        FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
    ),
    ranked AS (SELECT *, {_sql_rank('cosine DESC')} FROM scored)
    SELECT query_id, neighbor_id, label, cosine, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="Brute-force cosine top-k: broadcast query set x corpus scan, "
        "deterministic fold dot product, row_number top-k per query. The "
        "exact baseline every ANN variant is measured against.",
    bench=True,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # r14 optimization (guide section 1.2 "per-task work"): norms are
    # materialized BELOW the join, once per vector, instead of inside
    # the per-pair cosine -- the higher-order-function fold is
    # interpreted (no codegen), and the old shape ran THREE 64-element
    # folds per (query, corpus) pair (dot, |q|, |c|); now each pair
    # runs one.  sqrt(fold(x,x)) is computed from the same IEEE ops as
    # before, so cosine = dot / (q_norm * c_norm) is bit-identical.
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("embedding").alias("c_emb"),
        _norm(F.col("embedding")).alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", "label",
            (
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
        )
    )
    return _top_k(scored, F.col("cosine").desc()).orderBy("query_id", "rank")


NEAR_DUP_TAU = 0.8
NEAR_DUP_SCOPE = 300  # bound the all-pairs baseline


@register(
    "ann_cosine_near_dup",
    oracle=f"""
    WITH sub AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < {NEAR_DUP_SCOPE}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_sql_dot('a.embedding', 'b.embedding')}
             / ({_sql_norm('a.embedding')} * {_sql_norm('b.embedding')}) AS cosine
    FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    WHERE {_sql_dot('a.embedding', 'b.embedding')}
             / ({_sql_norm('a.embedding')} * {_sql_norm('b.embedding')})
          >= {NEAR_DUP_TAU}
    ORDER BY vec_a, vec_b
    """,
    doc="Embedding-cosine near-dup pairs (threshold {tau}) -- the "
        "brute-force baseline on a bounded scope; the LSH bucket join "
        "(ann_lsh_buckets) is the scale path that replaces the all-pairs "
        "comparison.".format(tau=NEAR_DUP_TAU),
)
def ann_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < NEAR_DUP_SCOPE
    )
    # Norms below the join (r14, same rewrite as ann_cosine_topk): the
    # threshold filter and the output projection each evaluate the
    # cosine, so staging |a|/|b| cuts the per-pair folds 6 -> 2.
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_TAU)
        .orderBy("vec_a", "vec_b")
    )


N_PLANES = 8


def _plane_sign_sql(i: int) -> str:
    # Deterministic pseudo-random hyperplane: sign from md5 parity of (i, j).
    return (
        f"list_transform(generate_series(1, {DIM}), j -> CASE WHEN "
        f"CAST('0x' || substr(md5('{i}-' || j), 1, 1) AS INT) % 2 = 0 "
        f"THEN 1.0 ELSE -1.0 END)"
    )


def _plane_signs_py(i: int) -> list[float]:
    """The hyperplane sign vector as Python floats.

    r15: the signs are row-INDEPENDENT deterministic constants (md5
    parity of the literal string "i-j"), but the old per-row
    `transform(sequence(...), md5...)` expression was not constant-
    folded by Catalyst (higher-order functions are never foldable), so
    EVERY corpus row re-ran 8 planes x 64 interpreted md5 calls -- and
    the r15 unrolled `_dot` would have re-evaluated that array once
    per element on top.  md5 is md5: hashlib reproduces the engine's
    (and the oracle's) parity bit for bit, so the signs fold to plan-
    time literals and the per-row work collapses to 64 multiplies per
    plane in generated code.  Values, buckets and results unchanged.
    """
    return [
        1.0 if int(hashlib.md5(f"{i}-{j}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
        for j in range(1, DIM + 1)
    ]


def _plane_sign(i: int) -> Column:
    return F.array(*[F.lit(s) for s in _plane_signs_py(i)])


def _lsh_bucket() -> Column:
    bucket = F.lit(0)
    for i in range(N_PLANES):
        proj = _dot(F.col("embedding"), _plane_sign(i))
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(0)
    return bucket


def _sql_lsh_bucket() -> str:
    terms = " + ".join(
        f"(CASE WHEN {_sql_dot('embedding', _plane_sign_sql(i))} > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(N_PLANES)
    )
    return terms


@register(
    "ann_lsh_buckets",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, label, {_sql_lsh_bucket()} AS bucket FROM embeddings
    )
    SELECT bucket, COUNT(*) AS n_vectors, COUNT(DISTINCT label) AS n_labels
    FROM sig GROUP BY bucket
    ORDER BY bucket
    """,
    doc="Random-hyperplane LSH bucketing: 8 md5-derived deterministic "
        "hyperplanes -> sign bits -> 8-bit bucket signature; the bucket "
        "histogram. Near-neighbor search then becomes a bucket equi-join "
        "(+ neighboring-bucket probes), turning O(n^2) similarity into a "
        "shuffle on the signature -- the same relational shape as an IVF "
        "index with learned centroids.",
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    sig = emb.select("vec_id", "label", _lsh_bucket().alias("bucket"))
    return (
        sig.groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.countDistinct("label").alias("n_labels"))
        .orderBy("bucket")
    )


@register(
    "ann_lsh_bucketed_topk",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id, label, embedding, {_sql_lsh_bucket()} AS bucket
        FROM embeddings
    ),
    q AS (SELECT * FROM sig WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.embedding', 'c.embedding')}
                 / ({_sql_norm('q.embedding')} * {_sql_norm('c.embedding')})
                 AS cosine
        FROM q JOIN sig c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
    ),
    ranked AS (SELECT *, {_sql_rank('cosine DESC')} FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="LSH-bucketed ANN top-k (the IVF-style scale variant of "
        "ann_cosine_topk): exact cosine only within the query's bucket -- "
        "candidate set ~n/256 of the corpus per probe; recall tunes with "
        "bands/probes, cost stays an equi-join.",
)
def ann_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Norms below the join, one interpreted fold per pair instead of
    # three -- same rewrite as ann_cosine_topk, bit-identical cosine.
    sig = emb.select(
        "vec_id", "label", "embedding",
        _lsh_bucket().alias("bucket"),
        _norm(F.col("embedding")).alias("c_norm"),
    )
    q = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
        F.col("c_norm").alias("q_norm"),
    )
    scored = (
        F.broadcast(q)
        .join(
            sig,
            (F.col("q_bucket") == F.col("bucket")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine"),
        )
    )
    return _top_k(scored, F.col("cosine").desc()).orderBy("query_id", "rank")


@register(
    "embedding_label_stats",
    oracle=f"""
    SELECT label, COUNT(*) AS n_vectors,
           CAST(SUM(CAST({_sql_norm('embedding')} AS DECIMAL(38,9))) AS DOUBLE)
             / COUNT(*) AS avg_norm
    FROM embeddings GROUP BY label
    ORDER BY label
    """,
    doc="Embedding column statistics per label: count + mean L2 norm "
        "(decimal-exact accumulation) -- the sanity profile computed "
        "before any similarity pipeline.",
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            (
                F.sum(_norm(F.col("embedding")).cast("decimal(38,9)")).cast("double")
                / F.count("*")
            ).alias("avg_norm"),
        )
        .orderBy("label")
    )


@register(
    "ann_cosine_pandas",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.embedding', 'c.embedding')}
                 / ({_sql_norm('q.embedding')} * {_sql_norm('c.embedding')})
                 AS cosine
        FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               {_sql_rank(sql_fround('cosine', 6) + ' DESC')}
        FROM scored
    )
    SELECT query_id, neighbor_id,
           (FLOOR((cosine) * 1000000e0 + 0.5) / 1000000e0) AS cosine, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="Vectorized ANN plumbing for 100 TB: mapInPandas + numpy matmul "
        "over Arrow batches (queries broadcast to every batch). Same "
        "semantics as ann_cosine_topk; ~100x less per-row overhead than "
        "any per-row expression at scale. BOTH ranking and the emitted "
        "cosine use the 6-decimal rounding (window ORDER BY on the "
        "rounded score, neighbor_id tie-break): two neighbors whose true "
        "cosines differ by less than the ~1e-14 BLAS-vs-sequential-fold "
        "accumulation error would otherwise order differently across "
        "engines at the top-k boundary.",
)
def ann_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).collect()

    def score(batches):
        import numpy as np

        qids = np.array([r.vec_id for r in queries])
        qm = np.array([r.embedding for r in queries], dtype=np.float64)
        qm /= np.linalg.norm(qm, axis=1, keepdims=True)
        for pdf in batches:
            cm = np.array(list(pdf["embedding"]), dtype=np.float64)
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            sims = qm @ cm.T  # (n_queries, batch)
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qids, len(pdf)),
                    "neighbor_id": np.tile(pdf["vec_id"].to_numpy(), len(qids)),
                    "cosine": sims.ravel(),
                }
            )
            yield out[out.query_id != out.neighbor_id]

    scored = emb.mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    )
    return (
        _top_k(scored, fround("cosine", 6).desc())
        .withColumn("cosine", fround("cosine", 6))
        .orderBy("query_id", "rank")
    )


# IVF: 8 deterministic centroids (fixed corpus vectors stand in for the
# offline k-means training run production would do), 2-cell probing.
IVF_CENTROID_IDS = (37, 101, 166, 230, 293, 358, 422, 487)
IVF_NPROBE = 2

_SQL_CENTROIDS = ", ".join(str(i) for i in IVF_CENTROID_IDS)

# The IVF index in oracle SQL: every vector's nearest centroid cell
# (argmax cosine, ties to the lower cell_id) and each query's top
# IVF_NPROBE cells; shared by ann_ivf_topk, dedup_semantic_clusters
# and the IVF+PQ composition.
_SQL_IVF_CELLS = f"""
    centroids AS (
        SELECT vec_id AS cell_id, embedding AS c_emb
        FROM embeddings WHERE vec_id IN ({_SQL_CENTROIDS})
    ),
    assign_scored AS (
        SELECT e.vec_id, e.embedding, k.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   {_sql_dot('e.embedding', 'k.c_emb')}
                     / ({_sql_norm('e.embedding')} * {_sql_norm('k.c_emb')})
                   DESC, k.cell_id) AS rn
        FROM embeddings e CROSS JOIN centroids k
    ),
    assigned AS (
        SELECT vec_id, embedding, cell_id FROM assign_scored WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cell_id FROM (
            SELECT q.vec_id AS query_id, k.cell_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                       {_sql_dot('q.embedding', 'k.c_emb')}
                         / ({_sql_norm('q.embedding')} * {_sql_norm('k.c_emb')})
                       DESC, k.cell_id) AS rn
            FROM embeddings q CROSS JOIN centroids k
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rn <= {IVF_NPROBE}
    )"""


def _ivf_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(emb_n, centroids): the embeddings with their norm staged as
    ``e_norm``, and the (cell_id, c_emb, c_norm) centroid vectors.

    Norms are staged below the joins (r14, same rewrite as
    ann_cosine_topk): |e| is one interpreted fold per vector and |c| one
    per broadcast centroid, so each (vector, centroid) pair runs only
    the dot fold; cosine arithmetic is bit-identical."""
    emb_n = load_table(spark, sf_dir, "embeddings").withColumn(
        "e_norm", _norm(F.col("embedding"))
    )
    centroids = emb_n.filter(F.col("vec_id").isin(*IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("c_emb"),
        F.col("e_norm").alias("c_norm"),
    )
    return emb_n, centroids


def _cell_cos() -> Column:
    return _dot(F.col("embedding"), F.col("c_emb")) / (
        F.col("e_norm") * F.col("c_norm")
    )


def _ivf_assign(emb_n: DataFrame, centroids: DataFrame, *carry: str) -> DataFrame:
    """(vec_id, *carry, cell_id): every vector's nearest centroid cell,
    argmax cosine with ties to the lower cell_id.

    r15: a max-struct hash aggregate with map-side partials instead of
    a row_number window (sort + full-pair exchange).  The struct
    comparison selects the identical row: (cos DESC, cell_id ASC) is
    max(struct(cos, -cell_id, ...)) -- integer negation is exact and
    flips only the tie-break; the ``carry`` columns ride in trailing
    struct fields, never compared ((cos, -cell_id) is unique per
    vector)."""
    best = F.max(F.struct(
        _cell_cos().alias("c"),
        (-F.col("cell_id")).alias("nc"),
        *[F.col(c).alias(c) for c in carry],
    ))
    return (
        emb_n.crossJoin(F.broadcast(centroids))
        .groupBy("vec_id")
        .agg(best.alias("b"))
        .select(
            "vec_id",
            *[F.col(f"b.{c}").alias(c) for c in carry],
            (-F.col("b.nc")).alias("cell_id"),
        )
    )


def _ivf_probes(emb_n: DataFrame, centroids: DataFrame) -> DataFrame:
    """(query_id, cell_id): each query's top IVF_NPROBE cells by cosine,
    ties to the lower cell_id -- a window over queries x centroids
    (N_QUERIES x 8 rows), ranked per query."""
    by_query = Window.partitionBy("query_id").orderBy(
        _cell_cos().desc(), F.col("cell_id")
    )
    return (
        emb_n.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding", "e_norm")
        .crossJoin(F.broadcast(centroids))
        .withColumn("rn", F.row_number().over(by_query))
        .filter(F.col("rn") <= IVF_NPROBE)
        .select("query_id", "cell_id")
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_SQL_IVF_CELLS},
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, a.cell_id,
               {_sql_dot('q.embedding', 'a.embedding')}
                 / ({_sql_norm('q.embedding')} * {_sql_norm('a.embedding')})
                 AS cosine
        FROM probes p
        JOIN assigned a ON a.cell_id = p.cell_id
        JOIN embeddings q ON q.vec_id = p.query_id
        WHERE a.vec_id <> p.query_id
    ),
    ranked AS (SELECT *, {_sql_rank('cosine DESC')} FROM scored)
    SELECT query_id, neighbor_id, cell_id, cosine, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="IVF-style ANN top-k: assign every vector to its nearest of 8 "
        "centroids (argmax cosine, deterministic tie-break), probe the "
        "query's top-2 cells, exact cosine only within probed cells. "
        "Unlike typical ANN, the whole pipeline is deterministic (fold "
        "dot products, rank tie-breaks), so even the APPROXIMATE result "
        "is oracle-checked exactly. Scale shape: the assignment is an "
        "offline index build (corpus x tiny broadcast centroid set, no "
        "shuffle) written out partitioned BY cell_id; a query then "
        "touches nprobe/n_cells of the data -- partition pruning on the "
        "cell column does for vectors what date pruning does for time.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb_n, centroids = _ivf_inputs(spark, sf_dir)
    assigned = _ivf_assign(emb_n, centroids, "embedding", "e_norm")
    q = emb_n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("e_norm").alias("q_norm"),
    )
    pair_cos = _dot(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_norm") * F.col("e_norm")
    )
    scored = (
        assigned.join(F.broadcast(_ivf_probes(emb_n, centroids)), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(q), F.col("query_id") == F.col("q_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell_id",
            pair_cos.alias("cosine"),
        )
    )
    return _top_k(scored, F.col("cosine").desc()).orderBy("query_id", "rank")


# ------------------------------------------------- scalar quantization

QUANT_LEVELS = 255  # int8 code range 0..255 (stored as INT for portability)

# Per-dimension range learning + code assignment, shared by
# embedding_quantize_int8 and ann_quantized_topk (Spark + SQL sides).
SQL_QUANT_ARRS = """
    flat AS (
        SELECT unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    s AS (
        SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM flat GROUP BY pos
    ),
    arrs AS (
        SELECT list(CAST(mn AS DOUBLE) ORDER BY pos) AS mns,
               list(CAST(mx AS DOUBLE) ORDER BY pos) AS mxs
        FROM s
    )
"""

SQL_QUANT_CODES = f"""
    list_transform(range(1, len(embedding) + 1),
        i -> LEAST(CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - mns[i])
             / (mxs[i] - mns[i]) * {QUANT_LEVELS}) AS INT),
             {QUANT_LEVELS} - 1))
"""


def _quant_ranges(emb: DataFrame) -> DataFrame:
    """One-row (mns, mxs) per-dimension range arrays, position-ordered."""
    flat = emb.select(F.posexplode("embedding").alias("pos0", "v"))
    stats = flat.groupBy("pos0").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    return stats.agg(
        F.sort_array(F.collect_list(F.struct("pos0", "mn", "mx"))).alias("s")
    ).select(
        F.transform("s", lambda x: x["mn"].cast("double")).alias("mns"),
        F.transform("s", lambda x: x["mx"].cast("double")).alias("mxs"),
    )


# Train-once/serve-many contract for the learned quantization range:
# codes are only decodable with the EXACT range they were encoded with,
# so recomputing the range per query silently corrupts serving the
# moment the corpus drifts between the two computations.  The range is
# written once per source-table identity (path + mtime, so regenerated
# data retrains) and every consumer reads the same persisted artifact --
# the production shape, where the range ships with the quantized index.
from ..functions import artifacts as _artifacts

QUANT_ARTIFACT_ROOT = _artifacts.ARTIFACT_ROOT


def write_quant_ranges(emb: DataFrame, path: str) -> None:
    """Learn the per-dimension range over `emb` and persist it."""
    _quant_ranges(emb).coalesce(1).write.mode("overwrite").parquet(path)


def read_quant_ranges(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def quant_ranges_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared learned-range artifact for `sf_dir`'s embeddings:
    trained and written on first use, read (never recomputed) after.
    Publish is atomic (functions/artifacts.py), so concurrent sessions
    cannot clobber each other's range table mid-write."""
    key = _artifacts.source_key(os.path.join(sf_dir, "embeddings.parquet"))
    path = os.path.join(QUANT_ARTIFACT_ROOT, "quant_ranges", key)
    emb = load_table(spark, sf_dir, "embeddings")
    _artifacts.build_once(path, "_SUCCESS", lambda tmp: write_quant_ranges(emb, tmp))
    return read_quant_ranges(spark, path)


def _quant_codes() -> Column:
    """Code array for the `embedding` column given joined mns/mxs columns."""
    return F.transform(
        F.sequence(F.lit(1), F.size("embedding")),
        lambda i: F.least(
            F.floor(
                (F.element_at("embedding", i).cast("double") - F.element_at("mns", i))
                / (F.element_at("mxs", i) - F.element_at("mns", i))
                * QUANT_LEVELS
            ).cast("int"),
            F.lit(QUANT_LEVELS - 1),
        ),
    )


@register(
    "embedding_quantize_int8",
    bench=True,
    oracle=f"""
    WITH {SQL_QUANT_ARRS}
    SELECT vec_id,
           array_to_string(list_transform({SQL_QUANT_CODES},
               x -> CAST(x AS VARCHAR)), ',') AS codes,
           len(embedding) AS n_dims
    FROM embeddings, arrs
    ORDER BY vec_id
    """,
    doc="Int8 scalar quantization of the embedding column: per-dimension "
        "min/max learned over the dataset (posexplode -> 64-key agg), "
        "codes = floor((v-mn)/(mx-mn)*255) clamped -- 4x memory cut "
        "before ANN serving.  The learned range is ONE 64-row result "
        "broadcast to every vector (explicit broadcast cross join: no "
        "shuffle of the big side, quantization pipelines into the scan). "
        "floor (not round) keeps the codes bit-identical across engines. "
        "Registered shape joins the INT code array to a CSV string "
        "(integer formatting is engine-exact) so the driver's pandas "
        "canonicalizer can sort it; embedding_quantize_codes keeps the "
        "typed ARRAY<INT> form for the serving path.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_quantize_codes(spark, sf_dir).withColumn(
        "codes", F.array_join(F.col("codes").cast("array<string>"), ",")
    )


def embedding_quantize_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed serving shape: (vec_id, codes ARRAY<INT>, n_dims).
    Internal/API helper -- the registered form emits codes as a CSV
    string because the external pandas canonicalizer cannot sort
    list-valued cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.crossJoin(F.broadcast(quant_ranges_artifact(spark, sf_dir)))
        .select(
            "vec_id",
            _quant_codes().alias("codes"),
            F.size("embedding").alias("n_dims"),
        )
        .orderBy("vec_id")
    )


@register(
    "ann_quantized_topk",
    oracle=f"""
    WITH {SQL_QUANT_ARRS},
    codes_t AS (
        SELECT vec_id, label, {SQL_QUANT_CODES} AS codes
        FROM embeddings, arrs
    ),
    recon AS (
        SELECT vec_id, label,
               list_transform(range(1, {DIM} + 1),
                   i -> mns[i] + (CAST(codes[i] AS DOUBLE) + 0.5)
                        * (mxs[i] - mns[i]) / 255.0) AS r
        FROM codes_t, arrs
    ),
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
               {_sql_dot('q.embedding', 'c.r')}
                 / ({_sql_norm('q.embedding')} * {_sql_norm('c.r')}) AS cosine
        FROM q JOIN recon c ON c.vec_id <> q.vec_id
    ),
    ranked AS (SELECT *, {_sql_rank('cosine DESC')} FROM scored)
    SELECT query_id, neighbor_id, label, cosine, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="ANN over the int8-quantized corpus (asymmetric distance: float "
        "query x dequantized mid-rise reconstruction mn+(code+.5)*step). "
        "The serving-path payoff of embedding_quantize_int8 -- the corpus "
        "scan reads 4x fewer bytes at the same plan shape as the exact "
        "baseline, and the approximation itself is deterministic, so the "
        "oracle checks it exactly.  Staged columns keep every fold O(dim).",
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Serve with the SAME persisted range the codes were trained with --
    # never recompute (train/serve drift corrupts codes silently).
    arrs = F.broadcast(quant_ranges_artifact(spark, sf_dir))
    codes_t = emb.crossJoin(arrs).select(
        "vec_id", "label", _quant_codes().alias("codes"), "mns", "mxs"
    )
    recon = codes_t.select(
        "vec_id",
        "label",
        F.transform(
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda i: F.element_at("mns", i)
            + (F.element_at("codes", i).cast("double") + 0.5)
            * (F.element_at("mxs", i) - F.element_at("mns", i))
            / 255.0,
        ).alias("r"),
    ).withColumn("r_norm", _norm(F.col("r")))
    # Norms below the join (r14, same rewrite as ann_cosine_topk):
    # one interpreted fold per pair instead of three, bit-identical.
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_norm"),
    )
    scored = (
        F.broadcast(q)
        .join(recon, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            (
                _dot(F.col("q_emb"), F.col("r"))
                / (F.col("q_norm") * F.col("r_norm"))
            ).alias("cosine"),
        )
    )
    return _top_k(scored, F.col("cosine").desc()).orderBy("query_id", "rank")


# Oracle ground truth for the recall harnesses: the exact brute-force
# top-k (ann_cosine_topk's ranking) as (query_id, neighbor_id).
_SQL_GT = f"""
    gt_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.embedding', 'c.embedding')}
                 / ({_sql_norm('q.embedding')} * {_sql_norm('c.embedding')})
                 AS cosine
        FROM (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id < {N_QUERIES}) q
        JOIN embeddings c ON c.vec_id <> q.vec_id
    ),
    gt AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, {_sql_rank('cosine DESC')} FROM gt_scored
        ) WHERE rank <= {TOP_K}
    )"""

# Oracle recall of a `found` (query_id, neighbor_id) CTE against `gt`.
_SQL_RECALL = """
    SELECT g.query_id,
           COUNT(*) AS n_true,
           COUNT(f.neighbor_id) AS n_hit,
           CAST(COUNT(f.neighbor_id) AS DOUBLE) / COUNT(*) AS recall_at_k
    FROM gt g LEFT JOIN found f
      ON g.query_id = f.query_id AND g.neighbor_id = f.neighbor_id
    GROUP BY g.query_id
    ORDER BY g.query_id
    """


@register(
    "ann_lsh_recall",
    oracle=f"""
    WITH {_SQL_GT},
    lsh_sig AS (
        SELECT vec_id, embedding, {_sql_lsh_bucket()} AS bucket
        FROM embeddings
    ),
    lsh_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.embedding', 'c.embedding')}
                 / ({_sql_norm('q.embedding')} * {_sql_norm('c.embedding')})
                 AS cosine
        FROM (SELECT * FROM lsh_sig WHERE vec_id < {N_QUERIES}) q
        JOIN lsh_sig c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
    ),
    found AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, {_sql_rank('cosine DESC')} FROM lsh_scored
        ) WHERE rank <= {TOP_K}
    )""" + _SQL_RECALL,
    doc="ANN recall measurement: per query, the fraction of the exact "
        "brute-force top-k (ann_cosine_topk ground truth) that the "
        "LSH-bucketed search (ann_lsh_bucketed_topk) recovers -- the "
        "evaluation loop every approximate index needs before it "
        "replaces the exact path.  Composes the two registered plans "
        "with one left join on (query, neighbor); at 100 TB the ground "
        "truth runs on a sampled query set and this exact query shape "
        "scores the index.",
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    gt = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    found = ann_lsh_bucketed_topk(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_at_k(gt, found)


# ---------------------------------------------------- semantic dedup

SEMANTIC_TAU = 0.35  # within-cell cosine above which vectors are near-dups


@register(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH {_SQL_IVF_CELLS},
    dups AS (
        SELECT b.vec_id,
               COUNT(*) AS n_dups_lower,
               MAX({_sql_dot('a.embedding', 'b.embedding')}
                 / ({_sql_norm('a.embedding')} * {_sql_norm('b.embedding')}))
                 AS max_cosine
        FROM assigned a
        JOIN assigned b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        WHERE {_sql_dot('a.embedding', 'b.embedding')}
              / ({_sql_norm('a.embedding')} * {_sql_norm('b.embedding')})
              >= {SEMANTIC_TAU}
        GROUP BY b.vec_id
    )
    SELECT s.vec_id, s.cell_id,
           CAST(COALESCE(d.n_dups_lower, 0) AS BIGINT) AS n_dups_lower,
           COALESCE((FLOOR((d.max_cosine) * 1000000e0 + 0.5) / 1000000e0),
                    -1.0) AS max_cosine,
           d.vec_id IS NULL AS is_keeper
    FROM assigned s LEFT JOIN dups d USING (vec_id)
    ORDER BY s.vec_id
    """,
    doc="Semantic dedup (SemDeDup): every vector is assigned to its "
        "nearest centroid cell, near-duplicate pairs are found only "
        "WITHIN a cell (cosine >= tau), and the lowest vec_id in each "
        "duplicate neighborhood is the keeper.  Scale shape: the "
        "clustering is what makes embedding dedup tractable -- the "
        "pairwise scan is confined to cells, and the cell count grows "
        "with the corpus so cell size (and the per-cell quadratic term) "
        "stays bounded; the assignment itself is a broadcast of the "
        "tiny centroid set, exactly the IVF index build.  Deterministic "
        "throughout (fold dot products, min-id tie-breaks), so the "
        "approximate method itself is oracle-checked exactly.",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # |v| is staged once per vector (see _ivf_inputs) and reused by the
    # within-cell pairs, so dedup decisions are bit-identical.
    emb_n, centroids = _ivf_inputs(spark, sf_dir)
    assigned = _ivf_assign(emb_n, centroids, "embedding", "e_norm")
    a = assigned.select(
        F.col("cell_id"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("e_norm").alias("a_norm"),
    )
    b = assigned.select(
        F.col("cell_id"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("e_norm").alias("b_norm"),
    )
    cosine = _dot(F.col("a_emb"), F.col("b_emb")) / (
        F.col("a_norm") * F.col("b_norm")
    )
    dups = (
        a.join(b, "cell_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= SEMANTIC_TAU)
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(
            F.count("*").alias("n_dups_lower"),
            F.max("cosine").alias("max_cosine"),
        )
    )
    return (
        assigned.select("vec_id", "cell_id")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cell_id",
            F.coalesce(F.col("n_dups_lower"), F.lit(0)).alias("n_dups_lower"),
            F.coalesce(fround(F.col("max_cosine"), 6), F.lit(-1.0)).alias(
                "max_cosine"
            ),
            F.col("n_dups_lower").isNull().alias("is_keeper"),
        )
        .orderBy("vec_id")
    )


# ------------------------------------------------ embedding whitening

@register(
    "embedding_whiten",
    oracle="""
    WITH flat AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS dim,
               (FLOOR((CAST(unnest(embedding) AS DOUBLE)) * 1000000000e0
                      + 0.5) / 1000000000e0) AS x
        FROM embeddings
    ),
    stats AS (
        SELECT dim,
               CAST(SUM(CAST(x AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*)
                 AS mean,
               CAST(SUM(CAST((FLOOR((x * x) * 1000000000e0 + 0.5)
                                / 1000000000e0) AS DECIMAL(38,9))) AS DOUBLE)
                 / COUNT(*) AS ex2
        FROM flat GROUP BY 1
    ),
    st AS (
        SELECT dim,
               (FLOOR((mean) * 1000000000e0 + 0.5) / 1000000000e0) AS mu,
               (FLOOR((SQRT(ex2 - mean * mean)) * 1000000000e0 + 0.5)
                / 1000000000e0) AS sigma
        FROM stats
    ),
    z AS (
        -- zr is the raw IEEE ratio (identical across engines); every
        -- ROUND below is applied ONCE to it -- never to an already-
        -- rounded value, which would re-introduce half-way boundaries.
        SELECT f.vec_id, (f.x - s.mu) / s.sigma AS zr
        FROM flat f JOIN st s ON f.dim = s.dim
    )
    SELECT vec_id,
           (FLOOR((SQRT(CAST(SUM(CAST(
                      (FLOOR((zr * zr) * 1000000000e0 + 0.5) / 1000000000e0)
                      AS DECIMAL(38,9))) AS DOUBLE))) * 1000000e0 + 0.5)
            / 1000000e0) AS z_norm,
           (FLOOR((CAST(SUM(CAST(
                      (FLOOR((zr) * 1000000000e0 + 0.5) / 1000000000e0)
                      AS DECIMAL(38,9))) AS DOUBLE)
                 / COUNT(*)) * 1000000e0 + 0.5) / 1000000e0) AS z_mean,
           (FLOOR((MAX(zr)) * 1000000e0 + 0.5) / 1000000e0) AS z_max
    FROM z GROUP BY vec_id ORDER BY vec_id
    """,
    doc="Per-dimension embedding whitening (feature standardization): "
        "learn mean/std per dimension over the corpus in one pass "
        "(posexplode -> 64-group agg, map-side partials), then project "
        "every vector to z-scores and report its whitened norm / mean / "
        "max -- the normalization step before cosine ANN or clustering "
        "when dimensions have unequal scales.  Like quant_ranges, the "
        "64-row stats table is a train-once artifact: computed on the "
        "training corpus, broadcast at serve time, never recomputed "
        "per query.  Moments accumulate through fround(.,9)+DECIMAL so "
        "they are partition-order independent; z-scores rank and "
        "aggregate on the rounded values on both engines.  At 100 TB "
        "the stats agg is one shuffle of 64 groups; the projection "
        "pass is shuffle-free (broadcast join) and pipelines into the "
        "scan.",
)
def embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "xf")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        fround(F.col("xf").cast("double"), 9).alias("x"),
    )
    stats = flat.groupBy("dim").agg(
        (
            F.sum(F.col("x").cast("decimal(38,9)")).cast("double") / F.count("*")
        ).alias("mean"),
        (
            F.sum(fround(F.col("x") * F.col("x"), 9).cast("decimal(38,9)"))
            .cast("double")
            / F.count("*")
        ).alias("ex2"),
    )
    st = stats.select(
        "dim",
        fround("mean", 9).alias("mu"),
        fround(F.sqrt(F.col("ex2") - F.col("mean") * F.col("mean")), 9).alias(
            "sigma"
        ),
    )
    # zr stays the raw IEEE ratio; each ROUND below applies once to it
    # (rounding an already-rounded value re-creates half-way boundaries
    # -- the double-rounding trap).
    z = flat.join(F.broadcast(st), "dim").select(
        "vec_id",
        ((F.col("x") - F.col("mu")) / F.col("sigma")).alias("zr"),
    )
    return (
        z.groupBy("vec_id")
        .agg(
            fround(
                F.sqrt(
                    F.sum(
                        fround(F.col("zr") * F.col("zr"), 9).cast(
                            "decimal(38,9)"
                        )
                    ).cast("double")
                ),
                6,
            ).alias("z_norm"),
            fround(
                F.sum(fround(F.col("zr"), 9).cast("decimal(38,9)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("z_mean"),
            fround(F.max("zr"), 6).alias("z_max"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------- product quantization

# PQ (Jegou et al., "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011): the embedding splits into PQ_M subspaces and
# each subvector is replaced by the id of its nearest codeword, so a
# 64-float vector compresses to PQ_M small codes and query scoring
# becomes table lookups (ADC).  Codewords are subvectors of a fixed
# deterministic sample of the corpus (the same data-points-as-centroids
# device ann_ivf_topk uses), which keeps even the APPROXIMATE result
# oracle-checkable bit-for-bit.
PQ_M = 16                     # subspaces
PQ_SUB = DIM // PQ_M          # dims per subspace
PQ_CODEBOOK_IDS = tuple(5 + 15 * j for j in range(32))  # 32 codewords
PQ_ROUND = 9                  # one round per LUT entry (libm absorption)

_SQL_PQ_IDS = ", ".join(str(i) for i in PQ_CODEBOOK_IDS)


def _sub_l2sq(a: Column, b_sub: Column, start: Column) -> Column:
    """Deterministic squared L2 distance between a PQ_SUB-long slice of
    `a` starting at 1-based `start` and an already-sliced codeword
    subvector.

    r15: unrolled to explicit element_at arithmetic instead of
    zip_with + aggregate -- higher-order functions run INTERPRETED
    (no codegen), and this expression executes once per scored
    (vector, subspace, codeword) pair, the PQ family's hottest loop.
    The unrolled form is the IDENTICAL left-associated IEEE sequence
    the fold performed (0.0 + t1 + ... + t_PQ_SUB, each
    t = (x-y)*(x-y) in double), so every emitted distance is
    bit-identical; it merely compiles into the stage's generated code.
    """
    d: Column = F.lit(0.0)
    for i in range(PQ_SUB):
        x = F.element_at(a, start + F.lit(i)).cast("double")
        y = F.element_at(b_sub, F.lit(i + 1)).cast("double")
        d = d + (x - y) * (x - y)
    return d


_SQL_SUB_L2 = (
    f"list_reduce(list_transform(generate_series(1, {PQ_SUB}), "
    "i -> (CAST(emb[m * {sub} + i] AS DOUBLE) - CAST(c_sub[i] AS DOUBLE))"
    " * (CAST(emb[m * {sub} + i] AS DOUBLE) - CAST(c_sub[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
).format(sub=PQ_SUB)


# Shared CTE prefix: normalize -> codebook subvectors -> per-vector
# codes -> query LUTs.  Both the brute-force ADC ranking
# (_SQL_PQ_RANKED) and the IVF-composed ranking (_SQL_IVFPQ_RANKED)
# append their scoring CTEs to this constant -- an explicit shared
# prefix, not one oracle string-sliced out of another.
_SQL_PQ_CHAIN = f"""
    WITH n_emb AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(x AS DOUBLE) / {_sql_norm('embedding')})
                 AS embedding
        FROM embeddings
    ),
    cb_subs AS (
        SELECT m.m, c.vec_id AS code,
               c.embedding[m.m * {PQ_SUB} + 1 : (m.m + 1) * {PQ_SUB}] AS c_sub
        FROM n_emb c
        CROSS JOIN (SELECT UNNEST(range(0, {PQ_M})) AS m) m
        WHERE c.vec_id IN ({_SQL_PQ_IDS})
    ),
    codes AS (
        SELECT vec_id, m, code FROM (
            SELECT e.vec_id, s.m, s.code,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.m
                       ORDER BY {_SQL_SUB_L2.replace('emb[', 'e.embedding[').replace('c_sub[', 's.c_sub[').replace('m *', 's.m *')}, s.code) AS rn
            FROM n_emb e CROSS JOIN cb_subs s
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, s.m, s.code,
               {sql_fround(_SQL_SUB_L2.replace('emb[', 'q.embedding[').replace('c_sub[', 's.c_sub[').replace('m *', 's.m *'), PQ_ROUND)} AS ld
        FROM n_emb q CROSS JOIN cb_subs s
        WHERE q.vec_id < {N_QUERIES}
    )
"""

# PQ chain + full-corpus ADC scores + per-query ADC rank: shared by the
# ADC top-k and the refined (rerank) variant.
_SQL_PQ_RANKED = _SQL_PQ_CHAIN + f""",
    scored AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               {sql_dsum('l.ld', PQ_ROUND)} AS adc_dist
        FROM codes c
        JOIN lut l ON l.m = c.m AND l.code = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY l.query_id, c.vec_id
    ),
    ranked AS (SELECT *, {_sql_rank('adc_dist')} FROM scored)
"""


@register(
    "ann_pq_adc_topk",
    rotation_group=3,
    oracle=_SQL_PQ_RANKED
    + f"""
    SELECT query_id, neighbor_id, adc_dist, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc=f"PQ + ADC top-k (Jegou et al. 2011): each vector encodes to "
        f"{PQ_M} codeword ids ({DIM} floats -> {PQ_M} codes, "
        f"{4 * DIM // PQ_M}x compression), queries score every encoded "
        f"vector by summing {PQ_M} lookup-table entries instead of "
        "touching the original floats.  Vectors unit-normalize first "
        "so ADC's L2 ranks exactly like cosine (L2^2 = 2 - 2cos on "
        "unit vectors).  Deterministic end to end: "
        "codewords are fixed sample subvectors, distances are "
        "sequential double folds, per-entry rounding + decimal "
        "cross-entry sum make ADC order-independent, ranks tie-break "
        "on id -- so the oracle checks the approximate result "
        "exactly.  Scale shape: encoding is corpus x broadcast "
        f"codebook ({PQ_M * len(PQ_CODEBOOK_IDS)} rows), zero shuffle; "
        "the code table is the persisted index (bytes per vector); "
        "query scoring joins the broadcast LUT and reduces per "
        "(query, vector) with map-side partials -- the corpus floats "
        "are read ONCE at index build and never again.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_adc_ranked(spark, sf_dir, TOP_K).orderBy("query_id", "rank")


def _pq_cb_subs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 512-row (m, start, code, c_sub) codebook-subvector relation,
    collected once and re-entered as a literal LocalRelation.

    r15 (guide section 5 driver work; VERDICT r14 #3): the PQ family
    spent ~1 s per query CONSTRUCTING plans, a large slice of it
    analyzing (and, at broadcast-build time, re-running) the
    scan -> unit-normalize -> 16-struct-explode codebook lineage at
    every one of its 2-3 broadcast consumers.  The codebook is index
    METADATA -- PQ_M x 32 codewords of PQ_SUB doubles, a few KB -- so
    it is computed ONCE per query invocation with the exact engine
    lineage (same normalize fold, bit-identical values; doubles
    round-trip JVM -> Python -> JVM exactly) and handed back as a
    local literal: consumers analyze a flat LocalRelation and the
    broadcast builds are free.  Nothing is cached across invocations.
    """
    cb = _unit_normalized(
        load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id").isin(*PQ_CODEBOOK_IDS)
        ),
        "vec_id",
    )
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    data = []
    for r in cb.select("vec_id", "embedding").collect():
        e = r.embedding
        for m in range(PQ_M):
            data.append(
                (m, m * PQ_SUB + 1, r.vec_id,
                 list(e[m * PQ_SUB:(m + 1) * PQ_SUB]))
            )
    schema = StructType([
        StructField("m", IntegerType(), False),
        StructField("start", IntegerType(), False),
        StructField("code", LongType(), False),
        StructField("c_sub", ArrayType(DoubleType()), True),
    ])
    # local_df: Arrow-batch-backed so the 2-3 broadcast builds that
    # consume this codebook per query evaluate it JVM-side instead of
    # launching Python unpickle workers per pass (functions/localrel.py).
    return local_df(spark, data, schema)


def _pq_codes(emb: DataFrame, cb_subs: DataFrame, *keep: str) -> DataFrame:
    """Per-(vector, subspace) codeword assignment: argmin_code of the
    sub-L2 distance, ties to the smallest code.

    r15: was a row_number window over the corpus x codebook crossJoin
    -- a full sort + exchange of every scored pair (2M rows at sf0.1).
    min(struct(d, code)) selects the identical row (lexicographic
    struct comparison == the window's (d ASC, code ASC) order, same
    engine comparator) as a hash aggregate with map-side partials: the
    exchange now carries one partial row per (vector, subspace) group
    instead of every pair (guide sections 2.3/2.4).
    """
    d = _sub_l2sq(F.col("embedding"), F.col("c_sub"), F.col("start"))
    best = F.min(F.struct(d.alias("d"), F.col("code").alias("code")))
    return (
        emb.crossJoin(F.broadcast(cb_subs))
        .groupBy("vec_id", *keep, "m")
        .agg(best.alias("b"))
        .select("vec_id", *keep, "m", F.col("b.code").alias("code"))
    )


def _pq_lut(spark: SparkSession, sf_dir: str, cb_subs: DataFrame) -> DataFrame:
    """(query_id, m, code, ld): the ADC lookup table -- each unit-
    normalized query subvector's sub-L2 to every codeword, rounded once
    per entry at PQ_ROUND."""
    d = _sub_l2sq(F.col("embedding"), F.col("c_sub"), F.col("start"))
    return (
        _unit_normalized(
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < N_QUERIES
            ),
            "vec_id",
        )
        .crossJoin(F.broadcast(cb_subs))
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "code",
            fround(d, PQ_ROUND).alias("ld"),
        )
    )


def _pq_adc_ranked(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> DataFrame:
    """(query_id, neighbor_id, adc_dist, rank) for the top ``k`` ADC
    scores per query (every scored pair when ``k`` is None)."""
    # Unit-normalize first: on unit vectors L2^2 = 2 - 2*cos, so the
    # ADC distance ranks exactly like cosine -- without this the L2
    # quantizer optimizes a metric the query doesn't use.  Staged norm
    # (see _unit_normalized): one fold per row, not one per element.
    emb = _unit_normalized(load_table(spark, sf_dir, "embeddings"), "vec_id")
    cb_subs = _pq_cb_subs(spark, sf_dir)
    scored = (
        _pq_codes(emb, cb_subs)
        .join(F.broadcast(_pq_lut(spark, sf_dir, cb_subs)), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(dsum("ld", PQ_ROUND).alias("adc_dist"))
    )
    return _top_k(scored, F.col("adc_dist").asc(), k)


PQ_REFINE_C = 25  # ADC shortlist size handed to the exact reranker


@register(
    "ann_pq_refined_topk",
    rotation_group=4,
    oracle=_SQL_PQ_RANKED
    + f"""
    , cand AS (
        SELECT query_id, neighbor_id FROM ranked WHERE rank <= {PQ_REFINE_C}
    ),
    rescored AS (
        SELECT cand.query_id, cand.neighbor_id,
               {_sql_dot('q.embedding', 'c.embedding')}
                 / ({_sql_norm('q.embedding')} * {_sql_norm('c.embedding')})
                 AS cosine
        FROM cand
        JOIN embeddings q ON q.vec_id = cand.query_id
        JOIN embeddings c ON c.vec_id = cand.neighbor_id
    ),
    rr AS (SELECT *, {_sql_rank('cosine DESC')} FROM rescored)
    SELECT query_id, neighbor_id, cosine, rank
    FROM rr WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc=f"Two-stage retrieval (the production ANN serving shape): the "
        f"PQ/ADC index shortlists top-{PQ_REFINE_C} candidates per query "
        "from 16-byte codes, then ONLY those candidates' original "
        f"vectors are fetched and exactly cosine-reranked to top-{TOP_K} "
        "-- quantization error cannot reorder the final ranking, only "
        "(rarely) drop a true neighbor from the shortlist.  Scale: "
        "stage 1 never touches the floats (reads the code table); "
        "stage 2 fetches queries x C vectors -- a candidate-keyed "
        "equi-join against the embedding table, NOT a corpus scan; "
        "exact cosine uses the same deterministic fold as the "
        "brute-force baseline, so the rerank is engine-exact.",
)
def ann_pq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cand = _pq_adc_ranked(spark, sf_dir, PQ_REFINE_C).select(
        "query_id", "neighbor_id"
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    rescored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (_norm(F.col("q_emb")) * _norm(F.col("c_emb")))
            ).alias("cosine"),
        )
    )
    return _top_k(rescored, F.col("cosine").desc()).orderBy("query_id", "rank")


# ---------------------------------------------- IVF + PQ composition

# The production serving index (FAISS IVFPQ): IVF cell pruning decides
# WHICH vectors a query scores, PQ/ADC decides HOW -- codes and lookup
# tables, never the original floats.  Both halves are the verified
# operators above, composed; the oracle reuses the PQ CTE chain
# verbatim (the explicit _SQL_PQ_CHAIN prefix) plus the IVF cell
# CTEs (_SQL_IVF_CELLS).

# PQ chain + IVF assignment/probes + cell-restricted ADC ranking,
# shared by the top-k query and its recall evaluation.
_SQL_IVFPQ_RANKED = _SQL_PQ_CHAIN + f""", {_SQL_IVF_CELLS},
    cell_scored AS (
        SELECT p.query_id, c.vec_id AS neighbor_id, a.cell_id,
               {sql_dsum('l.ld', PQ_ROUND)} AS adc_dist
        FROM codes c
        JOIN assigned a ON a.vec_id = c.vec_id
        JOIN probes p ON p.cell_id = a.cell_id
        JOIN lut l ON l.query_id = p.query_id
                  AND l.m = c.m AND l.code = c.code
        WHERE c.vec_id <> p.query_id
        GROUP BY p.query_id, c.vec_id, a.cell_id
    ),
    cell_ranked AS (SELECT *, {_sql_rank('adc_dist')} FROM cell_scored)
"""


@register(
    "ann_ivf_pq_topk",
    rotation_group=6,
    oracle=_SQL_IVFPQ_RANKED
    + f"""
    SELECT query_id, neighbor_id, cell_id, adc_dist, rank
    FROM cell_ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc=f"IVF+PQ composed retrieval (the FAISS-IVFPQ production index "
        "shape): IVF assignment prunes the search to the query's top-"
        f"{IVF_NPROBE} cells, and inside those cells scoring is pure "
        "ADC -- sum of LUT entries against the 16-byte code table, the "
        "corpus floats untouched at query time.  Both halves reuse the "
        "verified standalone operators (same centroids, same codebook, "
        "same deterministic folds/rounding), so even composed the "
        "approximate result is oracle-checked exactly.  Scale shape: "
        "assignment and encoding are ONE index-build lineage -- cell "
        "and codes by argmax aggregates over the broadcast centroid "
        "set and codebook -- written out partitioned "
        "BY cell_id, so a query reads nprobe/n_cells of the CODE table "
        "(bytes per vector) and joins only broadcast relations: probes "
        "and LUTs.  Smaller read than IVF alone (codes, not floats); "
        "fewer candidates than PQ alone (cells, not corpus).",
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb_n, centroids = _ivf_inputs(spark, sf_dir)
    # ONE index-build lineage: cell assignment, then unit-normalize,
    # then per-subspace code assignment -- both argmin selections are
    # min/max-struct hash aggregates (_ivf_assign, _pq_codes).
    assigned = _ivf_assign(emb_n, centroids, "embedding")
    n_emb = _unit_normalized(assigned, "vec_id", "cell_id")
    cb_subs = _pq_cb_subs(spark, sf_dir)
    codes = _pq_codes(n_emb, cb_subs, "cell_id").select(
        "vec_id", "cell_id", "m", "code"
    )
    scored = (
        codes.join(F.broadcast(_ivf_probes(emb_n, centroids)), "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(_pq_lut(spark, sf_dir, cb_subs)), ["query_id", "m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"), "cell_id")
        .agg(dsum("ld", PQ_ROUND).alias("adc_dist"))
    )
    return _top_k(scored, F.col("adc_dist").asc()).orderBy("query_id", "rank")


@register(
    "ann_ivfpq_recall",
    rotation_group=6,
    oracle=_SQL_IVFPQ_RANKED
    + f""", {_SQL_GT},
    found AS (
        SELECT query_id, neighbor_id
        FROM cell_ranked WHERE rank <= {TOP_K}
    )""" + _SQL_RECALL,
    doc="Recall@k for the composed IVF+PQ index against the exact "
        "brute-force ground truth -- the number a serving team reports "
        "before the composed index replaces the exact path, and the "
        "dial that justifies nprobe/codebook sizing (recall lost here "
        "comes from cell pruning OR quantization; ann_lsh_recall and "
        "ann_pq_refined_topk isolate each).  Same harness shape as "
        "ann_lsh_recall: one left join on (query, neighbor) between "
        "two registered plans; at 100 TB ground truth runs on a "
        "sampled query set and this exact shape scores the index.",
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    gt = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    found = ann_ivf_pq_topk(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_at_k(gt, found)


# ------------------------- Matryoshka (dim-prefix) truncation recall

MRL_DIMS = (16, 32)  # prefix lengths evaluated (DIM/4, DIM/2)


def _sql_mrl_found(d: int) -> str:
    return f"""
    scored_{d} AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_sql_dot('q.embedding', 'c.embedding', d)}
                 / (sqrt({_sql_dot('q.embedding', 'q.embedding', d)})
                    * sqrt({_sql_dot('c.embedding', 'c.embedding', d)}))
                 AS cosine
        FROM (SELECT vec_id, embedding FROM embeddings
              WHERE vec_id < {N_QUERIES}) q
        JOIN embeddings c ON c.vec_id <> q.vec_id
    ),
    found_{d} AS (
        SELECT {d} AS dim, query_id, neighbor_id FROM (
            SELECT *, {_sql_rank('cosine DESC')} FROM scored_{d}
        ) WHERE rank <= {TOP_K}
    )"""


@register(
    "ann_matryoshka_recall",
    rotation_group=8,
    oracle=f"""
    WITH {_SQL_GT},
    {','.join(_sql_mrl_found(d) for d in MRL_DIMS)},
    found AS ({' UNION ALL '.join(f'SELECT * FROM found_{d}' for d in MRL_DIMS)})
    SELECT dims.dim AS dim, g.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COUNT(f.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(f.neighbor_id) AS DOUBLE) / COUNT(*) AS recall_at_k
    FROM (SELECT DISTINCT dim FROM found) dims
    CROSS JOIN gt g
    LEFT JOIN found f
      ON f.dim = dims.dim AND g.query_id = f.query_id
      AND g.neighbor_id = f.neighbor_id
    GROUP BY dims.dim, g.query_id
    ORDER BY dims.dim, g.query_id
    """,
    doc=f"Matryoshka-representation truncation recall: score the same "
        f"brute-force top-{TOP_K} using only the first 16 / 32 of the "
        f"{DIM} embedding dimensions (cosine renormalized over the "
        "prefix) and measure recall against the full-dimension exact "
        "ground truth -- the evaluation a serving stack runs before "
        "switching its candidate stage to truncated MRL vectors "
        "(4x/2x cheaper dot products and memory).  Prefix scoring is "
        "a slice + the same sequential-fold dot, so the corpus is "
        "never reshaped; queries broadcast exactly as in the other "
        "recall harnesses and the output is queries x prefix rows.  "
        "NOTE the dim column in the oracle join keys on the found "
        "side so a prefix that misses a query still reports 0/k.",
)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    gt = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")

    founds = []
    for d in MRL_DIMS:
        q = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.slice("embedding", 1, d).alias("q_emb"),
        )
        c = emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.slice("embedding", 1, d).alias("c_emb"),
        )
        scored = (
            F.broadcast(q)
            .join(c, F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                (
                    _dot(F.col("q_emb"), F.col("c_emb"))
                    / (_norm(F.col("q_emb")) * _norm(F.col("c_emb")))
                ).alias("cosine"),
            )
        )
        founds.append(
            _top_k(scored, F.col("cosine").desc()).select(
                F.lit(d).cast("bigint").alias("dim"), "query_id", "neighbor_id"
            )
        )
    found = founds[0]
    for f_ in founds[1:]:
        found = found.unionByName(f_)

    # the (dim x gt) grid is literal-sized: explode an array literal on
    # the gt relation (a Generate, not a join -- no CartesianProduct)
    grid = gt.withColumn(
        "dim", F.explode(F.array(*[F.lit(d).cast("bigint") for d in MRL_DIMS]))
    )
    return _recall_at_k(grid, found, "dim")


# ------------------------ greedy k-center coreset (farthest point)

# Diverse-subset selection for training data (Sener & Savarese 2018's
# core-set active learning; the farthest-point-traversal 2-approximation
# of the k-center objective, Gonzalez 1985): repeatedly pick the vector
# farthest from everything already selected.  A curation team uses
# exactly this to seed a labeling budget or pick maximally-diverse
# exemplars from a near-dup cluster -- the complement of dedup (dedup
# removes redundancy; k-center SELECTS for coverage).
KC_K = 6


def _d2_lit(v: Column, lit_vec: list[float]) -> Column:
    """Squared L2 between the vector column and a driver-held center:
    sequential fold of (x - y)^2 in double, the same op order as the
    oracle's list_reduce, so distances are bit-identical."""
    lit = F.array(*[F.lit(float(x)) for x in lit_vec])
    diffs = F.zip_with(
        v, lit, lambda x, y: (x - y) * (x - y)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _sql_d2_pair(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {DIM}), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def _sql_kcenter_ctes() -> str:
    """Unrolled greedy rounds: s0 = lowest vec_id; s{i} = argmax over
    the corpus of LEAST(d2 to s0..s{i-1}), ties to the lowest vec_id.
    Each round cross-joins i one-row relations -- the oracle is the
    naive O(K * N * K) formulation the incremental Spark loop must
    match exactly."""
    parts = [
        "s0 AS (SELECT vec_id, embedding FROM embeddings"
        " ORDER BY vec_id LIMIT 1)",
    ]
    for i in range(1, KC_K):
        froms = " CROSS JOIN ".join(f"s{j}" for j in range(i))
        d2s = ", ".join(
            _sql_d2_pair("e.embedding", f"s{j}.embedding") for j in range(i)
        )
        md = f"LEAST({d2s})" if i > 1 else d2s
        parts.append(
            f"s{i} AS (SELECT e.vec_id, e.embedding, {md} AS md"
            f" FROM embeddings e CROSS JOIN {froms}"
            f" WHERE e.vec_id NOT IN ({', '.join(f's{j}.vec_id' for j in range(i))})"
            f" ORDER BY md DESC, e.vec_id LIMIT 1)"
        )
    return "WITH " + ",\n    ".join(parts)


@register(
    "sample_kcenter_coreset",
    oracle=f"""
    {_sql_kcenter_ctes()}
    SELECT 1 AS rank, vec_id, CAST(NULL AS DOUBLE) AS coverage_d2 FROM s0
    {"".join(
        f" UNION ALL SELECT {i + 1}, vec_id,"
        f" (FLOOR((md) * 1000000e0 + 0.5) / 1000000e0) FROM s{i}"
        for i in range(1, KC_K)
    )}
    ORDER BY rank
    """,
    doc=f"Greedy k-center coreset (k={KC_K}, farthest-point traversal "
        "-- Gonzalez 1985's 2-approximation, the Sener-Savarese "
        "core-set selection): seed at the lowest vec_id, then "
        "repeatedly select the vector maximizing its distance to the "
        "selected set; emitted coverage_d2 values are the classic "
        "decreasing radius curve (how well k exemplars cover the "
        "corpus).  Spark side runs the INCREMENTAL form -- a cached "
        "(vec_id, v, md) relation where each round updates "
        "md = least(md, d2 to the newest center) in ONE pass and the "
        "argmax is a 1-row TakeOrdered -- k scans total, vs the "
        "oracle's naive k*N*k recomputation (an independent "
        "formulation; min is associative and every d2 is the same "
        "sequential fold, so selections match bit-exactly).  At "
        "100 TB: centers are driver-held scalars (k x dim doubles, "
        "the k-means layout), each round is one shuffle-free "
        "projection + a k-row global argmax; the corpus is never "
        "pairwise-joined.",
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).persist()
    seed = base.orderBy("vec_id").limit(1).collect()[0]
    picks: list[tuple[int, int, float | None]] = [(1, seed["vec_id"], None)]
    cur = base.filter(F.col("vec_id") != seed["vec_id"]).select(
        "vec_id", "v", _d2_lit(F.col("v"), list(seed["v"])).alias("md")
    )
    for rank in range(2, KC_K + 1):
        far = cur.orderBy(F.col("md").desc(), "vec_id").limit(1).collect()[0]
        # the emitted radius reproduces sql_fround's exact sequence
        picks.append(
            (rank, far["vec_id"],
             math.floor(far["md"] * 1e6 + 0.5) / 1e6)
        )
        if rank == KC_K:
            break
        center = list(
            base.filter(F.col("vec_id") == far["vec_id"])
            .collect()[0]["v"]
        )
        cur = cur.filter(F.col("vec_id") != far["vec_id"]).select(
            "vec_id",
            "v",
            F.least(
                F.col("md"), _d2_lit(F.col("v"), center)
            ).alias("md"),
        )
    base.unpersist()
    return local_df(
        spark, picks, "rank int, vec_id long, coverage_d2 double"
    ).orderBy("rank")
