"""Corpus-level ML preparation: TF-IDF term relevance, Lloyd k-means
clustering, deterministic weighted sampling, triangle counting, and
the KMV theta sketch.

Extends the training-data pipeline surface (like text_analysis /
similarity; not in the reference, whose aggregation layer stops at
OLAP rollups -- see SURVEY.md section 2 scope note).

These queries register with ``rotation_group=1``: the driver's
correctness gate checks the first 50 rotation entries and the rotation
orders zero-evidence queries by registration order, so queries added
mid-round must sort BEHIND the entries still awaiting their first
driver row.  The group field makes that ordering structural (enforced
by plans/registry.all_queries + tests/test_rotation.py) instead of
depending on import order.

Determinism recipe (house pattern, see functions/numeric.py): raw IEEE
per-element arithmetic is engine-identical; libm outputs (LN) round
once at 9 dp; every cross-row sum goes fround(.,9) -> DECIMAL(38,9);
ranking happens on ROUND'd values with an explicit id tie-break on
BOTH engines; no value is ever rounded twice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.caching import scoped_persist
from ..functions.localrel import local_df
from ..functions.numeric import dsum, fround, sql_dsum, sql_fround
from ..plans.registry import register
from ..sources.catalog import load_table
from .sampling import _sql_u, _u
from .text_analysis import SQL_TOKENS, _tokens

# ------------------------------------------------------------- TF-IDF

TFIDF_TOP = 3


@register(
    "text_tfidf_topterms",
    rotation_group=1,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({SQL_TOKENS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               tf.tf * (FLOOR((LN((1.0 + n.n) / (1.0 + df.df)) + 1.0)
                              * 1000000000e0 + 0.5) / 1000000000e0)
                 AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY (FLOOR((score) * 1000000000e0 + 0.5)
                             / 1000000000e0) DESC, term) AS pos
        FROM scored
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, term,
           (FLOOR((score) * 1000000e0 + 0.5) / 1000000e0) AS score
    FROM ranked WHERE pos <= {TFIDF_TOP}
    ORDER BY doc_id, pos
    """,
    doc=f"TF-IDF top-{TFIDF_TOP} terms per document (smoothed idf = "
        "ln((1+N)/(1+df)) + 1, the sklearn convention): the classic "
        "keyword/relevance extraction step before sparse retrieval or "
        "topic labeling.  idf is rounded once to 9 dp (absorbing libm "
        "ln differences) and the raw tf*idf product ranks through "
        "fround(.,9) with a term tie-break on both engines, so the "
        "top-k cut is float-noise immune.  N is the document count "
        "straight off the documents scan (whitespace split always "
        "yields >= 1 token, so every doc is in the token stream) -- no "
        "third pass over the exploded tokens.  At 100 TB: tf is one "
        "(doc, term) aggregation with map-side partials; the df join "
        "keys on term with NO forced broadcast -- the whitespace-token "
        "vocabulary is unbounded on a web corpus, so Spark/AQE must be "
        "free to pick a shuffle join (it broadcasts at small scale on "
        "its own); the top-k window partitions by doc_id -- "
        "per-document local sorts, never a global one.",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    idf = fround(
        F.log((F.lit(1.0) + F.col("n")) / (F.lit(1.0) + F.col("df"))) + 1.0, 9
    )
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", (F.col("tf") * idf).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        fround(F.col("score"), 9).desc(), F.col("term")
    )
    return (
        scored.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= TFIDF_TOP)
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            "term",
            fround("score", 6).alias("score"),
        )
        .orderBy("doc_id", "pos")
    )


# ------------------------------------------------------------ k-means

KM_K = 4        # clusters
KM_ITERS = 3    # Lloyd iterations (fixed)
KM_DIM = 64


def _sql_d2(cent: str) -> str:
    """Squared distance: sequential fold, identical to the Spark
    zip_with + aggregate fold."""
    return (
        f"list_reduce(list_transform(generate_series(1, {KM_DIM}), "
        f"j -> ({sql_fround('CAST(e.embedding[j] AS DOUBLE)', 9)}"
        f" - {cent}.centroid[j])"
        f" * ({sql_fround('CAST(e.embedding[j] AS DOUBLE)', 9)}"
        f" - {cent}.centroid[j])), "
        f"(acc, x) -> acc + x)"
    )


def _sql_kmeans_ctes() -> str:
    parts = [
        # Deterministic init: the KM_K lowest vec_ids, cluster = rank-1.
        f"""init AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster,
               list_transform(generate_series(1, {KM_DIM}),
                   j -> (FLOOR((CAST(embedding[j] AS DOUBLE))
                               * 1000000000e0 + 0.5) / 1000000000e0))
                 AS centroid
        FROM embeddings ORDER BY vec_id LIMIT {KM_K}
    )""",
        "cent0 AS (SELECT cluster, centroid FROM init)",
    ]
    for i in range(1, KM_ITERS + 1):
        parts.append(
            f"""a{i} AS (
        SELECT vec_id, cluster, d2 FROM (
            SELECT vec_id, cluster, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY (FLOOR((d2) * 1000000000e0 + 0.5)
                                 / 1000000000e0), cluster) AS rn
            FROM (SELECT e.vec_id, c.cluster, {_sql_d2('c')} AS d2
                  FROM embeddings e CROSS JOIN cent{i-1} c)
        ) WHERE rn = 1
    )"""
        )
        if i < KM_ITERS:
            parts.append(
                f"""cent{i} AS (
        SELECT cluster, list(mu ORDER BY dim) AS centroid FROM (
            SELECT a.cluster, t.dim,
                   (FLOOR((CAST(SUM(CAST(
                           (FLOOR((CAST(e.embedding[t.dim] AS DOUBLE))
                                  * 1000000000e0 + 0.5) / 1000000000e0)
                       AS DECIMAL(38,9))) AS DOUBLE)
                       / COUNT(*)) * 1000000000e0 + 0.5) / 1000000000e0)
                     AS mu
            FROM a{i} a JOIN embeddings e ON a.vec_id = e.vec_id,
                 UNNEST(generate_series(1, {KM_DIM})) AS t(dim)
            GROUP BY a.cluster, t.dim
        ) GROUP BY cluster
    )"""
            )
    return "WITH " + ",\n    ".join(parts)


def _rounded_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.transform("embedding", lambda x: fround(x.cast("double"), 9)).alias(
            "v"
        ),
    )


def _assign(e: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
    """Zero-shuffle argmin assignment against driver-held centroids:
    one fold expression per centroid, argmin via a strict-less when
    chain over fround(d2, 9) in ascending cluster order (ties keep the
    smaller cluster id -- identical to the oracle's ROW_NUMBER
    tie-break)."""
    clusters = sorted(centroids)

    def d2_col(cid: int) -> Column:
        lit = F.array(*[F.lit(x) for x in centroids[cid]])
        return F.aggregate(
            F.zip_with("v", lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    out = e
    for cid in clusters:
        out = out.withColumn(f"_d2_{cid}", d2_col(cid))
    best_c = F.lit(clusters[0])
    best_d = F.col(f"_d2_{clusters[0]}")
    for cid in clusters[1:]:
        closer = fround(F.col(f"_d2_{cid}"), 9) < fround(best_d, 9)
        best_c = F.when(closer, F.lit(cid)).otherwise(best_c)
        best_d = F.when(closer, F.col(f"_d2_{cid}")).otherwise(best_d)
    return out.select(
        "vec_id", "v", best_c.alias("cluster"), best_d.alias("d2")
    )


def kmeans_state(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict[int, list[float]]]:
    """Run KM_ITERS Lloyd iterations; return (final assignment DF,
    the centroids that PRODUCED that assignment).  Centroids are k x dim
    doubles held driver-side per iteration -- the standard distributed
    k-means layout (constant-size collect, sanctioned like the other
    bounded collects in this repo): assignment is then a pure
    projection (zero shuffle), and the only per-iteration shuffle is
    the (k x dim)-key mean update with map-side partials."""
    e = _rounded_vectors(spark, sf_dir)
    init = e.orderBy("vec_id").limit(KM_K).collect()
    centroids = {i: list(r["v"]) for i, r in enumerate(init)}
    assigned = None
    for it in range(1, KM_ITERS + 1):
        assigned = _assign(e, centroids)
        if it < KM_ITERS:
            new = (
                assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
                .groupBy("cluster", "dim")
                .agg(
                    fround(
                        F.sum(F.col("x").cast("decimal(38,9)")).cast("double")
                        / F.count("*"),
                        9,
                    ).alias("mu")
                )
                .collect()
            )
            centroids = {}
            for r in new:
                centroids.setdefault(r["cluster"], [0.0] * KM_DIM)[
                    r["dim"]
                ] = r["mu"]
    return assigned, centroids


@register(
    "cluster_kmeans",
    rotation_group=1,
    oracle=f"""
    {_sql_kmeans_ctes()}
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
           (FLOOR((d2) * 1000000e0 + 0.5) / 1000000e0) AS dist2
    FROM a{KM_ITERS}
    ORDER BY vec_id
    """,
    doc=f"Lloyd k-means over the embedding table (k={KM_K}, "
        f"{KM_ITERS} fixed iterations, init = the {KM_K} lowest "
        "vec_ids): the workhorse of corpus organization -- SemDeDup "
        "cells, IVF coarse quantizers, and topic bucketing all start "
        "from exactly this loop.  Distributed layout per iteration: "
        "centroids (k x dim doubles, constant size) live driver-side, "
        "so assignment is a ZERO-SHUFFLE projection folded into the "
        "scan (plan-asserted: no hash exchange in the assignment "
        "stage), and the update is a (k x dim)-key decimal mean with "
        "map-side partials -- the MLlib/production k-means shape.  "
        "Determinism: element values and centroid means are 9-dp "
        "rounded, distances are sequential folds of identical doubles, "
        "argmin compares fround(d2, 9) with a cluster-id tie-break on "
        "both engines.  An emptied cluster drops out of the centroid "
        "table (documented; identical on both engines).",
)
def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned, _ = kmeans_state(spark, sf_dir)
    return (
        assigned.select(
            "vec_id",
            F.col("cluster").cast("bigint").alias("cluster"),
            fround("d2", 6).alias("dist2"),
        )
        .orderBy("vec_id")
    )


# ----------------------------- deterministic weighted sampling (A-ES)

WS_K = 100        # sample size
WS_SALT = "wsamp:"
# u = int(md5[:8 hex])/2^32 lies in [0, 1); it is exactly 0 with
# p = 2^-32 per key -- and DuckDB's LN(0) is a hard error while Spark's
# is NULL.  Clamp to the smallest representable grid step BEFORE the
# log on both engines.
WS_U_FLOOR = 1.0 / 4294967296.0


@register(
    "sample_weighted_priority",
    rotation_group=1,
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               CAST(n_chars AS DOUBLE) AS weight,
               {sql_fround(f'''{sql_fround(f"LN(GREATEST({_sql_u(WS_SALT)}, {WS_U_FLOOR!r}))", 9)}
                     / n_chars''', 12)} AS priority
        FROM documents
    ),
    top AS (
        SELECT doc_id, weight, priority
        FROM keyed ORDER BY priority DESC, doc_id LIMIT {WS_K}
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id)
                AS BIGINT) AS pos,
           doc_id, weight, priority
    FROM top ORDER BY pos
    """,
    doc=f"Weighted sampling without replacement, without an RNG "
        "(Efraimidis-Spirakis A-ES, 2006): each item gets the "
        "exponential sort key ln(u)/w from the salted-md5 uniform u and "
        "its weight w (here n_chars as the stand-in importance weight; "
        "plug in a quality or DSIR importance score), and the sample is "
        f"the global top-{WS_K} keys -- inclusion probability "
        "proportional to weight, reproducible on any cluster layout.  "
        "This is the resampling step DSIR pairs with its importance "
        "weights.  u is clamped above 0 before the log (LN(0) is an "
        "error in DuckDB and NULL in Spark); ln(u) rounds once at 9 dp "
        "(the house libm-absorption margin), the quotient once at "
        "12 dp, and both engines rank DESC with a doc_id tie-break.  "
        "At 100 TB: a bounded-K global top-k plans as per-partition "
        "TakeOrdered + single merge of K-row partials -- no global "
        "sort, no shuffle of the corpus.",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lnu = fround(F.log(F.greatest(_u(WS_SALT), F.lit(WS_U_FLOOR))), 9)
    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("weight"),
        fround(lnu / F.col("n_chars"), 12).alias("priority"),
    )
    top = keyed.orderBy(F.col("priority").desc(), "doc_id").limit(WS_K)
    w = Window.orderBy(F.col("priority").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).cast("bigint").alias("pos"),
        "doc_id",
        "weight",
        "priority",
    ).orderBy("pos")


# ------------------------------------------------- triangle counting

from .graph import SQL_EDGES  # noqa: E402


@register(
    "graph_triangle_count",
    rotation_group=1,
    oracle=f"""
    WITH und AS MATERIALIZED (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM ({SQL_EDGES}) WHERE src <> dst
        GROUP BY 1, 2
    ),
    wedges AS MATERIALIZED (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1 JOIN und e2 ON e1.b = e2.a
    ),
    tri AS (
        SELECT w.x, w.y, w.z
        FROM wedges w JOIN und e3 ON e3.a = w.x AND e3.b = w.z
    ),
    per_node AS (
        SELECT node, COUNT(*) AS triangles FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY 1
    )
    SELECT node, CAST(triangles AS BIGINT) AS triangles
    FROM per_node ORDER BY node
    """,
    doc="Per-node triangle count over the undirected payment graph -- "
        "the clustering-coefficient numerator (community structure / "
        "fraud-pattern signal; GraphX's triangleCount).  Edges orient "
        "from the lower-(degree, id) endpoint, so each triangle "
        "(rank x<y<z) is discovered exactly once as the wedge "
        "(x,y)+(y,z) closed by (x,z); pure-integer equi-joins, no "
        "floats anywhere.  At 100 TB edge scale: both joins key on "
        "node ids (hash-partitioned, map-side combinable count), and "
        "degree orientation caps every out-neighborhood at sqrt(2m) -- "
        "the GENUINE m^1.5 wedge bound, which plain id-orientation "
        "lacks on hub-skewed graphs (see graph.degree_oriented).  The "
        "oracle keeps id orientation: output is orientation-invariant.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import _edges, oriented_triangles

    raw = _edges(spark, sf_dir)
    und = (
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    _, tri = oriented_triangles(und)
    nodes = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
        .orderBy("node")
    )


# --------------------------- KMV / theta sketch with set intersection

KMV_K = 64
# u(user_id) = _u(KMV_SALT, user_id): the same salted-md5 uniform for a
# user in EVERY group -- the property theta-sketch set operations
# depend on.
KMV_SALT = "kmv:"


@register(
    "sketch_kmv_intersection",
    rotation_group=1,
    oracle=f"""
    WITH u AS (
        SELECT DISTINCT event_type, {_sql_u(KMV_SALT, "user_id")} AS u FROM events
    ),
    sk AS (
        SELECT event_type,
               list_slice(list_sort(list(u)), 1, {KMV_K}) AS arr,
               COUNT(*) AS n_seen
        FROM u GROUP BY 1
    ),
    est AS (
        SELECT event_type, arr, n_seen,
               CASE WHEN n_seen < {KMV_K} THEN 1.0
                    ELSE arr[{KMV_K}] END AS theta,
               CASE WHEN n_seen < {KMV_K} THEN CAST(n_seen AS DOUBLE)
                    ELSE ({KMV_K} - 1) / arr[{KMV_K}] END AS est_distinct
        FROM sk
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           (FLOOR((a.est_distinct) * 1000000e0 + 0.5) / 1000000e0) AS est_a,
           (FLOOR((b.est_distinct) * 1000000e0 + 0.5) / 1000000e0) AS est_b,
           (FLOOR((len(list_intersect(
                     list_filter(a.arr, x -> x < LEAST(a.theta, b.theta)),
                     list_filter(b.arr, x -> x < LEAST(a.theta, b.theta))))
                 / LEAST(a.theta, b.theta)) * 1000000e0 + 0.5) / 1000000e0)
             AS est_intersection
    FROM est a JOIN est b ON a.event_type < b.event_type
    ORDER BY type_a, type_b
    """,
    doc=f"KMV / bottom-k theta sketch (Bar-Yossef et al. 2002; the "
        "Apache DataSketches theta family): per group, the "
        f"{KMV_K} smallest salted-md5 uniforms of the member keys.  "
        f"Distinct estimate = (k-1)/u_(k); INTERSECTION estimate "
        "between two groups = |matching kept hashes below the shared "
        "theta| / theta -- the audience-overlap primitive that "
        "HLL/bloom/CMS cannot answer.  The same u(key) in every group "
        "is what makes sketches comparable.  All comparisons are on "
        "exact multiples of 2^-32 (no float noise); division rounds "
        "once at 6 dp.  At 100 TB the sketch is k doubles per group "
        "(collect_set + sort + slice, map-side partial-aggregable), "
        "groups union by merging sorted lists -- constant-size state, "
        "any number of partial sketches.",
)
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    u = e.select(
        "event_type", _u(KMV_SALT, F.col("user_id")).alias("u")
    ).distinct()
    sk = u.groupBy("event_type").agg(
        F.slice(F.sort_array(F.collect_list("u")), 1, KMV_K).alias("arr"),
        F.count("*").alias("n_seen"),
    )
    small = F.col("n_seen") < KMV_K
    est = sk.select(
        "event_type",
        "arr",
        F.when(small, F.lit(1.0))
        .otherwise(F.element_at("arr", KMV_K))
        .alias("theta"),
        F.when(small, F.col("n_seen").cast("double"))
        .otherwise(F.lit(KMV_K - 1) / F.element_at("arr", KMV_K))
        .alias("est_distinct"),
    )
    a, b = est.alias("a"), est.alias("b")
    theta = F.least(F.col("a.theta"), F.col("b.theta"))
    kept = lambda side: F.filter(  # noqa: E731
        F.col(f"{side}.arr"), lambda x: x < theta
    )
    return (
        a.join(b, F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            fround(F.col("a.est_distinct"), 6).alias("est_a"),
            fround(F.col("b.est_distinct"), 6).alias("est_b"),
            fround(
                F.size(F.array_intersect(kept("a"), kept("b"))) / theta, 6
            ).alias("est_intersection"),
        )
        .orderBy("type_a", "type_b")
    )


# ------------------------------------------- bigram LM perplexity

LM_ROUND = 9  # one libm-absorbing round on each per-bigram logprob


@register(
    "text_bigram_logprob",
    rotation_group=2,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKENS} AS t FROM documents
    ),
    bigrams AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, UNNEST(range(1, len(t))) AS r(i)
    ),
    big_c AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2
    ),
    uni_c AS (
        SELECT w1, COUNT(*) AS c1 FROM bigrams GROUP BY 1
    ),
    vocab AS (
        SELECT COUNT(DISTINCT w1) AS v FROM bigrams
    ),
    scored AS (
        SELECT b.doc_id,
               {sql_fround('''LN(CAST(bc.c12 + 1 AS DOUBLE)
                                / (uc.c1 + vocab.v))''', LM_ROUND)} AS lp
        FROM bigrams b
        JOIN big_c bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
        JOIN uni_c uc ON b.w1 = uc.w1
        CROSS JOIN vocab
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           (FLOOR(({sql_dsum("lp", LM_ROUND)} / COUNT(*)) * 1000000e0 + 0.5)
            / 1000000e0) AS avg_logprob
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Corpus-trained bigram language-model scoring (the CCNet-style "
        "perplexity quality filter): Laplace-smoothed P(w2|w1) = "
        "(c12+1)/(c1+V) learned from the corpus itself, mean log-prob "
        "per document.  Low-probability documents are boilerplate/noise "
        "candidates; the standard LM-based pre-filter before training.  "
        "Determinism: each per-bigram LN rounds once at 9 dp (absorbing "
        "libm differences), the per-doc mean goes through the "
        "DECIMAL(38,9) order-independent sum, and the emitted mean "
        "rounds once to 6 dp.  At 100 TB: bigram/unigram model tables "
        "are map-side-combinable aggs over the bigram stream; the "
        "scale path is text_bigram_logprob_capped (top-K + OOV bucket "
        "bounds the model, scoring joins broadcast -- implemented "
        "below); this exact-vocabulary form leaves the join unforced "
        "so the optimizer picks (it broadcasts at small scale).",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Guard < 2 tokens BEFORE the sequence explode: sequence(0, -1)
    # counts DOWN ([0, -1]) and the t[i+1] lookup is then out of bounds
    # (ANSI error) -- the oracle's range(1, len) yields no rows, so the
    # filter keeps both engines on "no bigrams" for degenerate docs.
    toks = d.select("doc_id", _tokens().alias("t")).filter(F.size("t") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(F.expr("sequence(0, size(t) - 2)")).alias("i"),
        F.col("t"),
    ).select("doc_id", F.expr("t[i]").alias("w1"), F.expr("t[i + 1]").alias("w2"))
    big_c = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni_c = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = bigrams.agg(F.countDistinct("w1").alias("v"))
    scored = (
        bigrams.join(big_c, ["w1", "w2"])
        .join(uni_c, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            fround(
                F.log((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v"))),
                LM_ROUND,
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            fround(dsum("lp", LM_ROUND) / F.count("*"), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# ------------------------------- capped-vocabulary bigram LM

# The at-scale form text_bigram_logprob's doc promises: vocabulary
# capped to the top-K unigrams (deterministic count-desc, term-asc
# cut), everything else mapped to one OOV bucket, so the model tables
# are BOUNDED (<= (K+1)^2 bigram rows) and the scoring join broadcasts
# the model -- the corpus never shuffles on the bigram key.  K is small
# here so the OOV path is genuinely exercised at every test SF (the
# synthetic vocabulary is ~31 terms); production raises K, not the
# shape.
LM_VOCAB_K = 16
LM_OOV = "<oov>"

# The capped-LM scoring pipeline as shared oracle CTEs: token stream ->
# deterministic top-K vocabulary -> OOV-mapped bigrams -> Laplace
# bigram/unigram model -> per-bigram rounded logprob.  Used by both the
# scoring query and the perplexity filter so the two oracles cannot
# drift.
_SQL_CAPPED_LM_CTES = f"""toks AS (
        SELECT doc_id, {SQL_TOKENS} AS t FROM documents
    ),
    vocab_top AS (
        SELECT w FROM (SELECT UNNEST(t) AS w FROM toks)
        GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT {LM_VOCAB_K}
    ),
    bigrams AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, UNNEST(range(1, len(t))) AS r(i)
    ),
    mapped AS (
        SELECT b.doc_id,
               CASE WHEN v1.w IS NULL THEN '{LM_OOV}' ELSE b.w1 END AS m1,
               CASE WHEN v2.w IS NULL THEN '{LM_OOV}' ELSE b.w2 END AS m2
        FROM bigrams b
        LEFT JOIN vocab_top v1 ON b.w1 = v1.w
        LEFT JOIN vocab_top v2 ON b.w2 = v2.w
    ),
    big_c AS (
        SELECT m1, m2, COUNT(*) AS c12 FROM mapped GROUP BY 1, 2
    ),
    uni_c AS (
        SELECT m1, COUNT(*) AS c1 FROM mapped GROUP BY 1
    ),
    vocab AS (
        SELECT COUNT(DISTINCT m1) AS v FROM mapped
    ),
    scored AS (
        SELECT m.doc_id,
               {sql_fround('''LN(CAST(bc.c12 + 1 AS DOUBLE)
                                / (uc.c1 + vocab.v))''', LM_ROUND)} AS lp
        FROM mapped m
        JOIN big_c bc ON m.m1 = bc.m1 AND m.m2 = bc.m2
        JOIN uni_c uc ON m.m1 = uc.m1
        CROSS JOIN vocab
    )"""


@register(
    "text_bigram_logprob_capped",
    rotation_group=3,
    oracle=f"""
    WITH {_SQL_CAPPED_LM_CTES}
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           (FLOOR(({sql_dsum("lp", LM_ROUND)} / COUNT(*)) * 1000000e0 + 0.5)
            / 1000000e0) AS avg_logprob
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc=f"Capped-vocabulary bigram LM scoring -- the 100 TB form of "
        f"text_bigram_logprob: the top-{LM_VOCAB_K} unigrams (count "
        "desc, term asc -- a deterministic cut both engines replay "
        "bit-identically) keep their identity, every other token maps "
        f"to '{LM_OOV}', so the unigram/bigram model tables are bounded "
        "by (K+1) and (K+1)^2 rows REGARDLESS of corpus size and the "
        "scoring joins broadcast the model (forced with F.broadcast; "
        "plan-asserted: zero SortMergeJoin).  The corpus-side bigram "
        "stream never shuffles on a model key -- the uncapped "
        "operator's doc promised this variant; now both exist behind "
        "oracles.  Same Laplace smoothing, LN-round and decimal-sum "
        "determinism contract as the uncapped form.",
)
def text_bigram_logprob_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return _capped_lm_doc_scores(d)


def _capped_lm_doc_scores(d: DataFrame) -> DataFrame:
    """Per-doc (n_bigrams, avg_logprob) under the capped-vocab bigram
    LM -- shared by the scoring query and the perplexity filter."""
    toks0 = d.select("doc_id", _tokens().alias("t"))
    # Vocabulary from the FULL token stream (1-token docs included),
    # matching the oracle's UNNEST(t) source.
    vocab_top = (
        toks0.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(LM_VOCAB_K)
        .select("w")
    )
    toks = toks0.filter(F.size("t") >= 2)
    bigrams = (
        toks.select(
            "doc_id",
            F.explode(F.expr("sequence(0, size(t) - 2)")).alias("i"),
            F.col("t"),
        )
        .select(
            "doc_id", F.expr("t[i]").alias("w1"), F.expr("t[i + 1]").alias("w2")
        )
    )
    v1 = vocab_top.withColumnRenamed("w", "w1").withColumn("k1", F.lit(1))
    v2 = vocab_top.withColumnRenamed("w", "w2").withColumn("k2", F.lit(1))
    mapped = (
        bigrams.join(F.broadcast(v1), "w1", "left")
        .join(F.broadcast(v2), "w2", "left")
        .select(
            "doc_id",
            F.when(F.col("k1").isNull(), F.lit(LM_OOV))
            .otherwise(F.col("w1"))
            .alias("m1"),
            F.when(F.col("k2").isNull(), F.lit(LM_OOV))
            .otherwise(F.col("w2"))
            .alias("m2"),
        )
    )
    big_c = mapped.groupBy("m1", "m2").agg(F.count("*").alias("c12"))
    uni_c = mapped.groupBy("m1").agg(F.count("*").alias("c1"))
    vocab = mapped.agg(F.countDistinct("m1").alias("v"))
    scored = (
        mapped.join(F.broadcast(big_c), ["m1", "m2"])
        .join(F.broadcast(uni_c), ["m1"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            fround(
                F.log(
                    (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v"))
                ),
                LM_ROUND,
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            fround(dsum("lp", LM_ROUND) / F.count("*"), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# ------------------------------- CCNet-style perplexity bucketing

# CCNet (Wenzek et al., 2020) buckets each language's documents into
# head/middle/tail thirds by LM perplexity and typically trains on
# head+middle.  Same shape here: per-doc perplexity under the capped
# bigram LM, tercile bucket per language (deterministic NTILE ordering
# on (rounded ppl, doc_id)), keep = not tail.
PPL_BUCKETS = 3


@register(
    "text_lm_perplexity_filter",
    rotation_group=5,
    oracle=f"""
    WITH {_SQL_CAPPED_LM_CTES},
    doc_ppl AS (
        SELECT doc_id,
               {sql_fround(f'EXP(-((FLOOR(({sql_dsum("lp", LM_ROUND)} / COUNT(*)) * 1000000e0 + 0.5) / 1000000e0)))', 6)} AS ppl
        FROM scored GROUP BY doc_id
    ),
    bucketed AS (
        SELECT d.doc_id, d.lang, p.ppl,
               NTILE({PPL_BUCKETS}) OVER (
                   PARTITION BY d.lang ORDER BY p.ppl, d.doc_id
               ) AS tercile
        FROM doc_ppl p JOIN documents d ON p.doc_id = d.doc_id
    )
    SELECT doc_id, lang, ppl,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           (tercile < {PPL_BUCKETS}) AS keep
    FROM bucketed
    ORDER BY doc_id
    """,
    doc="CCNet-style perplexity filter (Wenzek et al., 2020): score "
        "every document with the capped bigram LM, convert to "
        "perplexity (exp of the negative mean logprob, one terminal "
        "round on each engine), and NTILE each language into "
        "head/middle/tail terciles with a (ppl, doc_id) deterministic "
        "order; keep = head+middle.  The standard learned quality "
        "gate of a web-corpus pipeline, re-expressed on the bounded "
        "broadcastable LM.  At 100 TB: scoring inherits the capped "
        "LM's zero-model-shuffle plan; the tercile window partitions "
        "by language -- per-language local sorts over (ppl, doc_id), "
        "never a global one (and per-language ranking can shard "
        "further by binning rounded ppl exactly as the curriculum "
        "sharder does).",
)
def text_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ppl = _capped_lm_doc_scores(d).select(
        "doc_id", fround(F.exp(-F.col("avg_logprob")), 6).alias("ppl")
    )
    w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
    bucketed = (
        d.select("doc_id", "lang")
        .join(ppl, "doc_id")
        .select("doc_id", "lang", "ppl", F.ntile(PPL_BUCKETS).over(w).alias("tercile"))
    )
    return bucketed.select(
        "doc_id", "lang", "ppl",
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
        (F.col("tercile") < PPL_BUCKETS).alias("keep"),
    ).orderBy("doc_id")


@register(
    "text_oov_rate_by_source",
    rotation_group=3,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {SQL_TOKENS} AS t FROM documents
    ),
    words AS (
        SELECT source, UNNEST(t) AS w FROM toks
    ),
    vocab_top AS (
        SELECT w FROM words GROUP BY w
        ORDER BY COUNT(*) DESC, w LIMIT {LM_VOCAB_K}
    )
    SELECT wd.source,
           COUNT(*) AS n_tokens,
           CAST(COUNT(*) FILTER (v.w IS NULL) AS BIGINT) AS n_oov,
           (FLOOR((CAST(COUNT(*) FILTER (v.w IS NULL) AS DOUBLE)
                 / COUNT(*)) * 1000000e0 + 0.5) / 1000000e0) AS oov_rate
    FROM words wd LEFT JOIN vocab_top v ON wd.w = v.w
    GROUP BY wd.source
    ORDER BY wd.source
    """,
    doc=f"Vocabulary coverage by source: the fraction of each source's "
        f"tokens falling outside the top-{LM_VOCAB_K} corpus vocabulary "
        "(the same deterministic cut the capped bigram LM trains on) -- "
        "the tokenizer/vocab-coverage diagnostic a mixture designer "
        "reads before committing a vocab size, and the per-domain OOV "
        "budget check after.  Shuffle budget: one keyed vocabulary "
        "count, then the tiny vocab BROADCASTS into the per-source "
        "membership agg -- the token stream shuffles once (source "
        "keys), never on the word.",
)
def text_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select("source", F.explode(_tokens()).alias("w"))
    vocab_top = (
        words.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(LM_VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab_top), "w", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            fround(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# ------------------------------------- Naive Bayes language classifier

# The deterministic, fully-SQL-expressible form of the learned-filter
# stage (fastText-style classifiers in CCNet/RefinedWeb/DCLM): a
# multinomial NB with Laplace smoothing, trained on the even-doc_id
# half of the corpus, evaluated on the held-out odd half.  Unlike the
# marker-lexicon heuristic (text_lang_id) this has a TRAINED model --
# per-(class, token) counts -- yet every number is exact integer
# arithmetic until one LN per (class, token), rounded once at 9 dp,
# decimal-summed per doc (house determinism recipe).
NB_ROUND = 9


@register(
    "text_nb_lang_classifier",
    rotation_group=4,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, UNNEST({SQL_TOKENS}) AS tok FROM documents
    ),
    train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
    ct AS (SELECT lang AS c, tok, COUNT(*) AS n FROM train GROUP BY 1, 2),
    cls AS (
        SELECT lang AS c, COUNT(*) AS n_tok,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM train GROUP BY 1
    ),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM train),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cls),
    test AS (SELECT * FROM toks WHERE doc_id % 2 = 1),
    scored AS (
        SELECT t.doc_id, t.lang, k.c,
               {sql_fround('''LN(CAST(COALESCE(ct.n, 0) + 1 AS DOUBLE)
                        / (k.n_tok + vocab.v))''', NB_ROUND)} AS lp
        FROM test t
        CROSS JOIN cls k
        CROSS JOIN vocab
        LEFT JOIN ct ON ct.c = k.c AND ct.tok = t.tok
    ),
    doc_cls AS (
        SELECT s.doc_id, s.lang, s.c,
               {sql_dsum('s.lp', 9)}
                 + {sql_fround('LN(CAST(k.n_docs AS DOUBLE) / tot.n)',
                                   NB_ROUND)}
                 AS score
        FROM scored s
        JOIN cls k ON k.c = s.c
        CROSS JOIN tot
        GROUP BY s.doc_id, s.lang, s.c, k.n_docs, tot.n
    ),
    ranked AS (
        SELECT doc_id, lang, c, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, c) AS rn
        FROM doc_cls
    )
    SELECT doc_id, lang, c AS pred_lang, lang = c AS correct
    FROM ranked WHERE rn = 1 ORDER BY doc_id
    """,
    doc="Supervised language-ID as multinomial Naive Bayes with Laplace "
        "smoothing: per-(class, token) counts trained on the even-doc_id "
        "half, argmax class posterior on the held-out odd half -- the "
        "deterministic stand-in for the fastText-style LEARNED filter "
        "stage of CCNet/RefinedWeb pipelines (the heuristic counterpart "
        "is text_lang_id).  Exact integer counts feed one LN per "
        "(class, token), rounded once; per-doc class scores are decimal "
        "sums; argmax tie-breaks on class name -- both engines rank "
        "identical values.  Scale: the model is a (vocab x classes) "
        "count relation built with one keyed agg (cappable to top-K "
        "like the bigram LM); scoring joins the model on token and "
        "multiplies the token stream by n_classes (a small constant); "
        "the per-doc argmax reduces keyed by doc.  No floats cross "
        "engines unrounded, no iteration, no UDFs.",
)
def text_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(_tokens()).alias("tok")
    )
    train = toks.filter(F.col("doc_id") % 2 == 0)
    ct = train.groupBy(F.col("lang").alias("c"), "tok").agg(
        F.count("*").alias("n")
    )
    cls = train.groupBy(F.col("lang").alias("c")).agg(
        F.count("*").alias("n_tok"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    vocab = train.agg(F.countDistinct("tok").alias("v"))
    tot = cls.agg(F.sum("n_docs").cast("bigint").alias("n"))
    test = toks.filter(F.col("doc_id") % 2 == 1)
    scored = (
        test.crossJoin(F.broadcast(cls))
        .crossJoin(F.broadcast(vocab))
        .join(ct, ["c", "tok"], "left")
        .select(
            "doc_id",
            "lang",
            "c",
            "n_docs",
            fround(
                F.log(
                    (F.coalesce(F.col("n"), F.lit(0)) + 1).cast("double")
                    / (F.col("n_tok") + F.col("v"))
                ),
                NB_ROUND,
            ).alias("lp"),
        )
    )
    doc_cls = (
        scored.crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang", "c", "n_docs", F.col("n").alias("n_total"))
        .agg(dsum("lp", 9).alias("ll"))
        .select(
            "doc_id",
            "lang",
            "c",
            (
                F.col("ll")
                + fround(
                    F.log(
                        F.col("n_docs").cast("double") / F.col("n_total")
                    ),
                    NB_ROUND,
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("c"))
    return (
        doc_cls.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("c").alias("pred_lang"),
            (F.col("lang") == F.col("c")).alias("correct"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------- BPE tokenizer training merges

# Distributed BPE training (Sennrich et al. 2016), the tokenizer-side
# counterpart of the token-counting ops: K merge rounds over the WORD-
# FREQUENCY table (classic BPE trains on (word, freq), never the raw
# corpus -- the relation is vocabulary-sized).  Symbols are wrapped in
# \x02..\x03 markers so the merge rewrite is a plain substring replace
# that can NEVER match across a symbol boundary, and adjacent pattern
# occurrences share no characters (left-to-right non-overlapping
# replace == the reference BPE merge in both engines).
BPE_MERGES = 5
_B_L, _B_R, _B_SEP = "chr(2)", "chr(3)", "chr(1)"


def _bpe_ctes() -> str:
    """The shared unrolled training CTE chain: word frequencies ->
    marker-delimited symbol sequences -> per round (pair counts ->
    deterministic argmax (cnt DESC, pair ASC) -> scalar-subquery
    rewrite).  s{{r}} carries the original word so the encoder oracle
    can map word -> final segmentation; the training oracle ignores it.

    s{{r}} and t{{r}} are MATERIALIZED: each s{{r}} is referenced twice
    (by p{{r+1}} and s{{r+1}}) and each t{{r}} three times (the scalar
    subqueries), so DuckDB's default CTE inlining re-evaluates the
    whole prefix chain per reference -- 2^rounds blowup that turned
    the encoder oracle into a 78 s timeout at 10x; materialized
    (vocab-sized relations, 1-row t's) the same chain runs in 0.3 s."""
    ctes = [
        f"""
    toks AS (
        SELECT UNNEST({SQL_TOKENS}) AS w FROM documents
    ),
    wf AS (SELECT w, COUNT(*) AS f FROM toks WHERE w <> '' GROUP BY 1),
    s0 AS MATERIALIZED (
        SELECT w, regexp_replace(w, '(.)', {_B_L} || '\\1' || {_B_R}, 'g')
                 AS seq, f
        FROM wf
    )"""
    ]
    for r in range(1, BPE_MERGES + 1):
        prev = f"s{r - 1}"
        ctes.append(f"""
    p{r} AS (
        SELECT UNNEST(list_transform(generate_series(1, len(a) - 1),
               i -> a[i] || {_B_SEP} || a[i + 1])) AS pair, f
        FROM (SELECT string_split(trim(seq, {_B_L} || {_B_R}),
                                  {_B_R} || {_B_L}) AS a, f FROM {prev})
    ),
    t{r} AS MATERIALIZED (
        SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt FROM p{r}
        GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1
    ),
    s{r} AS MATERIALIZED (
        SELECT w, replace(seq,
            {_B_L} || split_part((SELECT pair FROM t{r}), {_B_SEP}, 1)
              || {_B_R} || {_B_L}
              || split_part((SELECT pair FROM t{r}), {_B_SEP}, 2) || {_B_R},
            {_B_L} || replace((SELECT pair FROM t{r}), {_B_SEP}, '')
              || {_B_R}) AS seq, f
        FROM {prev}
    )""")
    return "WITH" + ",".join(ctes)


def _bpe_oracle() -> str:
    unions = "\n    UNION ALL\n".join(
        f"""    SELECT {r} AS round,
           split_part(pair, {_B_SEP}, 1) AS left_sym,
           split_part(pair, {_B_SEP}, 2) AS right_sym,
           replace(pair, {_B_SEP}, '') AS merged,
           cnt
    FROM t{r}"""
        for r in range(1, BPE_MERGES + 1)
    )
    return _bpe_ctes() + "\n" + unions + "\n    ORDER BY round"


@register(
    "text_bpe_merges",
    rotation_group=4,
    oracle=_bpe_oracle(),
    doc=f"Distributed BPE tokenizer training, first {BPE_MERGES} merges "
        "(Sennrich et al. 2016): adjacent-symbol pair counts over the "
        "word-frequency table, deterministic argmax per round (count "
        "DESC, pair ASC), merge applied as a marker-delimited substring "
        "replace that cannot match across symbol boundaries.  Exact "
        "integer counts end to end -- the oracle replays the identical "
        "unrolled rounds with scalar subqueries.  Scale: classic BPE "
        "never touches the corpus after ONE keyed word-count agg; every "
        "round runs on the vocabulary-sized (word, freq) relation "
        "(persisted, constant size), and each round's driver collect is "
        "exactly one row (the argmax pair) -- the same bounded-collect "
        "pattern as k-means centroids.  Rounds are data-dependent "
        "sequential by nature (merge r+1's counts depend on merge r), "
        "matching every production BPE trainer.",
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    merges, cur = _bpe_train(d)
    cur.unpersist()
    return local_df(
        spark, merges, "round int, left_sym string, right_sym string, "
        "merged string, cnt bigint"
    ).orderBy("round")


def _bpe_train(d: DataFrame) -> tuple[list, DataFrame]:
    """Run the merge loop; returns (merges, final vocabulary relation
    (w, seq, f), still persisted -- caller unpersists)."""
    wf = (
        d.select(F.explode(_tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    cur = wf.select(
        "w", F.regexp_replace("w", "(.)", "\x02$1\x03").alias("seq"), "f"
    ).persist()
    cur.count()
    merges = []
    for r in range(1, BPE_MERGES + 1):
        syms = cur.select(
            F.split(
                F.expr("trim(BOTH '\x02\x03' FROM seq)"), "\x03\x02"
            ).alias("a"),
            "f",
        )
        pairs = syms.select(
            F.explode(
                F.zip_with(
                    F.slice("a", 1, F.size("a") - 1),
                    F.slice("a", 2, F.size("a") - 1),
                    lambda x, y: F.concat(x, F.lit("\x01"), y),
                )
            ).alias("pair"),
            "f",
        )
        rows = (
            pairs.groupBy("pair")
            .agg(F.sum("f").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair"))
            .limit(1)
            .collect()
        )
        if not rows:  # every word fully merged -- nothing left
            break
        top = rows[0]
        left, right = top.pair.split("\x01")
        merges.append((r, left, right, left + right, top.cnt))
        nxt = cur.select(
            "w",
            F.replace(
                F.col("seq"),
                F.lit(f"\x02{left}\x03\x02{right}\x03"),
                F.lit(f"\x02{left}{right}\x03"),
            ).alias("seq"),
            "f",
        ).persist()
        nxt.count()
        cur.unpersist()
        cur = nxt
    return merges, cur


@register(
    "text_bpe_encode_counts",
    rotation_group=5,
    oracle=_bpe_ctes() + f""",
    wt AS (
        SELECT w,
               len(string_split(trim(seq, {_B_L} || {_B_R}),
                                {_B_R} || {_B_L})) AS n_sym
        FROM s{BPE_MERGES}
    ),
    doctoks AS (
        SELECT doc_id, UNNEST({SQL_TOKENS}) AS w FROM documents
    )
    SELECT dt.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(wt.n_sym) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(len(dt.w)) AS BIGINT) AS n_word_chars,
           (FLOOR((CAST(SUM(len(dt.w)) AS DOUBLE) / SUM(wt.n_sym))
                   * 1000000e0 + 0.5) / 1000000e0)
             AS chars_per_token
    FROM doctoks dt JOIN wt ON dt.w = wt.w
    WHERE dt.w <> ''
    GROUP BY dt.doc_id
    ORDER BY dt.doc_id
    """,
    doc=f"BPE tokenizer APPLICATION: encode every document with the "
        f"{BPE_MERGES}-merge tokenizer text_bpe_merges trains and count "
        "the resulting tokens per document (plus chars-per-token, the "
        "compression diagnostic a tokenizer owner tracks).  The "
        "trained-tokenizer token count is what mixture budgeting and "
        "context packing actually need -- whitespace counts "
        "(text_token_count) underestimate cost on rare words.  "
        "Encoding runs on the VOCABULARY relation (each distinct word "
        "segmented once, merges applied as literal replaces), then a "
        "word-keyed join prices each document -- the corpus is never "
        "re-segmented row by row.  At 100 TB: one keyed word-count "
        "agg + the vocab-sized merge rounds (training), one "
        "vocab-keyed join (application); AQE broadcasts the vocab "
        "side when small.",
)
def text_bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    _, cur = _bpe_train(d)
    wt = cur.select(
        "w",
        F.size(
            F.split(F.expr("trim(BOTH '\x02\x03' FROM seq)"), "\x03\x02")
        ).alias("n_sym"),
    )
    doctoks = d.select("doc_id", F.explode(_tokens()).alias("w")).filter(
        F.col("w") != ""
    )
    out = (
        doctoks.join(wt, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
            F.sum(F.length("w")).cast("bigint").alias("n_word_chars"),
            fround(
                F.sum(F.length("w")).cast("double") / F.sum("n_sym"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )
    cur.unpersist()  # lineage is literal-merge replays: safe to recompute
    return out


# ----------------------- Kneser-Ney smoothing over the capped vocab

# Interpolated Kneser-Ney with a single absolute discount (Kneser &
# Ney, 1995; Chen & Goodman, 1999 eq. 4.28).  All three continuation
# statistics are re-aggregations of the bigram TYPE table big_c --
# bounded by (K+1)^2 rows -- so the model stays broadcastable and the
# corpus-side bigram stream still never shuffles on a model key.
KN_D = 0.75


@register(
    "text_kneser_ney_bigram",
    rotation_group=6,
    oracle=f"""
    WITH {_SQL_CAPPED_LM_CTES},
    n1_fwd AS (
        SELECT m1, CAST(COUNT(*) AS BIGINT) AS t1 FROM big_c GROUP BY 1
    ),
    n1_bwd AS (
        SELECT m2, CAST(COUNT(*) AS BIGINT) AS t2 FROM big_c GROUP BY 1
    ),
    n_types AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM big_c),
    kn AS (
        SELECT m.doc_id,
               {sql_fround(f'''LN(
                   GREATEST(CAST(bc.c12 AS DOUBLE) - {KN_D}, 0.0) / uc.c1
                   + ({KN_D} * f.t1 / uc.c1)
                     * (CAST(b.t2 AS DOUBLE) / t.tt)
               )''', LM_ROUND)} AS lp
        FROM mapped m
        JOIN big_c bc ON m.m1 = bc.m1 AND m.m2 = bc.m2
        JOIN uni_c uc ON m.m1 = uc.m1
        JOIN n1_fwd f ON m.m1 = f.m1
        JOIN n1_bwd b ON m.m2 = b.m2
        CROSS JOIN n_types t
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           (FLOOR(({sql_dsum("lp", LM_ROUND)} / COUNT(*)) * 1000000e0 + 0.5)
            / 1000000e0) AS avg_kn_logprob
    FROM kn GROUP BY doc_id ORDER BY doc_id
    """,
    doc=f"Interpolated Kneser-Ney bigram scoring over the capped "
        f"vocabulary (discount D={KN_D}): P(w2|w1) = max(c12-D,0)/c1 + "
        "(D*N1+(w1,.)/c1) * N1+(.,w2)/N1+(.,.) -- the smoothing that "
        "actually ships in n-gram quality filters (KenLM default), "
        "where Laplace (text_bigram_logprob_capped) over-smooths rare "
        "continuations.  The continuation counts N1+ are COUNT(*) "
        "re-aggregations of the bounded bigram type table itself -- no "
        "new corpus pass, every model relation <= (K+1)^2 rows and "
        "broadcast (plan-asserted: zero SortMergeJoin) -- so the "
        "at-scale shape is identical to the capped LM: the corpus "
        "shuffles once on doc_id for the final per-doc fold and never "
        "on a model key.  Interpolation keeps every probability "
        "strictly positive, so the LN is total; same LN-round and "
        "decimal-sum determinism contract as the other LM scorers.",
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks0 = d.select("doc_id", _tokens().alias("t"))
    vocab_top = (
        toks0.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(LM_VOCAB_K)
        .select("w")
    )
    toks = toks0.filter(F.size("t") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(F.expr("sequence(0, size(t) - 2)")).alias("i"),
        F.col("t"),
    ).select(
        "doc_id", F.expr("t[i]").alias("w1"), F.expr("t[i + 1]").alias("w2")
    )
    v1 = vocab_top.withColumnRenamed("w", "w1").withColumn("k1", F.lit(1))
    v2 = vocab_top.withColumnRenamed("w", "w2").withColumn("k2", F.lit(1))
    mapped = (
        bigrams.join(F.broadcast(v1), "w1", "left")
        .join(F.broadcast(v2), "w2", "left")
        .select(
            "doc_id",
            F.when(F.col("k1").isNull(), F.lit(LM_OOV))
            .otherwise(F.col("w1"))
            .alias("m1"),
            F.when(F.col("k2").isNull(), F.lit(LM_OOV))
            .otherwise(F.col("w2"))
            .alias("m2"),
        )
    )
    big_c = mapped.groupBy("m1", "m2").agg(F.count("*").alias("c12"))
    uni_c = mapped.groupBy("m1").agg(F.count("*").alias("c1"))
    n1_fwd = big_c.groupBy("m1").agg(F.count("*").cast("bigint").alias("t1"))
    n1_bwd = big_c.groupBy("m2").agg(F.count("*").cast("bigint").alias("t2"))
    n_types = big_c.agg(F.count("*").cast("bigint").alias("tt"))
    p_kn = (
        F.greatest(F.col("c12").cast("double") - KN_D, F.lit(0.0))
        / F.col("c1")
        + (F.lit(KN_D) * F.col("t1") / F.col("c1"))
        * (F.col("t2").cast("double") / F.col("tt"))
    )
    scored = (
        mapped.join(F.broadcast(big_c), ["m1", "m2"])
        .join(F.broadcast(uni_c), ["m1"])
        .join(F.broadcast(n1_fwd), ["m1"])
        .join(F.broadcast(n1_bwd), ["m2"])
        .crossJoin(F.broadcast(n_types))
        .select("doc_id", fround(F.log(p_kn), LM_ROUND).alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            fround(dsum("lp", LM_ROUND) / F.count("*"), 6).alias(
                "avg_kn_logprob"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------- Zipf rank-frequency fit

# Heap/Zipf diagnostics are a standard corpus-health probe: natural
# text shows log(freq) ~ -s * log(rank) with s near 1; synthetic or
# template-heavy corpora bend the curve.  OLS in log-log space has a
# closed form over five sums, so the whole fit is one bounded
# aggregation -- no iterative solver.
ZIPF_MAX_RANK = 1000


@register(
    "text_zipf_slope",
    rotation_group=6,
    oracle=f"""
    WITH toks AS (
        SELECT {SQL_TOKENS} AS t FROM documents
    ),
    counts AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT UNNEST(t) AS w FROM toks)
        WHERE w <> '' GROUP BY w
    ),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r FROM counts
    ),
    pts AS (
        SELECT (FLOOR((LN(CAST(r AS DOUBLE))) * 1000000000e0 + 0.5)
                / 1000000000e0) AS x,
               (FLOOR((LN(CAST(c AS DOUBLE))) * 1000000000e0 + 0.5)
                / 1000000000e0) AS y
        FROM ranked WHERE r <= {ZIPF_MAX_RANK}
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum("x", 9)} AS sx,
               {sql_dsum("y", 9)} AS sy,
               {sql_dsum("x * x", 9)} AS sxx,
               {sql_dsum("x * y", 9)} AS sxy
        FROM pts
    )
    SELECT n AS n_terms,
           (FLOOR(((n * sxy - sx * sy) / (n * sxx - sx * sx))
                   * 1000000e0 + 0.5) / 1000000e0) AS zipf_slope,
           (FLOOR(((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)
                   * 1000000e0 + 0.5) / 1000000e0) AS intercept
    FROM s
    """,
    doc=f"Zipf rank-frequency diagnostic: OLS slope of log(freq) on "
        "log(rank) over the top-"
        f"{ZIPF_MAX_RANK} vocabulary (deterministic count-desc, "
        "term-asc ranking).  Natural language sits near slope -1 "
        "(Zipf, 1949); a corpus dominated by templates or synthetic "
        "boilerplate flattens or staircases the curve, so the slope is "
        "a one-number drift alarm for an incoming crawl shard next to "
        "profile_psi_drift's per-bin view.  Cost shape: one token "
        "count (the same aggregation every text operator starts with), "
        "a top-K rank cut that needs no global sort at scale (same "
        "k-smallest pattern as window_topk_per_group), and a 5-sum "
        "closed-form fit over <= K points through the DECIMAL "
        "order-independent accumulator -- the fit itself is O(K) "
        "driver-free arithmetic.",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(_tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # Top-K cut FIRST (TakeOrderedAndProject: per-partition heaps +
    # one K-row merge), so the rank window below runs over <= K rows --
    # ranking the full vocabulary and then filtering would sort every
    # distinct token in a single task.
    top = counts.orderBy(F.col("c").desc(), "w").limit(ZIPF_MAX_RANK)
    w_rank = Window.orderBy(F.col("c").desc(), "w")
    pts = (
        top.select("c", F.row_number().over(w_rank).alias("r"))
        .select(
            fround(F.log(F.col("r").cast("double")), 9).alias("x"),
            fround(F.log(F.col("c").cast("double")), 9).alias("y"),
        )
    )
    s = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("x", 9).alias("sx"),
        dsum("y", 9).alias("sy"),
        dsum(F.col("x") * F.col("x"), 9).alias("sxx"),
        dsum(F.col("x") * F.col("y"), 9).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_terms"),
        fround(slope, 6).alias("zipf_slope"),
        fround((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


# ------------------------------------------------ Heaps' law fit

# Vocabulary-growth diagnostic: V(N) ~ k * N^beta (Heaps, 1978; beta
# ~0.4-0.6 for natural text).  The naive formulation -- distinct count
# over every growing prefix -- is quadratic; the distributed form
# marks each token's FIRST occurrence (one window over the token
# stream), after which vocabulary growth is a running sum of per-doc
# first-occurrence counts over the docs-sized relation.
HEAPS_ROUND = 9


@register(
    "text_heaps_law",
    rotation_group=6,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKENS} AS t FROM documents
    ),
    stream AS (
        SELECT doc_id, i AS pos, t[i] AS w
        FROM toks, UNNEST(range(1, len(t) + 1)) AS r(i)
        WHERE t[i] <> ''
    ),
    firsts AS (
        SELECT doc_id, pos, w,
               ROW_NUMBER() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
        FROM stream
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(COUNT(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_new
        FROM firsts GROUP BY doc_id
    ),
    cum AS (
        SELECT doc_id,
               CAST(SUM(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tok,
               CAST(SUM(n_new) OVER (ORDER BY doc_id) AS BIGINT) AS cum_voc
        FROM per_doc
    ),
    pts AS (
        SELECT {sql_fround('LN(CAST(cum_tok AS DOUBLE))', HEAPS_ROUND)} AS x,
               {sql_fround('LN(CAST(cum_voc AS DOUBLE))', HEAPS_ROUND)} AS y
        FROM cum
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum("x", HEAPS_ROUND)} AS sx,
               {sql_dsum("y", HEAPS_ROUND)} AS sy,
               {sql_dsum("x * x", HEAPS_ROUND)} AS sxx,
               {sql_dsum("x * y", HEAPS_ROUND)} AS sxy
        FROM pts
    )
    SELECT n AS n_checkpoints,
           (FLOOR(((n * sxy - sx * sy) / (n * sxx - sx * sx))
                   * 1000000e0 + 0.5) / 1000000e0) AS heaps_beta,
           (FLOOR(((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)
                   * 1000000e0 + 0.5) / 1000000e0) AS log_k
    FROM s
    """,
    doc="Heaps'-law vocabulary-growth fit: V(N) ~ k*N^beta estimated "
        "by OLS in log-log space over per-document checkpoints of "
        "(cumulative tokens, cumulative vocabulary).  Natural corpora "
        "sit at beta ~0.4-0.6; a pile of templated or duplicated text "
        "saturates early (beta -> 0) and machine-generated noise "
        "inflates it -- the growth-curve complement to text_zipf_slope's "
        "static snapshot.  The distributed trick: 'distinct words in "
        "every prefix' is NOT computed per prefix (quadratic) -- each "
        "token's first occurrence is marked once by a row_number window "
        "partitioned by word (one O(tokens) shuffle, the same cost "
        "class as the span detector's hash agg), and vocabulary growth "
        "becomes a running sum of per-doc first-occurrence counts over "
        "the DOCS-sized relation -- served by the two-pass range-"
        "partitioned prefix sum (functions/ordering.py), never a "
        "single-task cumulative window; the OLS fold is the same "
        "closed-form 5-sum as the Zipf fit.  Checkpoint order is "
        "doc_id -- deterministic in both engines.",
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    stream = (
        d.select("doc_id", F.posexplode(_tokens()).alias("pos", "w"))
        .filter(F.col("w") != "")
    )
    w_first = Window.partitionBy("w").orderBy("doc_id", "pos")
    per_doc = (
        stream.select(
            "doc_id", (F.row_number().over(w_first) == 1).alias("is_first")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.count(F.when(F.col("is_first"), 1)).cast("bigint").alias("n_new"),
        )
    )
    # Inclusive prefix sums over the DOCS-sized checkpoint relation:
    # two-pass bucketed running sums (functions/ordering.py)
    # instead of an unpartitioned window, which would drag every
    # checkpoint row into one task.  BIGINT addition is associative,
    # so the split is bit-identical to the single-task form.
    from ..functions.ordering import global_running_sums

    # r14: persist the docs-sized checkpoint relation -- the two-pass
    # running sums evaluate it ~3x (boundary sample, offsets, final), and
    # each uncached walk re-ran the token explode + first-occurrence
    # window upstream.
    per_doc = scoped_persist(per_doc)
    cums = global_running_sums(
        per_doc,
        ["doc_id"],
        {"cum_tok": F.col("n_tok"), "cum_new": F.col("n_new")},
    )
    pts = cums.select(
        fround(
            F.log(F.col("cum_tok").cast("double")), HEAPS_ROUND
        ).alias("x"),
        fround(
            F.log(F.col("cum_new").cast("double")), HEAPS_ROUND
        ).alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("x", HEAPS_ROUND).alias("sx"),
        dsum("y", HEAPS_ROUND).alias("sy"),
        dsum(F.col("x") * F.col("x"), HEAPS_ROUND).alias("sxx"),
        dsum(F.col("x") * F.col("y"), HEAPS_ROUND).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_checkpoints"),
        fround(slope, 6).alias("heaps_beta"),
        fround((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "log_k"
        ),
    )


# ------------------------------------------------ Okapi BM25 ranking

# The retrieval scorer TF-IDF graduates into (Robertson et al., TREC-3;
# the Lucene/Elasticsearch default): tf saturation via k1 and length
# normalization via b, so a term-stuffed or merely-long document cannot
# dominate the ranking the way raw tf*idf lets it.  A corpus-curation
# team runs exactly this query to pull the top-k documents for a probe
# term set (contamination spot-checks, topic audits) without standing
# up a search cluster.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("hash", "join", "vector")   # probe terms (df-diverse)
BM25_TOP = 25

_SQL_BM25_TERMS = ", ".join(f"'{t}'" for t in BM25_QUERY)
# Lucene's non-negative idf form, fround-ed once at 9 dp (libm LN).
_SQL_BM25_IDF = sql_fround(
    "LN(1e0 + (n.n - df.df + 0.5) / (df.df + 0.5))", 9
)


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({SQL_TOKENS}) AS w FROM documents
    ),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1
    ),
    n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) AS BIGINT) AS tot
        FROM dl
    ),
    qt AS (
        SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE w IN ({_SQL_BM25_TERMS}) GROUP BY 1, 2
    ),
    df AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM qt GROUP BY 1
    ),
    terms AS (
        SELECT qt.doc_id,
               {sql_fround(
                   f"{_SQL_BM25_IDF}"
                   f" * (qt.tf * (1e0 + {BM25_K1}))"
                   f" / (qt.tf + {BM25_K1} * (1e0 - {BM25_B}"
                   f"     + {BM25_B} * dl.dl"
                   f"       / (CAST(n.tot AS DOUBLE) / n.n)))", 9)} AS raw
        FROM qt
        JOIN df USING (w)
        JOIN dl USING (doc_id)
        CROSS JOIN n
    ),
    scored AS (
        SELECT doc_id,
               CAST(SUM(CAST(raw AS DECIMAL(38,9))) AS DOUBLE) AS score,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit
        FROM terms GROUP BY doc_id
    ),
    top AS (
        SELECT doc_id, score, n_terms_hit
        FROM scored ORDER BY score DESC, doc_id LIMIT {BM25_TOP}
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                AS BIGINT) AS rank,
           doc_id, n_terms_hit,
           {sql_fround('score', 6)} AS score
    FROM top ORDER BY rank
    """,
    doc=f"Okapi BM25 top-{BM25_TOP} retrieval for a fixed probe term "
        f"set (k1={BM25_K1}, b={BM25_B}, Lucene's non-negative idf): "
        "tf saturation + document-length normalization, the ranking "
        "TF-IDF graduates into and the spot-check query a curation "
        "team runs against a corpus without standing up a search "
        "cluster.  Determinism discipline: idf and each per-(doc, "
        "term) partial are fround-ed at 9 dp, the per-doc sum is an "
        "order-independent DECIMAL(38,9) accumulation, ranking "
        "tie-breaks on doc_id, and the emission rounds once at 6 dp. "
        "Scale shape: the token stream collapses to doc lengths in "
        "the one keyed agg every text operator pays; the QUERY-term "
        "postings are filtered BEFORE any aggregation (a |Q|-term "
        "probe touches a vanishing fraction of postings), df is a "
        "window over that tiny postings relation (the oracle keeps "
        "the naive re-aggregation -- same value, independent "
        "formulation), corpus stats broadcast, and the global top-k "
        "plans as TakeOrderedAndProject -- per-partition heaps + one "
        "k-row merge, never a global sort.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("w"))
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    n = dl.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("tot"),
    )
    qt = (
        toks.filter(F.col("w").isin(*BM25_QUERY))
        .groupBy("doc_id", "w")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    # df as a window over the postings relation itself: qt has one row
    # per (doc, term), so COUNT per term IS the document frequency --
    # one more exchange of the TINY probe-term postings instead of a
    # second full scan+explode of the corpus (the join-back df
    # formulation re-read the token stream; plan went 4 scans -> 3).
    qt = qt.withColumn(
        "df",
        F.count("*").over(Window.partitionBy("w")).cast("bigint"),
    )
    idf = fround(
        F.log(
            F.lit(1.0)
            + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ),
        9,
    )
    avgdl = F.col("tot").cast("double") / F.col("n")
    raw = fround(
        idf
        * (F.col("tf") * F.lit(1.0 + BM25_K1))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl)
        ),
        9,
    )
    terms = (
        qt.join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .select("doc_id", raw.alias("raw"))
    )
    scored = terms.groupBy("doc_id").agg(
        F.sum(F.col("raw").cast("decimal(38,9)")).cast("double").alias("score"),
        F.count("*").cast("bigint").alias("n_terms_hit"),
    )
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(BM25_TOP)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "doc_id",
        "n_terms_hit",
        fround("score", 6).alias("score"),
    ).orderBy("rank")
