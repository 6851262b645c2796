"""Deterministic corpus sampling and train/val/test split assignment.

Not in the reference's surface (its only sampling is the week-boundary
snapshot sampler, see ``read_snapshot_week_sampled``); these are the
subsetting operators a training-data pipeline needs: reproducible
hash-based sampling (same doc always lands in the same split, on any
cluster size, in any run) instead of ``df.sample``'s RNG, which is
partition-layout-dependent and non-reproducible across repartitions.

The uniform variate is md5-derived (engine-portable, oracle-checked
bit-exact): u = int(md5(salt || doc_id)[:8 hex]) / 2^32 in [0, 1).
Zero shuffle for the split assignment -- a pure projection that
pipelines into the scan; the stratified counts shuffle only on the
tiny ``lang`` key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import fround, sql_fround
from ..plans.registry import register
from ..sources.catalog import load_table
from .text_analysis import SQL_TOKENS, _tokens

_TWO_32 = 4294967296.0

# Per-language keep rates for the stratified sampler (downsample the
# over-represented stratum harder -- the usual corpus-balancing move).
STRATA_RATES = {"en": 0.25, "es": 0.5, "de": 0.75, "fr": 1.0}


def _u(salt: str, key: Column | None = None) -> Column:
    """Deterministic uniform [0,1) from md5(salt || key); key defaults
    to the doc_id column."""
    key = F.col("doc_id") if key is None else key
    h = F.md5(F.concat(F.lit(salt), key.cast("string")).cast("binary"))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(_TWO_32)


def _sql_u(salt: str, key: str = "doc_id") -> str:
    return (
        f"CAST(CAST('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 8)"
        f" AS BIGINT) AS DOUBLE) / {_TWO_32}"
    )


# The 80/10/10 split contract, defined ONCE: every consumer (the split
# assignment itself, the split-leakage audit, any future split-aware
# operator) renders from these -- divergent copies of the thresholds
# would silently audit a different split than the one materialized.
SPLIT_SALT = "split:"
SPLIT_BOUNDS = (0.8, 0.9)  # < .8 train, < .9 val, else test


def split_col(u: Column | None = None) -> Column:
    u = _u(SPLIT_SALT) if u is None else u
    return (
        F.when(u < SPLIT_BOUNDS[0], "train")
        .when(u < SPLIT_BOUNDS[1], "val")
        .otherwise("test")
    )


def sql_split_case(key: str = "doc_id") -> str:
    u = _sql_u(SPLIT_SALT, key)
    return (
        f"CASE WHEN {u} < {SPLIT_BOUNDS[0]} THEN 'train' "
        f"WHEN {u} < {SPLIT_BOUNDS[1]} THEN 'val' ELSE 'test' END"
    )


@register(
    "sample_hash_splits",
    oracle=f"""
    SELECT doc_id,
           {_sql_u(SPLIT_SALT)} AS u,
           {sql_split_case()} AS split,
           {_sql_u(SPLIT_SALT)} < 0.1 AS kept_10pct
    FROM documents
    ORDER BY doc_id
    """,
    doc="Reproducible train/val/test split (80/10/10) + a 10% subsample "
        "flag, assigned by salted md5 of the document key -- stable "
        "across runs, cluster sizes, and repartitions (unlike "
        "df.sample's partition-dependent RNG).  Pure projection, zero "
        "shuffle; new salt = fresh independent split.",
)
def sample_hash_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u = _u(SPLIT_SALT)
    return (
        d.select(
            "doc_id",
            u.alias("u"),
            split_col(u).alias("split"),
            (u < 0.1).alias("kept_10pct"),
        )
        .orderBy("doc_id")
    )


def _sql_rate_case() -> str:
    whens = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in STRATA_RATES.items()
    )
    return f"CASE {whens} ELSE 1.0 END"


@register(
    "sample_stratified_counts",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE {_sql_u('strat:')} < {_sql_rate_case()})
             AS n_kept
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Stratified deterministic sampling (sampleBy semantics without "
        "the RNG): per-language keep rates applied via the salted-hash "
        "uniform, reported as per-stratum total/kept counts.  The "
        "filter is a map-side projection; the only shuffle is the "
        "4-key lang aggregation (partial aggs make it negligible).",
)
def sample_stratified_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u = _u("strat:")
    # CASE in declaration order, mirroring the oracle SQL exactly.
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in STRATA_RATES.items()
        ],
        F.lit(1.0),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(u < rate, 1)).alias("n_kept"),
        )
        .orderBy("lang")
    )


PACK_TOKENS = 512   # context-window token budget per pack
PACK_SHARDS = 16    # independent packing streams (the parallelism unit)


@register(
    "sample_pack_sequences",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
               CAST(CAST('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                    1, 8) AS BIGINT) % {PACK_SHARDS} AS INT) AS shard
        FROM documents
    ),
    runs AS (
        SELECT doc_id, n_tokens, shard,
               SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
        FROM base
    )
    SELECT doc_id, n_tokens, shard,
           shard * 1000000 + CAST(start_offset // {PACK_TOKENS} AS BIGINT)
             AS pack_id,
           CAST(start_offset - (start_offset // {PACK_TOKENS}) * {PACK_TOKENS}
                AS BIGINT) AS offset_in_pack
    FROM runs
    ORDER BY doc_id
    """,
    doc="Sequence packing for training: documents are assigned to fixed "
        "token-budget packs by a running token total within each of "
        f"{PACK_SHARDS} hash shards (streaming bin assignment -- "
        "documents may straddle a boundary, the standard concat-and-"
        "chunk packing, not best-fit).  The shard is the parallelism "
        "unit: each shard's cumsum is an independent window, so packing "
        "100 TB never needs a global sort -- shuffle is one exchange on "
        "the shard key; more shards = more parallelism, same semantics.",
)
def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens())
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("pack:"), F.col("doc_id").cast("string")).cast(
                        "binary"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % PACK_SHARDS
    ).cast("int")
    base = d.select("doc_id", n_tokens.alias("n_tokens"), shard.alias("shard"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = base.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    bin_idx = F.floor(F.col("start_offset") / PACK_TOKENS)
    return (
        runs.select(
            "doc_id",
            "n_tokens",
            "shard",
            (F.col("shard") * 1000000 + bin_idx).cast("bigint").alias("pack_id"),
            (F.col("start_offset") - bin_idx * PACK_TOKENS).alias("offset_in_pack"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ temperature mixture

MIX_ALPHA = 0.5       # temperature exponent (alpha < 1 flattens the mix)
MIX_BUDGET = 100_000  # documents drawn per training epoch


@register(
    "sample_temperature_mixture",
    oracle=f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    weighted AS (
        -- pow carries a 1-ulp cross-engine license (JVM Math.pow vs
        -- libm); round the weight once at 9 dp before any ratio so a
        -- flipped ulp cannot reach the 6-dp emission grid.
        SELECT source, n_docs,
               {sql_fround(f'POWER(n_docs, {MIX_ALPHA})', 9)} AS w
        FROM counts
    )
    SELECT source, n_docs,
           {sql_fround('w / SUM(w) OVER ()', 6)} AS sample_prob,
           {sql_fround(f'w / SUM(w) OVER () * {MIX_BUDGET}', 3)} AS expected_draws,
           {sql_fround(f'w / SUM(w) OVER () * {MIX_BUDGET} / n_docs', 6)} AS epochs_over_domain
    FROM weighted
    ORDER BY source
    """,
    doc="Temperature-weighted domain mixture (the multilingual/domain "
        f"rebalancing rule p_i ~ n_i^{MIX_ALPHA}): per-source sampling "
        "probability, expected draws at a fixed per-epoch budget, and "
        "the implied pass count over each domain (epochs > 1 = "
        "upsampling).  Scale: the window runs over the already-"
        "aggregated per-domain relation (tens of rows at any corpus "
        "size), so the single-partition SUM() OVER () is free; the only "
        "real exchange is the domain count, which map-side combines.  "
        "Probabilities round to 6dp on both engines so libm pow ulp "
        "differences cannot flip the hash.",
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = fround(F.pow(F.col("n_docs"), F.lit(MIX_ALPHA)), 9)
    total = F.sum(w).over(Window.partitionBy())
    prob = w / total
    return (
        counts.select(
            "source",
            "n_docs",
            fround(prob, 6).alias("sample_prob"),
            fround(prob * MIX_BUDGET, 3).alias("expected_draws"),
            fround(prob * MIX_BUDGET / F.col("n_docs"), 6).alias(
                "epochs_over_domain"
            ),
        )
        .orderBy("source")
    )


# ------------------------------------------------ deterministic order

ORDER_SHARDS = 8


@register(
    "sample_shard_order",
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5('order:' || CAST(doc_id AS VARCHAR)),
                    1, 8) AS BIGINT) AS h
        FROM documents
    )
    SELECT doc_id,
           CAST(h % {ORDER_SHARDS} AS INT) AS shard,
           ROW_NUMBER() OVER (PARTITION BY h % {ORDER_SHARDS}
                              ORDER BY h, doc_id) AS pos_in_shard,
           (ROW_NUMBER() OVER (PARTITION BY h % {ORDER_SHARDS}
                               ORDER BY h, doc_id) - 1) * {ORDER_SHARDS}
             + h % {ORDER_SHARDS} AS global_pos
    FROM hashed
    ORDER BY doc_id
    """,
    doc="Deterministic global training-order shuffle without a global "
        "sort: salted-hash shard assignment + per-shard rank by hash "
        "value, interleaved round-robin into a collision-free global "
        "position (pos * NSHARDS + shard).  Scale: the only exchange is "
        "the shard partition; each shard sorts locally, and readers "
        "consume shards round-robin to reproduce the exact global order "
        "-- the 100 TB shape of 'shuffle the corpus', where an "
        "ORDER BY rand() global sort would be the naive scale-killer.",
)
def sample_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit("order:"), F.col("doc_id").cast("string")).cast(
                    "binary"
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    hashed = d.select("doc_id", h.alias("h"))
    shard = (F.col("h") % ORDER_SHARDS).cast("int")
    w = Window.partitionBy(F.col("h") % ORDER_SHARDS).orderBy("h", "doc_id")
    pos = F.row_number().over(w)
    return (
        hashed.select(
            "doc_id",
            shard.alias("shard"),
            pos.alias("pos_in_shard"),
            ((pos - 1).cast("bigint") * ORDER_SHARDS + F.col("h") % ORDER_SHARDS).alias(
                "global_pos"
            ),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------- document chunking

CHUNK_TOKENS = 64   # context-window size per chunk
CHUNK_STRIDE = 48   # stride between chunk starts (64-48 = 16-token overlap)


@register(
    "sample_chunk_documents",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, len({SQL_TOKENS}) AS n_tokens FROM documents
    )
    SELECT doc_id,
           CAST(gs AS INT) AS chunk_idx,
           CAST(gs * {CHUNK_STRIDE} AS BIGINT) AS start_token,
           CAST(LEAST(n_tokens - gs * {CHUNK_STRIDE}, {CHUNK_TOKENS}) AS BIGINT)
             AS chunk_len
    FROM base,
         UNNEST(generate_series(0,
             GREATEST(CAST(CEIL((n_tokens - {CHUNK_TOKENS})
                 / CAST({CHUNK_STRIDE} AS DOUBLE)) AS BIGINT), 0))) AS t(gs)
    ORDER BY doc_id, chunk_idx
    """,
    doc="Context-window chunking with overlap (the training/RAG "
        f"splitter): each document yields ceil((n-{CHUNK_TOKENS})/"
        f"{CHUNK_STRIDE})+1 chunks of up to {CHUNK_TOKENS} tokens, "
        f"starts {CHUNK_STRIDE} apart ({CHUNK_TOKENS - CHUNK_STRIDE}-"
        "token overlap), last chunk truncated.  Pure per-document "
        "explode of a generated index sequence -- zero shuffle, "
        "pipelines into the scan; output size is input tokens x "
        f"{CHUNK_TOKENS / CHUNK_STRIDE:.2f} regardless of cluster "
        "shape.",
)
def sample_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens())
    n_chunks_minus1 = F.greatest(
        F.ceil((n_tokens - CHUNK_TOKENS) / F.lit(float(CHUNK_STRIDE))).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    base = d.select("doc_id", n_tokens.alias("n_tokens"),
                    F.sequence(F.lit(0).cast("bigint"), n_chunks_minus1).alias("idxs"))
    return (
        base.select("doc_id", "n_tokens", F.explode("idxs").alias("gs"))
        .select(
            "doc_id",
            F.col("gs").cast("int").alias("chunk_idx"),
            (F.col("gs") * CHUNK_STRIDE).cast("bigint").alias("start_token"),
            F.least(
                F.col("n_tokens") - F.col("gs") * CHUNK_STRIDE,
                F.lit(CHUNK_TOKENS).cast("bigint"),
            ).cast("bigint").alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ------------------------------------- DSIR importance-weighted selection

DSIR_BUCKETS = 64     # hashed-unigram feature space (bag-of-hashed-ngrams)
DSIR_TARGET_LANG = "en"  # the "high-quality target corpus" proxy

# Shared engine-portable token -> feature bucket: md5 prefix mod B.
_SQL_BUCKET = f"CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) % {DSIR_BUCKETS}"


def _tok_bucket(tok: Column) -> Column:
    return (
        F.conv(F.substring(F.md5(tok.cast("binary")), 1, 4), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    )


@register(
    "sample_dsir_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, UNNEST({SQL_TOKENS}) AS tok FROM documents
    ),
    feat AS (
        SELECT doc_id, lang, {_SQL_BUCKET} AS bucket FROM toks
    ),
    stats AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS cr,
               CAST(COUNT(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}')
                    AS BIGINT) AS ct
        FROM feat GROUP BY 1
    ),
    tots AS (
        SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
        FROM stats
    ),
    ratio AS (
        SELECT s.bucket,
               {sql_fround(f'''LN(CAST(s.ct + 1 AS DOUBLE)
                          / (tots.tt + {DSIR_BUCKETS}))
                     - LN(CAST(s.cr + 1 AS DOUBLE)
                          / (tots.tr + {DSIR_BUCKETS}))''', 9)} AS lr
        FROM stats s CROSS JOIN tots
    ),
    perdoc AS (
        SELECT f.doc_id,
               COUNT(*) AS n_tokens,
               {sql_fround('CAST(SUM(CAST(ratio.lr AS DECIMAL(38,9))) AS DOUBLE)', 6)}
                 AS log_weight
        FROM feat f JOIN ratio ON f.bucket = ratio.bucket
        GROUP BY f.doc_id
    )
    SELECT doc_id, n_tokens, log_weight, log_weight >= 0.0 AS keep
    FROM perdoc
    ORDER BY doc_id
    """,
    doc="DSIR-style importance weighting (Xie et al. 2023, 'Data "
        "Selection for Language Models via Importance Resampling'): "
        f"hashed-unigram bag-of-words models ({DSIR_BUCKETS} buckets, "
        "Laplace-smoothed) for the target corpus (here the "
        f"lang='{DSIR_TARGET_LANG}' subset) and the raw pool; each "
        "document scores sum_t log(p_target(h(t)) / p_raw(h(t))), "
        "positive = looks like the target.  Per-bucket log-ratios are "
        "rounded to 9 dp and accumulated in decimal so the per-doc sum "
        "is partition-order independent.  At 100 TB the two bucket "
        f"tables are {DSIR_BUCKETS} rows -- computed in one pass over "
        "the token stream (map-side partial aggs) and broadcast back; "
        "the scoring pass is then shuffle-free per document.",
)
def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id", "lang", F.explode(_tokens()).alias("tok")
    ).select("doc_id", "lang", _tok_bucket(F.col("tok")).alias("bucket"))

    # ONE aggregation pass over the token stream yields both the raw and
    # the target bucket counts (conditional count); the totals are then
    # a 64-row re-agg, not another corpus scan.
    stats = feat.groupBy("bucket").agg(
        F.count("*").alias("cr"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)).alias("ct"),
    )
    tots = stats.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    ratio = (
        stats.crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            fround(
                F.log(
                    (F.col("ct") + 1).cast("double") / (F.col("tt") + DSIR_BUCKETS)
                )
                - F.log(
                    (F.col("cr") + 1).cast("double") / (F.col("tr") + DSIR_BUCKETS)
                ),
                9,
            ).alias("lr"),
        )
    )
    perdoc = (
        feat.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            fround(
                F.sum(F.col("lr").cast("decimal(38,9)")).cast("double"), 6
            ).alias("log_weight"),
        )
    )
    return perdoc.select(
        "doc_id",
        "n_tokens",
        "log_weight",
        (F.col("log_weight") >= 0.0).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------- per-stratum quotas

QUOTA_K = 20  # docs kept per stratum


@register(
    "sample_stratified_quota",
    rotation_group=2,
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY {_sql_u('quota:')}, doc_id) AS rank
        FROM documents
    )
    SELECT doc_id, lang, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {QUOTA_K}
    ORDER BY lang, rank
    """,
    doc=f"Exact per-stratum quota sampling: the {QUOTA_K} documents with "
        "the smallest salted-md5 uniform per language -- fixed eval/val "
        "set sizes per stratum (the companion to sample_hash_splits' "
        "rate-based splits, for when the contract is 'exactly K per "
        "language', e.g. per-language eval suites).  Deterministic and "
        "repartition-stable: membership depends only on (salt, doc_id), "
        "and adding documents can only displace the current tail, never "
        "reshuffle the whole sample.  One shuffle on the stratum key; "
        "per-stratum ranking is window row_number, and at scale the "
        "k-smallest-per-group cut avoids any global sort (same shape as "
        "window_topk_per_group).",
)
def sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_u("quota:"), "doc_id")
    return (
        d.select("doc_id", "lang")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= QUOTA_K)
        .orderBy("lang", "rank")
    )


# ------------------------------------------- cluster-aware splitting


def _cluster_split_oracle() -> str:
    from .dedup import _SQL_LSH_VERIFIED, CC_JACCARD_MIN

    cc = _SQL_LSH_VERIFIED.replace("WITH ds", "WITH RECURSIVE ds", 1)
    return cc + f"""
    , pairs AS (
        SELECT doc_a, doc_b FROM verified WHERE est_jaccard >= {CC_JACCARD_MIN}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach AS (
        SELECT node, node AS label FROM nodes
        UNION
        SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(label) AS component
        FROM reach GROUP BY node
    ),
    keyed AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS keeper
        FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, keeper, {sql_split_case('keeper')} AS split
    FROM keyed
    ORDER BY doc_id
    """


@register(
    "sample_split_by_cluster",
    rotation_group=2,
    oracle=_cluster_split_oracle(),
    doc="Cluster-aware train/val/test split: the split hash is taken "
        "over the document's near-dup CLUSTER keeper (connected "
        "component representative; singleton docs are their own "
        "keeper), so near-duplicates can never straddle splits -- the "
        "canonical fix for the contamination pipeline_split_leakage "
        "detects when splitting per document.  Adds one left join of "
        "the (tiny) component labels to the per-doc split projection; "
        "tests assert ZERO leakage pairs remain over the same pair "
        "graph.",
)
def sample_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import CC_JACCARD_MIN, connected_components_labels, dedup_minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("est_jaccard") >= CC_JACCARD_MIN)
        .select("doc_a", "doc_b")
    )
    labels, _ = connected_components_labels(pairs)
    comp = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
    keyed = d.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("keeper")
    )
    return keyed.select(
        "doc_id",
        "keeper",
        split_col(_u(SPLIT_SALT, F.col("keeper"))).alias("split"),
    ).orderBy("doc_id")


# --------------------------------- epoch-capped mixture (water-filling)

# Data-mixing with a repetition cap: quality-weighted sources get more
# draws, but NO source may repeat more than MIXC_MAX_EPOCHS times (the
# over-epoching guard every real mixture applies after DoReMi-style
# reweighting).  Capping one source frees budget that must flow to the
# others -- the exact solution is water-filling: find the level L such
# that sum_i min(cap_i, L * w_i) = B.  Sorted by cap_i/w_i, the capped
# set is a prefix, so L falls out of prefix sums CLOSED-FORM -- and
# because weights and caps are integers here, every feasibility test is
# an integer cross-multiplication: the capped-set selection is EXACT in
# both engines, no float threshold anywhere.
MIXC_MAX_EPOCHS = 7   # hard per-source repetition cap
MIXC_BUDGET_EPOCHS = 6  # total draw budget = 6 x corpus size


_SQL_MIXC = f"""
    WITH {{gopher_keep}},
    counts AS (
        SELECT d.source,
               COUNT(*) AS n_docs,
               CAST(COUNT(*) FILTER (g.keep) + 1 AS BIGINT) AS q
        FROM documents d JOIN gopher_keep g ON d.doc_id = g.doc_id
        GROUP BY d.source
    ),
    rows_t AS (
        SELECT source, n_docs, q * q AS w,
               CAST({MIXC_MAX_EPOCHS} AS BIGINT) * n_docs AS cap
        FROM counts
    ),
    tot AS (
        SELECT SUM(w) AS tw, SUM(cap) AS tcap,
               CAST({MIXC_BUDGET_EPOCHS} AS BIGINT) * SUM(n_docs) AS b,
               COUNT(*) AS n_src
        FROM rows_t
    ),
    sorted_t AS (
        SELECT r.*,
               ROW_NUMBER() OVER (ORDER BY CAST(cap AS DOUBLE) / w, source)
                 AS rn,
               COALESCE(SUM(cap) OVER (ORDER BY CAST(cap AS DOUBLE) / w,
                        source ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                        PRECEDING), 0) AS pc_prev,
               COALESCE(SUM(w) OVER (ORDER BY CAST(cap AS DOUBLE) / w,
                        source ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                        PRECEDING), 0) AS pw_prev
        FROM rows_t r
    ),
    cand AS (
        SELECT s.rn - 1 AS j, t.b - s.pc_prev AS num, t.tw - s.pw_prev AS den,
               s.w AS w_here, s.cap AS cap_here,
               LAG(s.w) OVER (ORDER BY s.rn) AS w_prev,
               LAG(s.cap) OVER (ORDER BY s.rn) AS cap_prev
        FROM sorted_t s CROSS JOIN tot t
    ),
    valid AS (
        SELECT j, num, den FROM cand
        WHERE num * w_here <= cap_here * den
          AND (j = 0 OR num * w_prev >= cap_prev * den)
        UNION ALL
        SELECT t.n_src AS j, t.b - t.tcap AS num, CAST(0 AS BIGINT) AS den
        FROM tot t WHERE t.b >= t.tcap
    ),
    chosen AS (SELECT j, num, den FROM valid ORDER BY j LIMIT 1)
    SELECT s.source, s.n_docs, s.w AS weight,
           s.rn <= c.j AS capped,
           CASE WHEN s.rn <= c.j THEN CAST(s.cap AS DOUBLE)
                ELSE {sql_fround('CAST(c.num AS DOUBLE) * s.w / c.den', 6)}
           END AS draws,
           CASE WHEN s.rn <= c.j THEN CAST({MIXC_MAX_EPOCHS} AS DOUBLE)
                ELSE {sql_fround('CAST(c.num AS DOUBLE) * s.w / c.den / s.n_docs', 6)}
           END AS epochs
    FROM sorted_t s CROSS JOIN chosen c
    ORDER BY s.source
"""


@register(
    "sample_epoch_capped_mixture",
    rotation_group=3,
    oracle=None,  # assigned right below (needs the gopher CTE import)
    doc=f"Epoch-capped quality mixture via exact water-filling: "
        f"per-source draw budgets proportional to (gopher keeps + 1)^2, "
        f"subject to a hard {MIXC_MAX_EPOCHS}-epoch repetition cap, "
        f"with the budget freed by capped sources redistributed "
        "EXACTLY (find L with sum_i min(cap_i, L*w_i) = B; the capped "
        "set is a prefix of the cap/weight order, so L is closed-form "
        "from prefix sums).  Weights and caps are integers, so every "
        "feasibility test is an integer cross-multiplication -- the "
        "capped-set selection is bit-exact in both engines, and the "
        "only floats are the final rounded draw counts.  Scale: runs "
        "entirely on the per-source relation (tens of rows at any "
        "corpus size) after one keyed counting exchange.",
)
def sample_epoch_capped_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_analysis import gopher_keep_column, gopher_metric_columns

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("source", *gopher_metric_columns())
        .withColumn("keep", gopher_keep_column())
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            (F.count(F.when(F.col("keep"), 1)) + 1).alias("q"),
        )
    )
    rows = counts.select(
        "source",
        "n_docs",
        (F.col("q") * F.col("q")).cast("bigint").alias("w"),
        (F.lit(MIXC_MAX_EPOCHS).cast("bigint") * F.col("n_docs")).alias("cap"),
    )
    tot = rows.agg(
        F.sum("w").alias("tw"),
        F.sum("cap").alias("tcap"),
        (F.lit(MIXC_BUDGET_EPOCHS).cast("bigint") * F.sum("n_docs")).alias("b"),
        F.count("*").alias("n_src"),
    )
    by_ratio = Window.orderBy(
        (F.col("cap").cast("double") / F.col("w")).asc(), F.col("source")
    )
    prev = by_ratio.rowsBetween(Window.unboundedPreceding, -1)
    sorted_t = rows.select(
        "*",
        F.row_number().over(by_ratio).alias("rn"),
        F.coalesce(F.sum("cap").over(prev), F.lit(0)).alias("pc_prev"),
        F.coalesce(F.sum("w").over(prev), F.lit(0)).alias("pw_prev"),
    )
    by_rn = Window.orderBy("rn")
    cand = (
        sorted_t.crossJoin(F.broadcast(tot))
        .select(
            (F.col("rn") - 1).alias("j"),
            (F.col("b") - F.col("pc_prev")).alias("num"),
            (F.col("tw") - F.col("pw_prev")).alias("den"),
            F.col("w").alias("w_here"),
            F.col("cap").alias("cap_here"),
            F.lag("w").over(by_rn).alias("w_prev"),
            F.lag("cap").over(by_rn).alias("cap_prev"),
        )
    )
    valid = cand.filter(
        (F.col("num") * F.col("w_here") <= F.col("cap_here") * F.col("den"))
        & (
            (F.col("j") == 0)
            | (F.col("num") * F.col("w_prev") >= F.col("cap_prev") * F.col("den"))
        )
    ).select("j", "num", "den")
    all_capped = tot.filter(F.col("b") >= F.col("tcap")).select(
        F.col("n_src").alias("j"),
        (F.col("b") - F.col("tcap")).alias("num"),
        F.lit(0).cast("bigint").alias("den"),
    )
    chosen = valid.unionByName(all_capped).orderBy("j").limit(1)
    lam_draw = F.col("num").cast("double") * F.col("w") / F.col("den")
    return (
        sorted_t.crossJoin(F.broadcast(chosen))
        .select(
            "source",
            "n_docs",
            F.col("w").alias("weight"),
            (F.col("rn") <= F.col("j")).alias("capped"),
            F.when(F.col("rn") <= F.col("j"), F.col("cap").cast("double"))
            .otherwise(fround(lam_draw, 6))
            .alias("draws"),
            F.when(
                F.col("rn") <= F.col("j"),
                F.lit(float(MIXC_MAX_EPOCHS)),
            )
            .otherwise(fround(lam_draw / F.col("n_docs"), 6))
            .alias("epochs"),
        )
        .orderBy("source")
    )


# Attach the oracle now that the gopher CTE is importable without a
# circular import at module top.
def _attach_mixc_oracle() -> None:
    from ..plans.registry import REGISTRY
    from .text_analysis import SQL_GOPHER_KEEP

    REGISTRY["sample_epoch_capped_mixture"].oracle = _SQL_MIXC.format(
        gopher_keep=SQL_GOPHER_KEEP
    )


_attach_mixc_oracle()


# ------------------------------- length-curriculum sharding

# Curriculum ordering (short -> long documents) without a global sort:
# the token-length histogram is a BOUNDED relation (doc length is
# capped), so exact shard boundaries come from a cumulative sum over
# that tiny relation and each document's shard is then a broadcast-join
# lookup -- zero corpus shuffle beyond the one histogram count.  Tie
# groups (same length) land wholly in one shard by construction, which
# is the price of never sorting the corpus; shard sizes stay within one
# tie-group of equal.
CURRICULUM_SHARDS = 4


@register(
    "sample_curriculum_shards",
    rotation_group=5,
    oracle=f"""
    WITH lens AS (
        SELECT doc_id, len({SQL_TOKENS}) AS n_tokens FROM documents
    ),
    hist AS (
        SELECT n_tokens AS v, COUNT(*) AS k FROM lens GROUP BY 1
    ),
    cums AS (
        SELECT v, SUM(k) OVER (ORDER BY v) - k AS cum_before,
               SUM(k) OVER () AS total
        FROM hist
    ),
    shards AS (
        SELECT v,
               LEAST({CURRICULUM_SHARDS},
                     1 + CAST(FLOOR(CAST(cum_before AS DOUBLE)
                              * {CURRICULUM_SHARDS} / total) AS INT))
                 AS shard
        FROM cums
    )
    SELECT l.doc_id, CAST(l.n_tokens AS BIGINT) AS n_tokens,
           CAST(s.shard AS INT) AS shard
    FROM lens l JOIN shards s ON l.n_tokens = s.v
    ORDER BY l.doc_id
    """,
    doc=f"Length-curriculum sharding into {CURRICULUM_SHARDS} stages "
        "(train short -> long, the standard curriculum warm-up): shard "
        "boundaries are EXACT cumulative-rank cuts computed on the "
        "bounded token-length histogram, then assigned per document by "
        "a broadcast lookup -- the corpus is never globally sorted and "
        "never shuffled on the score.  Tie groups stay whole, so the "
        "rule is reproducible under any partitioning.  At 100 TB the "
        "histogram of an integer length metric is a few thousand rows "
        "regardless of corpus size -- the same bounded-artifact "
        "pattern as the Z-order quantile boundaries.",
)
def sample_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lens = d.select("doc_id", F.size(_tokens()).alias("n_tokens"))
    hist = lens.groupBy(F.col("n_tokens").alias("v")).agg(
        F.count("*").alias("k")
    )
    w = Window.orderBy("v")
    cums = hist.select(
        "v",
        (F.sum("k").over(w) - F.col("k")).alias("cum_before"),
        F.sum("k").over(Window.partitionBy()).alias("total"),
    )
    shards = cums.select(
        "v",
        F.least(
            F.lit(CURRICULUM_SHARDS),
            1
            + F.floor(
                F.col("cum_before").cast("double")
                * CURRICULUM_SHARDS
                / F.col("total")
            ).cast("int"),
        ).alias("shard"),
    )
    return (
        lens.join(F.broadcast(shards), lens.n_tokens == shards.v)
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("shard").cast("int").alias("shard"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------ token-budget-capped selection

# Mixture recipes are written in TOKENS, not documents ("200B tokens
# of en, 50B of de"); the document-count quota (sample_stratified_quota)
# cannot express that.  Greedy selection in quality order under a hard
# per-language token budget: a doc is kept iff it fits in the budget
# remaining after every better-ranked doc -- deterministic, and
# repartition-stable because rank and cumsum depend only on the data.
TOKEN_BUDGET = 5000  # per language; production scales the constant


@register(
    "sample_token_budget_quota",
    rotation_group=6,
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang, n_chars,
               len({SQL_TOKENS}) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang
                   ORDER BY n_chars DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens,
               ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY n_chars DESC, doc_id) AS rank
        FROM base
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(rank AS BIGINT) AS rank,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked
    WHERE cum_tokens <= {TOKEN_BUDGET}
    ORDER BY lang, rank
    """,
    doc=f"Token-budget-capped selection per language (budget "
        f"{TOKEN_BUDGET} tokens): documents rank by quality (n_chars "
        "DESC, doc_id tie-break -- swap in any scored column) and are "
        "kept while the running token total fits the budget -- the "
        "selection primitive mixture recipes actually need, since "
        "recipes are written in tokens, not document counts "
        "(sample_stratified_quota's K-docs contract cannot express "
        "'200B tokens of en').  One shuffle on the language key; the "
        "rank+cumsum are one window pass per stratum, and the kept set "
        "is prefix-closed by construction (law-tested): adding corpus "
        "can only displace the tail, exactly like the doc-count quota.",
)
def sample_token_budget_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "lang", "n_chars", F.size(_tokens()).alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = base.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("cum_tokens"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    )
    return (
        ranked.filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "lang", "n_tokens", "rank", "cum_tokens")
        .orderBy("lang", "rank")
    )


# --------------------------- length-bucketed batching (padding plan)

# Pad-efficiency planning for training batches: group documents into
# power-of-two token-length buckets, hash-assign each doc to one of the
# bucket's ceil(n/B) batches, and account the padding a pad-to-batch-max
# collator would emit.  Length-bucketing is how production loaders kill
# padding waste (uniform batching pads everything to the global max);
# the hash assignment is the scale-safe form -- an "order by length,
# chop every B docs" plan would need a per-bucket global sort, and the
# repo's no-one-task-sort rule applies.  Batch sizes are binomial
# around B (documented; exactness of the ACCOUNTING is what matters).
BATCH_DOCS = 32
LEN_BUCKETS = (64, 128, 256, 512, 1024, 2048, 1000000)


def _sql_len_bucket(n: str) -> str:
    arms = " ".join(
        f"WHEN {n} <= {cap} THEN {cap}" for cap in LEN_BUCKETS[:-1]
    )
    return f"(CASE {arms} ELSE {LEN_BUCKETS[-1]} END)"


@register(
    "sample_length_bucketed_batches",
    rotation_group=11,
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                 AS n_tokens
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id, n_tokens,
               {_sql_len_bucket('n_tokens')} AS len_bucket
        FROM base
    ),
    counts AS (
        SELECT len_bucket,
               CAST((COUNT(*) + {BATCH_DOCS} - 1) // {BATCH_DOCS} AS BIGINT)
                 AS n_batches
        FROM bucketed GROUP BY 1
    ),
    assigned AS (
        SELECT b.doc_id, b.n_tokens, b.len_bucket,
               CAST('0x' || substr(md5('batch:' ||
                    CAST(b.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                 % c.n_batches AS batch_id
        FROM bucketed b JOIN counts c ON b.len_bucket = c.len_bucket
    )
    SELECT len_bucket,
           CAST(batch_id AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * MAX(n_tokens) AS BIGINT) AS padded_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS DOUBLE)
             / (COUNT(*) * MAX(n_tokens)) AS waste_frac
    FROM assigned
    GROUP BY 1, 2
    ORDER BY len_bucket, batch_id
    """,
    doc=f"Length-bucketed batch plan: docs bucketed by power-of-two "
        f"token length, hash-assigned to one of the bucket's "
        f"ceil(n/{BATCH_DOCS}) batches (salted md5 -- deterministic, "
        "repartition-stable, and NEVER a per-bucket sort: an order-and-"
        "chop plan would one-task-sort each corpus-sized bucket), then "
        "per-batch pad accounting for a pad-to-batch-max collator "
        "(n_docs x max_tokens vs the real token sum).  The waste_frac "
        "column is the number a data engineer tunes bucket edges "
        "against; bucketing bounds it by construction because batch "
        "max and batch min sit in the same power-of-two band.  One "
        "keyed shuffle on (bucket, batch) + a bucket-count broadcast "
        "join; integer accounting, one IEEE divide per batch row.",
)
def sample_length_bucketed_batches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens())
    bucket = F.lit(LEN_BUCKETS[-1])
    for cap in reversed(LEN_BUCKETS[:-1]):
        bucket = F.when(F.col("n_tokens") <= cap, F.lit(cap)).otherwise(
            bucket
        )
    bucketed = d.select(
        "doc_id", n_tokens.alias("n_tokens")
    ).withColumn("len_bucket", bucket)
    counts = bucketed.groupBy("len_bucket").agg(
        F.expr(f"CAST((count(*) + {BATCH_DOCS} - 1) div {BATCH_DOCS}"
               " AS BIGINT)").alias("n_batches")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("batch:"), F.col("doc_id").cast("string")
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    assigned = bucketed.join(F.broadcast(counts), "len_bucket").select(
        "len_bucket",
        "n_tokens",
        (h % F.col("n_batches")).alias("batch_id"),
    )
    padded = F.count("*") * F.max("n_tokens")
    return (
        assigned.groupBy("len_bucket", F.col("batch_id").cast("bigint").alias("batch_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            padded.cast("bigint").alias("padded_tokens"),
            (
                (padded - F.sum("n_tokens")).cast("double") / padded
            ).alias("waste_frac"),
        )
        .orderBy("len_bucket", "batch_id")
    )


# ---------------------------------- exact-quota stratified split

# sample_hash_splits' per-doc hash split is only ~80/10/10 in
# expectation -- fine corpus-wide, but a SMALL stratum (a rare
# language) can land 70/25/5 by luck, and a held-out set that
# under-covers a stratum invalidates per-stratum eval.  This is the
# exact-quota companion: within each lang stratum, docs rank by the
# salted split hash (same SPLIT_SALT, so the randomization is shared)
# and integer-threshold on rank vs stratum size -- train gets exactly
# floor(80% n), val the next floor(90% n) - floor(80% n), test the
# rest.  Pure integer arithmetic end to end: bit-exact across engines
# by construction, reproducible on any cluster layout.
STRAT_TRAIN_PCT = 80
STRAT_VAL_PCT = 90  # cumulative


@register(
    "sample_stratified_exact_split",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {_sql_u(SPLIT_SALT)}, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN rn * 100 <= n * {STRAT_TRAIN_PCT} THEN 'train'
                WHEN rn * 100 <= n * {STRAT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           CAST(rn AS BIGINT) AS stratum_rank,
           CAST(n AS BIGINT) AS stratum_size
    FROM ranked
    ORDER BY doc_id
    """,
    doc=f"Exact-quota stratified train/val/test split: within each "
        f"lang stratum, documents rank by the shared salted-md5 split "
        f"hash (SPLIT_SALT -- the same randomization "
        "sample_hash_splits uses) and the 80/10/10 cut is an integer "
        "threshold on rank vs stratum size, so every stratum lands "
        "EXACTLY floor-quota proportions -- the guarantee the "
        "per-doc hash split only gives in expectation, and the one "
        "that matters for rare-language held-out coverage.  All "
        "integer arithmetic (rank*100 <= n*pct): bit-exact across "
        "engines with no float anywhere.  Scale: one keyed shuffle "
        "(the per-lang rank window); stratum sizes are window counts "
        "in the same lineage; per-stratum sort is bounded by stratum "
        "size and shards further by hash prefix if a stratum is the "
        "whole corpus (the curriculum sharder's pattern).",
)
def sample_stratified_exact_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("lang").orderBy(_u(SPLIT_SALT), "doc_id")
    w_n = Window.partitionBy("lang")
    ranked = d.select(
        "doc_id",
        "lang",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    )
    split = (
        F.when(
            F.col("rn") * 100 <= F.col("n") * STRAT_TRAIN_PCT, "train"
        )
        .when(F.col("rn") * 100 <= F.col("n") * STRAT_VAL_PCT, "val")
        .otherwise("test")
    )
    return ranked.select(
        "doc_id",
        "lang",
        split.alias("split"),
        F.col("rn").cast("bigint").alias("stratum_rank"),
        F.col("n").cast("bigint").alias("stratum_size"),
    ).orderBy("doc_id")
