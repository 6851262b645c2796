"""Text analysis for large-scale training-data pipelines: tokenization,
quality scoring, language ID, fingerprinting.

These extend the reference's surface (its memo decode + client-string
extraction, ``lib/ledgerParser/memos.js``/``fromClient.js``, are the
text ops it has) with the document-pipeline operators a 100 TB corpus
needs.  Everything is native column expressions over ``documents`` --
regex + array lambdas stay inside codegen; no Python in the hot path.

Scale: all ops are embarrassingly parallel per-document projections --
no shuffle at all; they pipeline into the same stage as the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import (
    davg_round,
    dsum,
    fround,
    sql_davg_round,
    sql_dsum,
    sql_fround,
)
from ..plans.registry import register
from ..sources.catalog import load_table

# Whitespace tokenizer shared by all ops (deterministic, engine-portable).
SQL_TOKENS = r"regexp_split_to_array(trim(lower(text)), '\s+')"

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-alnum.
WORDISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"]

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic (documents.lang is the ground-truth label to compare against).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "les", "et", "une", "est"],
}


def _tokens() -> Column:
    return F.split(F.trim(F.lower(F.col("text"))), r"\s+")


def _hit_count(tokens: Column, words: list[str]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def _sql_hits(words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({SQL_TOKENS}, t -> t IN ({lst})))"


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len({SQL_TOKENS}) AS n_tokens,
           len(regexp_extract_all(text, '{WORDISH_RE}')) AS n_wordish_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="Token counting: whitespace tokens + a BPE-ish pre-tokenizer "
        "(letter runs / digit runs / single punctuation) via regex -- the "
        "unit-economics column of every training-data pipeline.",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.length("text").alias("n_chars"),
            F.size(_tokens()).alias("n_tokens"),
            F.size(F.regexp_extract_all("text", F.lit(WORDISH_RE), F.lit(0))).alias(
                "n_wordish_tokens"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len({SQL_TOKENS}) AS n_tokens,
           CAST(length(text) AS DOUBLE) / len({SQL_TOKENS}) AS mean_token_len,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
             / length(text) AS punct_ratio,
           CAST({_sql_hits(STOPWORDS)} AS DOUBLE) / len({SQL_TOKENS})
             AS stopword_ratio
    FROM documents
    ORDER BY doc_id
    """,
    doc="Quality scoring: length, punctuation ratio, stopword ratio, mean "
        "token length -- the standard heuristic pre-filters applied before "
        "expensive dedup/training stages.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n_tokens = F.size(toks)
    return (
        d.select(
            "doc_id",
            F.length("text").alias("n_chars"),
            n_tokens.alias("n_tokens"),
            (F.length("text").cast("double") / n_tokens).alias("mean_token_len"),
            (
                F.size(F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), F.lit(0)))
                .cast("double")
                / F.length("text")
            ).alias("punct_ratio"),
            (_hit_count(toks, STOPWORDS).cast("double") / n_tokens).alias(
                "stopword_ratio"
            ),
        )
        .orderBy("doc_id")
    )


def _sql_lang_case() -> str:
    hits = {lang: _sql_hits(words) for lang, words in LANG_MARKERS.items()}
    top = f"GREATEST({hits['en']}, {hits['es']}, {hits['de']}, {hits['fr']})"
    return f"""
    CASE WHEN {top} = 0 THEN 'und'
         WHEN {hits['en']} = {top} THEN 'en'
         WHEN {hits['es']} = {top} THEN 'es'
         WHEN {hits['de']} = {top} THEN 'de'
         ELSE 'fr' END
    """


@register(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS lang_label,
           {_sql_lang_case()} AS lang_pred
    FROM documents
    ORDER BY doc_id
    """,
    doc="Language ID: marker-lexicon hit counting with deterministic "
        "argmax tie-break (en > es > de > fr), 'und' when no markers -- "
        "the n-gram-heuristic family used for corpus routing; compared "
        "against the documents.lang ground-truth label.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    hits = {lang: _hit_count(toks, words) for lang, words in LANG_MARKERS.items()}
    top = F.greatest(*hits.values())
    pred = (
        F.when(top == 0, "und")
        .when(hits["en"] == top, "en")
        .when(hits["es"] == top, "es")
        .when(hits["de"] == top, "de")
        .otherwise("fr")
    )
    return (
        d.select("doc_id", F.col("lang").alias("lang_label"), pred.alias("lang_pred"))
        .orderBy("doc_id")
    )


# Bigram list over the whitespace tokens, guarded for 1-token docs.
# DuckDB lists are 1-indexed; range(1, n) yields 1..n-1.
SQL_BIGRAMS = f"""
    CASE WHEN len({SQL_TOKENS}) >= 2
         THEN list_transform(range(1, len({SQL_TOKENS})),
              i -> {SQL_TOKENS}[i] || ' ' || {SQL_TOKENS}[i + 1])
         ELSE [] END
"""


def _bigrams() -> Column:
    t = _tokens()
    grams = F.zip_with(
        F.slice(t, 1, F.size(t) - 1),
        F.slice(t, 2, F.size(t) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(F.size(t) >= 2, grams).otherwise(F.array().cast("array<string>"))


@register(
    "text_repetition_stats",
    bench=True,
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {SQL_TOKENS} AS toks, {SQL_BIGRAMS} AS bg
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
             AS duplicate_token_fraction,
           CAST(list_max(list_transform(list_distinct(toks),
                x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
             / len(toks) AS top_token_fraction,
           CASE WHEN len(bg) = 0 THEN 0.0
                ELSE CAST(list_max(list_transform(list_distinct(bg),
                     x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
                     / len(bg) END AS top_bigram_fraction
    FROM base
    ORDER BY doc_id
    """,
    doc="Gopher-style repetition filters: duplicate-token fraction, "
        "most-frequent-token coverage, most-frequent-bigram coverage -- "
        "the repetition heuristics used to drop low-quality boilerplate "
        "before training.  Pure array lambdas (zero shuffle: pipelines "
        "into the scan stage); the max-frequency count is the longest "
        "equal-neighbor run of the SORTED token array -- per-doc "
        "O(n log n), which beats both the old O(distinct*n) "
        "distinct-x-filter shape and an explode+groupBy+join shuffle "
        "for bounded-length documents (for multi-MB docs swap in the "
        "exploded variant).",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", _tokens().alias("toks"), _bigrams().alias("bg"))

    def top_count(arr: Column) -> Column:
        # r14 optimization (guide section 1.2 "per-task work"): the
        # max-frequency count used to be distinct(arr) x filter(arr) --
        # O(distinct * n) interpreted higher-order-function work per
        # document (measured 5.2 s noop-sink at sf0.1, the whole cost
        # of this query).  The max frequency of any element equals the
        # longest run of equal neighbors in the SORTED array: one
        # native sort_array + one O(n) fold.  Counts are exact
        # integers either way -- bit-identical output.
        sorted_arr = F.sort_array(arr)
        run_next = lambda acc, x: F.when(  # noqa: E731
            x == acc["prev"], acc["run"] + 1
        ).otherwise(F.lit(1))
        folded = F.aggregate(
            sorted_arr,
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                run_next(acc, x).alias("run"),
                F.greatest(run_next(acc, x), acc["best"]).alias("best"),
            ),
        )
        return folded["best"]

    toks, bg = F.col("toks"), F.col("bg")
    return (
        base.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            (
                F.lit(1.0)
                - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            ).alias("duplicate_token_fraction"),
            (top_count(toks).cast("double") / F.size(toks)).alias(
                "top_token_fraction"
            ),
            F.when(F.size(bg) == 0, F.lit(0.0))
            .otherwise(top_count(bg).cast("double") / F.size(bg))
            .alias("top_bigram_fraction"),
        )
        .orderBy("doc_id")
    )


# Rabin-Karp fold: token -> 32-bit md5-derived code (engine-portable),
# then acc' = (acc*257 + code) mod (2^31 - 1).  acc < 2^31 so the
# intermediate product stays < 2^40 -- no int64 overflow in either engine.
_RH_MOD = 2147483647
SQL_ROLLING_HASH = f"""
    list_reduce(
        list_prepend(CAST(0 AS BIGINT),
            list_transform({SQL_TOKENS},
                t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT))),
        (acc, x) -> (acc * 257 + x) % {_RH_MOD})
"""


@register(
    "text_rolling_hash",
    oracle=f"""
    SELECT doc_id,
           {SQL_ROLLING_HASH} AS rolling_hash,
           {SQL_ROLLING_HASH} % 1024 AS hash_shard
    FROM documents
    ORDER BY doc_id
    """,
    doc="Order-SENSITIVE document fingerprint: Rabin-Karp polynomial "
        "rolling hash folded over the token stream (complements "
        "text_fingerprint's order-insensitive set hash -- catches "
        "docs that share vocabulary but differ in sequence).  A pure "
        "fold via F.aggregate: zero shuffle, stays in the scan stage; "
        "hash_shard is the partitioning key a sharded dedup join "
        "would use.",
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    codes = F.transform(
        _tokens(),
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 8), 16, 10).cast(
            "long"
        ),
    )
    rh = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(257) + x) % F.lit(_RH_MOD),
    )
    return (
        d.select(
            "doc_id",
            rh.alias("rolling_hash"),
            (rh % F.lit(1024)).alias("hash_shard"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({SQL_TOKENS})), ' '))
             AS content_fingerprint,
           CAST('0x' || substr(md5(array_to_string(list_sort(list_distinct(
             {SQL_TOKENS})), ' ')), 1, 8) AS BIGINT) AS fingerprint_bucket
    FROM documents
    ORDER BY doc_id
    """,
    doc="Document fingerprinting: order-insensitive content hash (sorted "
        "distinct token set -> md5) + a 32-bit bucket for partitioned "
        "dedup joins -- the canonical-form hash that catches "
        "reordered/duplicated boilerplate.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    canon = F.concat_ws(" ", F.sort_array(F.array_distinct(_tokens())))
    fp = F.md5(canon.cast("binary"))
    return (
        d.select(
            "doc_id",
            fp.alias("content_fingerprint"),
            F.conv(F.substring(fp, 1, 8), 16, 10).cast("bigint").alias(
                "fingerprint_bucket"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "text_unigram_surprise",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({SQL_TOKENS}) AS tok FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           (FLOOR((CAST(SUM(CAST(
                      (FLOOR((-LN(CAST(c.c AS DOUBLE) / tot.n))
                             * 1000000000e0 + 0.5) / 1000000000e0)
                              AS DECIMAL(38,9))) AS DOUBLE)
                 / COUNT(*)) * 1000000e0 + 0.5) / 1000000e0)
             AS avg_surprise
    FROM toks t JOIN cnt c ON t.tok = c.tok CROSS JOIN tot
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    doc="Unigram-surprise quality score: corpus unigram frequencies "
        "(one aggregate over the exploded tokens), then each document's "
        "mean -ln p(token) -- low surprise = boilerplate / stop-word "
        "soup, high = rare-token noise; the classic cheap LM-quality "
        "gate before an expensive model scores the survivors.  "
        "Per-token surprise is rounded to 9 dp and accumulated in "
        "decimal so the sum is order-independent across partitionings "
        "(float-sum order is not); output rounded to 6 dp absorbs the "
        "sub-ulp libm ln() differences between engines.  At 100 TB the "
        "unigram table is vocabulary-sized -- broadcast it; the doc "
        "scan stays shuffle-free after the token join.",
)
def text_unigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = toks.agg(F.count("*").alias("n"))
    per_tok = fround(
        -F.log(F.col("c").cast("double") / F.col("n")), 9
    ).cast("decimal(38,9)")
    return (
        toks.join(cnt, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            fround(
                F.sum(per_tok).cast("double") / F.count("*"), 6
            ).alias("avg_surprise"),
        )
        .orderBy("doc_id")
    )


# ----------------------------------------------------------- PII scrub

# Java-regex / RE2 compatible subset: simple classes + bounded repeats.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{2,4}\b"

# The synthetic corpus carries no PII, so the query plants a
# deterministic specimen per document before scrubbing -- the operator
# under test is the regex pipeline, and planting on both engines keeps
# the oracle exact.  Real pipelines drop the planting projection.
_SQL_AUG = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com or call 555-01' || CAST(doc_id % 100 AS VARCHAR)"
)


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_SQL_AUG} AS text FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_hash,
           length(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_len
    FROM aug
    ORDER BY doc_id
    """,
    doc="PII scrubbing: detect-and-redact emails and phone numbers with "
        "engine-portable regexes (Java regex and RE2 agree on this "
        "subset), reporting per-document match counts plus the md5 of "
        "the redacted text (proves byte-identical redaction across "
        "engines).  Pure projection -- zero shuffle, pipelines into the "
        "scan stage; at 100 TB this is the map-only pass fused with "
        "whatever else reads the corpus.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-01"),
        (F.col("doc_id") % 100).cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return (
        d.select(
            "doc_id",
            F.size(F.regexp_extract_all(aug, F.lit(EMAIL_RE), F.lit(0))).alias(
                "n_emails"
            ),
            F.size(F.regexp_extract_all(aug, F.lit(PHONE_RE), F.lit(0))).alias(
                "n_phones"
            ),
            F.md5(scrubbed.cast("binary")).alias("scrubbed_hash"),
            F.length(scrubbed).alias("scrubbed_len"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------- Gopher-style rules

# Composite document-quality rules in the style of the Gopher corpus
# filters (Rae et al. 2021, published): hard bounds on word count and
# mean word length, a minimum stopword signal, and caps on symbol and
# numeric token fractions.  Thresholds are corpus-tuned constants; the
# point of the operator is the one-pass boolean rule stack.
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 2.0
GOPHER_MAX_MEAN_LEN = 12.0
GOPHER_MIN_STOPWORD_HITS = 2
GOPHER_MAX_DIGIT_FRAC = 0.2
GOPHER_MAX_SYMBOL_RATIO = 0.5

# The full gopher metric+keep derivation as a reusable CTE body: the
# source-level gate (pipeline_source_gate) aggregates over the SAME
# per-document keep flags, so both oracles share one formulation.
SQL_GOPHER_KEEP = f"""
    gopher_m AS (
        SELECT doc_id,
               len({SQL_TOKENS}) AS n_words,
               CAST(length(translate(trim(lower(text)),
                    ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13),
                    '')) AS DOUBLE) / len({SQL_TOKENS}) AS mean_word_len,
               {_sql_hits(STOPWORDS)} AS stopword_hits,
               CAST(len(list_filter({SQL_TOKENS},
                        t -> t <> '' AND
                             length(translate(t, '0123456789', '')) = 0))
                    AS DOUBLE)
                 / len({SQL_TOKENS}) AS digit_frac,
               CAST(length(translate(text,
                    'abcdefghijklmnopqrstuvwxyz'
                    || 'ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 '
                    || chr(9) || chr(10) || chr(11) || chr(12) || chr(13),
                    '')) AS DOUBLE) / len({SQL_TOKENS}) AS symbol_ratio
        FROM documents
    ),
    gopher_keep AS (
        SELECT doc_id, n_words, mean_word_len, stopword_hits, digit_frac,
               symbol_ratio,
               (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
                 AND (mean_word_len BETWEEN {GOPHER_MIN_MEAN_LEN}
                                        AND {GOPHER_MAX_MEAN_LEN})
                 AND stopword_hits >= {GOPHER_MIN_STOPWORD_HITS}
                 AND digit_frac < {GOPHER_MAX_DIGIT_FRAC}
                 AND symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO} AS keep
        FROM gopher_m
    )
"""


def gopher_metric_columns() -> list:
    """The gopher metric projections as reusable Columns over any
    relation with a ``text`` column -- consumers (the registered
    per-doc query, the source-level gate) apply them in THEIR OWN scan
    instead of joining back to this operator's output, so composition
    never costs a doc_id shuffle."""
    toks = _tokens()
    n_words = F.size(toks)
    # mean word length over non-WHITESPACE chars of the normalized text
    # -- cheaper than re-aggregating token lengths.  All \s must strip,
    # not just ' ': tokens split on \s+, so tabs/newlines collapse in
    # the denominator and would inflate the mean for multi-line docs if
    # they stayed in the numerator.  translate (charmap delete), not
    # regexp_replace: the regex form measured 4x the whole operator's
    # wall at sf0.1.  The char set is Java's \s = [ \t\n\x0B\f\r].
    mean_word_len = (
        F.length(
            F.translate(
                F.trim(F.lower(F.col("text"))), " \t\n\x0b\x0c\r", ""
            )
        ).cast("double")
        / n_words
    )
    # Charmap tests, not regexes: a per-token rlike and a full-text
    # regexp_extract_all measured ~3x the whole operator's wall at 10x
    # data (HOF lambdas run interpreted, so the regex engine fires per
    # token).  translate deletes listed chars; a token is numeric iff
    # deleting digits empties it, and the symbol count is what remains
    # of the text after deleting [A-Za-z0-9\s].
    digit_frac = (
        F.size(
            F.filter(
                toks,
                lambda t: (t != "")
                & (F.length(F.translate(t, "0123456789", "")) == 0),
            )
        ).cast("double")
        / n_words
    )
    _keep_chars = (
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        " \t\n\x0b\x0c\r"
    )
    symbol_ratio = (
        F.length(F.translate(F.col("text"), _keep_chars, ""))
        .cast("double")
        / n_words
    )
    return [
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        _hit_count(toks, STOPWORDS).alias("stopword_hits"),
        digit_frac.alias("digit_frac"),
        symbol_ratio.alias("symbol_ratio"),
    ]


def gopher_keep_column() -> Column:
    """The keep flag over the metric columns from gopher_metric_columns."""
    return (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN)
        & (F.col("stopword_hits") >= GOPHER_MIN_STOPWORD_HITS)
        & (F.col("digit_frac") < GOPHER_MAX_DIGIT_FRAC)
        & (F.col("symbol_ratio") < GOPHER_MAX_SYMBOL_RATIO)
    )



@register(
    "text_gopher_rules",
    rotation_group=2,
    oracle=f"""
    WITH {SQL_GOPHER_KEEP}
    SELECT doc_id, n_words, mean_word_len, stopword_hits, digit_frac,
           symbol_ratio, keep
    FROM gopher_keep
    ORDER BY doc_id
    """,
    doc="Gopher-style composite quality filter (word-count bounds, mean "
        "word length bounds, minimum stopword signal, numeric-token and "
        "symbol-ratio caps -> one keep flag): the standard rule stack "
        "applied before dedup/training.  Pure per-document column "
        "arithmetic -- zero shuffle, pipelines into the parquet scan "
        "stage like the rest of text_analysis; each ratio is one IEEE "
        "division of exact integer counts, so the boolean cuts are "
        "bit-identical in both engines.",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = d.select("doc_id", *gopher_metric_columns())
    return m.withColumn("keep", gopher_keep_column()).orderBy("doc_id")


# ------------------------------- character-entropy quality gate

# Low Shannon entropy over the character distribution marks repetitive
# / degenerate text (keyboard mash, template spam, single-char floods)
# that length and stopword rules miss; it is a standard cheap quality
# signal next to the Gopher stack.  2.0 bits is a permissive floor --
# natural-language text sits near 4 bits/char.
ENTROPY_MIN_BITS = 2.0
_ENT_ROUND = 9


@register(
    "text_char_entropy",
    rotation_group=5,
    oracle=f"""
    WITH chars AS (
        SELECT doc_id, UNNEST(string_split(text, '')) AS c FROM documents
    ),
    counts AS (
        SELECT doc_id, c, COUNT(*) AS k FROM chars GROUP BY 1, 2
    ),
    terms AS (
        SELECT doc_id, SUM(k) OVER (PARTITION BY doc_id) AS n, k, c
        FROM counts
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(MAX(n) AS BIGINT) AS n_chars_counted,
               COUNT(*) AS n_distinct,
               (FLOOR(({sql_dsum(sql_fround("(CAST(k AS DOUBLE) / n) * LOG2(CAST(n AS DOUBLE) / k)", _ENT_ROUND), _ENT_ROUND)}) * 1000000e0 + 0.5) / 1000000e0)
                 AS entropy_bits
        FROM terms
        GROUP BY doc_id
    )
    SELECT doc_id, n_chars_counted, n_distinct, entropy_bits,
           (entropy_bits >= {ENTROPY_MIN_BITS}) AS keep
    FROM per_doc
    ORDER BY doc_id
    """,
    doc=f"Per-document character Shannon entropy (bits/char) with a "
        f">= {ENTROPY_MIN_BITS}-bit keep gate: flags repetitive or "
        "degenerate text the length/stopword rules miss.  Each "
        "(p * log2(1/p)) term is rounded once at 9 dp (absorbing libm "
        "log differences) and decimal-summed, so both engines produce "
        "the identical rounded entropy.  At 100 TB: one narrow "
        "char-explode into a (doc_id, char) keyed count with map-side "
        "partials -- alphabet-bounded fanin per doc -- then a "
        "doc_id-partitioned window; everything stays keyed by doc_id, "
        "so the whole plan is ONE hash exchange and no global sort.",
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("k"))
    )
    w = Window.partitionBy("doc_id")
    terms = counts.select(
        "doc_id", F.sum("k").over(w).alias("n"), "k"
    ).select(
        "doc_id", "n",
        fround(
            (F.col("k").cast("double") / F.col("n"))
            * F.log2(F.col("n").cast("double") / F.col("k")),
            _ENT_ROUND,
        ).alias("term"),
    )
    per_doc = terms.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_chars_counted"),
        F.count("*").alias("n_distinct"),
        fround(dsum("term", _ENT_ROUND), 6).alias("entropy_bits"),
    )
    return per_doc.select(
        "doc_id", "n_chars_counted", "n_distinct", "entropy_bits",
        (F.col("entropy_bits") >= ENTROPY_MIN_BITS).alias("keep"),
    ).orderBy("doc_id")


# ----------------------- Jensen-Shannon token-distribution drift

# PSI and KS watch numeric columns; the drift that actually poisons a
# text corpus is DISTRIBUTIONAL -- one crawl source's token mix veering
# from the corpus.  Jensen-Shannon divergence (symmetric, bounded
# [0,1] in bits, defined even with zeros) between each source's
# unigram distribution and the corpus's, over the top-K+OOV capped
# vocabulary so the model relation is bounded at any corpus size.
#
# Spine-free split (same identity family as privacy_t_closeness): for
# a word ABSENT from a source, p=0, so its p-side KL term vanishes and
# its q-side term is q*log2(q/(q/2)) = q -- hence
#   JSD(s) = 0.5*sum_present[p*log2(2p/(p+q)) + q*log2(2q/(p+q))]
#          + 0.5*(1 - sum_present q)
JS_VOCAB_K = 32
JS_ROUND = 9

_SQL_JS = f"""
    WITH toks AS (
        SELECT source, UNNEST({SQL_TOKENS}) AS w FROM documents
    ),
    tok_f AS (SELECT source, w FROM toks WHERE w <> ''),
    vocab_top AS (
        SELECT w FROM tok_f GROUP BY w
        ORDER BY COUNT(*) DESC, w LIMIT {JS_VOCAB_K}
    ),
    mapped AS (
        SELECT t.source,
               CASE WHEN v.w IS NULL THEN '<oov>' ELSE t.w END AS m
        FROM tok_f t LEFT JOIN vocab_top v ON t.w = v.w
    ),
    joint AS (
        SELECT source, m, CAST(COUNT(*) AS BIGINT) AS n_sw
        FROM mapped GROUP BY 1, 2
    ),
    win AS (
        SELECT source, m, n_sw,
               CAST(SUM(n_sw) OVER (PARTITION BY source) AS BIGINT) AS n_s,
               CAST(SUM(n_sw) OVER (PARTITION BY m) AS BIGINT) AS n_w,
               CAST(SUM(n_sw) OVER () AS BIGINT) AS n
        FROM joint
    ),
    terms AS (
        SELECT source,
               (FLOOR((
                   (CAST(n_sw AS DOUBLE) / n_s)
                   * (LN(2.0 * (CAST(n_sw AS DOUBLE) / n_s)
                         / (CAST(n_sw AS DOUBLE) / n_s
                            + CAST(n_w AS DOUBLE) / n)) / LN(2.0))
                   + (CAST(n_w AS DOUBLE) / n)
                   * (LN(2.0 * (CAST(n_w AS DOUBLE) / n)
                         / (CAST(n_sw AS DOUBLE) / n_s
                            + CAST(n_w AS DOUBLE) / n)) / LN(2.0))
                   ) * 1000000000e0 + 0.5) / 1000000000e0) AS pq_term,
               (FLOOR((CAST(n_w AS DOUBLE) / n) * 1000000000e0 + 0.5)
                / 1000000000e0) AS q
        FROM win
    )
    SELECT source,
           (FLOOR((0.5 * ({{dsum_pq}} + 1 - {{dsum_q}})) * 1000000e0 + 0.5)
            / 1000000e0) AS js_bits
    FROM terms
    GROUP BY source
    ORDER BY source
""".format(
    dsum_pq="{dsum_pq}", dsum_q="{dsum_q}"
)


@register(
    "text_js_divergence_by_source",
    rotation_group=6,
    oracle=_SQL_JS.format(
        dsum_pq=sql_dsum("pq_term", JS_ROUND), dsum_q=sql_dsum("q", JS_ROUND)
    ),
    doc=f"Jensen-Shannon divergence (bits) between each source's "
        "unigram distribution and the whole corpus's, over the top-"
        f"{JS_VOCAB_K}+OOV capped vocabulary -- the distributional "
        "drift monitor for text that PSI (numeric bins) and KS "
        "(numeric ECDF) cannot see; symmetric, bounded [0,1], defined "
        "even when a source misses words.  Spine-free like the "
        "t-closeness audit: absent words contribute 0.5*(1 - sum of "
        "present corpus mass) exactly, so no source-by-word cross "
        "join.  The token stream shuffles once for the vocab count "
        "and once for the (source, word) joint; every model relation "
        "is bounded by sources x (K+1) rows with marginals as window "
        "sums in one lineage.  Per-term logs rounded at 1e-9 + the "
        "DECIMAL accumulator make it engine-exact.",
)
def text_js_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(_tokens()).alias("w")).filter(
        F.col("w") != ""
    )
    vocab_top = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(JS_VOCAB_K)
        .select("w")
        .withColumn("k", F.lit(1))
    )
    mapped = tok.join(F.broadcast(vocab_top), "w", "left").select(
        "source",
        F.when(F.col("k").isNull(), F.lit("<oov>")).otherwise(F.col("w")).alias("m"),
    )
    joint = mapped.groupBy("source", "m").agg(
        F.count("*").cast("bigint").alias("n_sw")
    )
    win = joint.select(
        "source",
        "m",
        "n_sw",
        F.sum("n_sw").over(Window.partitionBy("source")).cast("bigint").alias("n_s"),
        F.sum("n_sw").over(Window.partitionBy("m")).cast("bigint").alias("n_w"),
        F.sum("n_sw").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    p = F.col("n_sw").cast("double") / F.col("n_s")
    q = F.col("n_w").cast("double") / F.col("n")
    log2 = F.log(F.lit(2.0))
    terms = win.select(
        "source",
        fround(
            p * (F.log(F.lit(2.0) * p / (p + q)) / log2)
            + q * (F.log(F.lit(2.0) * q / (p + q)) / log2),
            JS_ROUND,
        ).alias("pq_term"),
        fround(q, JS_ROUND).alias("q"),
    )
    return (
        terms.groupBy("source")
        .agg(
            fround(
                0.5 * (dsum("pq_term", JS_ROUND) + 1 - dsum("q", JS_ROUND)), 6
            ).alias("js_bits")
        )
        .orderBy("source")
    )


# --------------------------------------------------- unigram entropy

_LN2 = "0.6931471805599453"  # ln(2) as the exact shared double literal


@register(
    "text_word_entropy",
    rotation_group=8,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, source, unnest({SQL_TOKENS}) AS w
        FROM documents
    ),
    wc AS (
        SELECT doc_id, lang, source, w, COUNT(*) AS c
        FROM toks GROUP BY 1, 2, 3, 4
    ),
    per_doc AS (
        SELECT doc_id, lang, source,
               CAST(SUM(c) AS BIGINT) AS n_words,
               {sql_dsum(sql_fround('c * LN(c)', 9), 9)} AS s
        FROM wc GROUP BY 1, 2, 3
    ),
    ent AS (
        SELECT lang, source,
               {sql_fround(f'({sql_fround("LN(n_words)", 9)}'
                               f' - s / n_words) / {_LN2}', 9)}
                   AS h_bits
        FROM per_doc
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           -- integer-exact half-up average of the 9-dp h_bits grid:
           -- ROUND(sum/n, 9) ties exactly on the half-grid where the
           -- engines' rounding machinery disagrees (strict-sweep r12)
           {sql_davg_round('h_bits', 9)} AS avg_entropy_bits,
           MAX(h_bits) AS max_entropy_bits
    FROM ent GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Per-document unigram Shannon entropy (bits), aggregated per "
        "(lang, source) -- the quality signal that separates natural "
        "prose from keyword stuffing and boilerplate loops.  Computed "
        "as H = (ln n - (sum c*ln c)/n) / ln 2 so the per-word work "
        "is one c*ln(c) term: every libm output is rounded at 9 dp "
        "before it enters a sum (the house libm-absorption margin), "
        "sums are order-independent DECIMAL(38,9) accumulations, and "
        "ln 2 is a shared double literal -- both engines then carry "
        "bit-identical doubles end to end.  Two keyed aggregations "
        "((doc, word) then doc), both map-side combinable; the group "
        "rollup is vocabulary-independent.",
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", "source", F.explode(_tokens()).alias("w")
    )
    wc = toks.groupBy("doc_id", "lang", "source", "w").agg(
        F.count("*").alias("c")
    )
    per_doc = wc.groupBy("doc_id", "lang", "source").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        dsum(fround(F.col("c") * F.log("c"), 9), 9).alias("s"),
    )
    ent = per_doc.select(
        "lang",
        "source",
        fround(
            (fround(F.log("n_words"), 9) - F.col("s") / F.col("n_words"))
            / F.lit(float(_LN2)),
            9,
        ).alias("h_bits"),
    )
    return (
        ent.groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            davg_round("h_bits", 9).alias("avg_entropy_bits"),
            F.max("h_bits").alias("max_entropy_bits"),
        )
        .orderBy("lang", "source")
    )
