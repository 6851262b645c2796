"""Network topology + validations over the reference's real crawl data.

Reference: ``network_crawls`` rows hold a snapshot's nodes[] and
connections[] ("src>dst" strings keyed by 12-char pubkey prefixes);
``topology.js:111-211`` serves node lists with in/out degree,
``:623-627`` the link graph; ledger validations group per ledger hash
(``topology.js:515-586``).  Spark shape (SURVEY 1.1): a nodes DataFrame
+ an edges DataFrame; degrees are one groupBy each.

Input: the crawl snapshot JSON (``test/mock/topology-crawl.json`` shape)
read as VARIANT, so added node fields never break the schema.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.xrpl import vstr

PREFIX_LEN = 12  # connections key on 12-char pubkey prefixes


def read_crawl(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """One crawl document -> (nodes, links)."""
    raw = spark.read.text(path, wholetext=True)
    v = raw.select(F.parse_json(F.col("value")).alias("v"))
    snap = v.select(
        vstr("v", "$.start").alias("crawl_start"),
        vstr("v", "$.end").alias("crawl_end"),
        F.col("v"),
    )
    nodes = snap.select(
        "crawl_start",
        F.explode(F.try_variant_get("v", "$.nodes", "array<variant>")).alias("n"),
    ).select(
        "crawl_start",
        vstr("n", "$.pubkey_node").alias("pubkey"),
        vstr("n", "$.host").alias("host"),
        # crawls carry port as string OR number (both appear in the
        # reference's own fixture); Number(d.port) per topology.js:185
        vstr("n", "$.port").cast("int").alias("port"),
        vstr("n", "$.server_state").alias("server_state"),
        vstr("n", "$.version").alias("version"),
        vstr("n", "$.uptime").cast("long").alias("uptime"),
        vstr("n", "$.peers").cast("int").alias("peers"),
        vstr("n", "$.in").cast("int").alias("reported_in"),
        vstr("n", "$.out").cast("int").alias("reported_out"),
    )
    links = snap.select(
        "crawl_start",
        F.explode(
            F.try_variant_get("v", "$.connections", "array<string>")
        ).alias("c"),
    ).select(
        "crawl_start",
        F.split_part(F.col("c"), F.lit(">"), F.lit(1)).alias("source"),
        F.split_part(F.col("c"), F.lit(">"), F.lit(2)).alias("target"),
    )
    return nodes, links


def topology_node_summary(nodes: DataFrame, links: DataFrame) -> DataFrame:
    """Per-node view with crawl-derived in/out degree (the reference
    recomputes these when serving /topology/nodes): match links on the
    12-char pubkey prefix, two broadcast aggregations."""
    key = F.substring("pubkey", 1, PREFIX_LEN)
    outd = links.groupBy(F.col("source").alias("k")).agg(
        F.count("*").alias("out_degree")
    )
    ind = links.groupBy(F.col("target").alias("k")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        nodes.withColumn("k", key)
        .join(F.broadcast(outd), "k", "left")
        .join(F.broadcast(ind), "k", "left")
        .select(
            "pubkey", "host", "server_state", "version", "uptime", "peers",
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
        )
        .orderBy("pubkey")
    )


# the geolocation detail column set a verbose topology response merges
# from node_state (hbase-thrift/topology.js:138-151 getNodeDetails)
TOPOLOGY_DETAIL_COLS = (
    "lat", "long", "country", "region", "city", "postal_code",
    "country_code", "region_code", "timezone", "isp",
)


def resolve_links(nodes: DataFrame, links: DataFrame) -> DataFrame:
    """formatLinks (hbase-thrift/topology.js:83-97): connections are
    '12-char-prefix>12-char-prefix' strings; the response resolves both
    ends to full pubkeys via the crawl's own node list.  The node map
    is crawl-sized -> broadcast."""
    nm = nodes.select(
        F.substring("pubkey", 1, PREFIX_LEN).alias("k"),
        F.col("pubkey"),
    )
    return (
        links.join(
            F.broadcast(nm.select(F.col("k").alias("source"),
                                  F.col("pubkey").alias("source_key"))),
            "source", "left",
        )
        .join(
            F.broadcast(nm.select(F.col("k").alias("target"),
                                  F.col("pubkey").alias("target_key"))),
            "target", "left",
        )
        .select(
            F.col("source_key").alias("source"),
            F.col("target_key").alias("target"),
        )
    )


def topology_nodes_serving(
    nodes: DataFrame,
    links: DataFrame,
    node_state: DataFrame | None = None,
    verbose: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """GET /v2/network/topology (hbase-thrift/topology.js:178-215 +
    getTopology.js:44-53): the compact node projection is
    {node_public_key, ip, port (Number, NULL when the crawl omits it
    -- topology.js:185), version 'rippled-<v>', uptime, inbound_count,
    outbound_count} -- geolocation detail (city, country, ...) is
    ABSENT unless verbose, in which case each node merges its
    node_state detail row (options.details -> getDetails).  Returns
    (nodes, links); node_count/link_count are the two counts (the
    mocha pins: 3 and 3 on the crawl fixture)."""
    compact = nodes.select(
        F.col("pubkey").alias("node_public_key"),
        F.col("host").alias("ip"),
        F.col("port"),
        F.concat(F.lit("rippled-"), F.col("version")).alias("version"),
        F.col("uptime").cast("long").alias("uptime"),
        F.col("reported_in").alias("inbound_count"),
        F.col("reported_out").alias("outbound_count"),
    )
    if verbose and node_state is not None:
        detail = node_state.select(
            F.col("pubkey").alias("node_public_key"),
            *[F.col(c) for c in TOPOLOGY_DETAIL_COLS if c in node_state.columns],
        )
        compact = compact.join(F.broadcast(detail), "node_public_key", "left")
    return compact.orderBy("node_public_key"), resolve_links(nodes, links)


def topology_node_detail(node_state: DataFrame, pubkey: str) -> DataFrame:
    """GET /v2/network/topology/nodes/{pubkey}
    (hbase-thrift/topology.js:163-176): the node_state row with
    node_public_key renamed from the crawl's pubkey_node and numeric
    inbound/outbound counts; geolocation fields ride along as stored."""
    keep = [
        c for c in node_state.columns
        if c not in ("pubkey", "reported_in", "reported_out", "uptime")
    ]
    return node_state.filter(F.col("pubkey") == pubkey).select(
        F.col("pubkey").alias("node_public_key"),
        F.col("reported_in").cast("int").alias("inbound_count"),
        F.col("reported_out").cast("int").alias("outbound_count"),
        F.col("uptime").cast("long").alias("uptime"),
        *keep,
    )


def ledger_validations(spark: SparkSession, path: str) -> DataFrame:
    """GET /v2/ledgers/{hash}/validations (topology.js:515-586): group
    raw validation messages per ledger -> validator list + count."""
    raw = spark.read.text(path, wholetext=True)
    v = raw.select(F.parse_json(F.col("value")).alias("v"))
    vals = v.select(
        F.explode(F.try_variant_get("v", "$", "array<variant>")).alias("x")
    ).select(
        vstr("x", "$.ledger_hash").alias("ledger_hash"),
        vstr("x", "$.ledger_index").cast("long").alias("ledger_index"),
        vstr("x", "$.validation_public_key").alias("validator"),
        vstr("x", "$.full").cast("boolean").alias("full"),
    )
    return (
        vals.groupBy("ledger_hash", "ledger_index")
        .agg(
            F.count("*").alias("count"),
            F.count(F.when(F.col("full"), 1)).alias("full_count"),
            F.array_sort(F.collect_list("validator")).alias("validators"),
        )
        .orderBy("ledger_index", "ledger_hash")
    )


# ------------------------------------------------------ validator manifests

# The reference ingests a manifest stream into two tables
# (lib/validations/manifests.js): ``manifests_by_validator`` keyed
# (master_public_key | zero-padded sequence | ephemeral_public_key) with
# first/last sighting + count, merged by a read-modify-write loop
# (combineValidatorManifests, manifests.js:202-266), and
# ``manifests_by_master_key`` holding the ACTIVE manifest -- the highest
# sequence seen per master key (setActiveManifest, manifests.js:99-112;
# a higher sequence revokes the ephemeral keys before it).  In Spark
# both collapse to single aggregations over the observation stream: the
# merge loop is a groupBy (min/max/sum are associative, so partial
# merges from any partitioning combine exactly -- the property the
# reference's incremental loop hand-maintains), and the active manifest
# is one max_by.

from ..plans.registry import register
from ..sources.catalog import load_table


def _manifest_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic manifest stream over the events table: each event is
    one manifest sighting; master key from the validator id, sequence
    cycling so masters see multiple manifests, ephemeral key derived
    (deterministically) from (master, sequence)."""
    e = load_table(spark, sf_dir, "events")
    master = F.concat(F.lit("nHU"), (F.col("user_id") % 20).cast("string"))
    seq = (F.col("event_id") % 4 + 1).cast("long")
    eph = F.concat(
        F.lit("n9K"),
        F.md5(F.concat(master, F.lit("|"), seq.cast("string")).cast("binary")),
    )
    return e.select(
        master.alias("master_public_key"),
        seq.alias("sequence"),
        eph.alias("ephemeral_public_key"),
        F.col("ts").alias("timestamp"),
    )


@register(
    "manifests_by_validator",
    oracle="""
    SELECT 'nHU' || CAST(user_id % 20 AS VARCHAR) AS master_public_key,
           event_id % 4 + 1 AS sequence,
           'n9K' || md5('nHU' || CAST(user_id % 20 AS VARCHAR) || '|'
                        || CAST(event_id % 4 + 1 AS VARCHAR))
             AS ephemeral_public_key,
           MIN(ts) AS first_datetime,
           MAX(ts) AS last_datetime,
           COUNT(*) AS count
    FROM events
    GROUP BY 1, 2, 3
    ORDER BY master_public_key, sequence
    """,
    doc="Manifest merge (manifests.js:202-266 combineValidatorManifests): "
        "per (master, sequence, ephemeral) keep first/last sighting and "
        "total count.  The reference's incremental read-modify-write loop "
        "is a single groupBy here -- min/max/sum partial-aggregate and "
        "merge associatively from any partitioning.",
)
def manifests_by_validator(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = _manifest_observations(spark, sf_dir)
    return (
        obs.groupBy("master_public_key", "sequence", "ephemeral_public_key")
        .agg(
            F.min("timestamp").alias("first_datetime"),
            F.max("timestamp").alias("last_datetime"),
            F.count("*").alias("count"),
        )
        .orderBy("master_public_key", "sequence")
    )


@register(
    "manifests_active_key",
    oracle="""
    SELECT master_public_key,
           MAX(sequence) AS sequence,
           MAX_BY(ephemeral_public_key, sequence) AS ephemeral_public_key
    FROM (
        SELECT 'nHU' || CAST(user_id % 20 AS VARCHAR) AS master_public_key,
               event_id % 4 + 1 AS sequence,
               'n9K' || md5('nHU' || CAST(user_id % 20 AS VARCHAR) || '|'
                            || CAST(event_id % 4 + 1 AS VARCHAR))
                 AS ephemeral_public_key
        FROM events
    )
    GROUP BY master_public_key
    ORDER BY master_public_key
    """,
    doc="Active manifest per master key (manifests.js:99-112 "
        "setActiveManifest / 118-136 revocation): the highest sequence "
        "wins; one max_by aggregation replaces the mutable "
        "ephemeral->master map the reference maintains in memory.",
)
def manifests_active_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = _manifest_observations(spark, sf_dir)
    return (
        obs.groupBy("master_public_key")
        .agg(
            F.max("sequence").alias("sequence"),
            F.max_by("ephemeral_public_key", "sequence").alias(
                "ephemeral_public_key"
            ),
        )
        .orderBy("master_public_key")
    )


# ---------------------------------------- manifest admission (ingest)

MAX_SEQUENCE = 4294967295  # manifests.js:21


def manifest_signing_bytes(
    sequence: int,
    master_public_key: str,
    ephemeral_public_key: str | None,
) -> bytes:
    """Serialized manifest the signature covers (manifests.js:38-63):
    'MAN\\0' ‖ '$' ‖ seq_be32 ‖ 'q' ‖ len ‖ master(33) and, when an
    ephemeral key is present, 's' ‖ len ‖ ephemeral(33)."""
    from ..functions.xrpl_binary import decode_node_public

    master = decode_node_public(master_public_key)
    data = (
        b"MAN\x00"
        + b"$"
        + int(sequence).to_bytes(4, "big")
        + b"q"
        + bytes([len(master)])
        + master
    )
    if ephemeral_public_key:
        eph = decode_node_public(ephemeral_public_key)
        data += b"s" + bytes([len(eph)]) + eph
    return data


def verify_manifest_signature(manifest: dict) -> bool:
    """Ed25519 manifest signature check (manifests.js:38-72), pure
    Python (functions/ed25519.py, RFC 8032).  Prefers the master
    signature over the ephemeral one (:47), strips the 0xED key-type
    prefix for the verify call (:66 `master_public_bytes.shift()`),
    and returns False -- never raises -- on undecodable keys or
    signatures, matching the reference's boolean contract."""
    from ..functions.ed25519 import ed25519_verify
    from ..functions.xrpl_binary import decode_node_public

    try:
        data = manifest_signing_bytes(
            manifest["sequence"],
            manifest["master_public_key"],
            manifest.get("ephemeral_public_key"),
        )
        sig = manifest.get("master_signature") or manifest.get("signature")
        master = decode_node_public(manifest["master_public_key"])
        return ed25519_verify(master[1:], data, bytes.fromhex(sig))
    except (KeyError, TypeError, ValueError, OverflowError):
        # OverflowError: sequence outside [0, 2^32) can't serialize --
        # ungated callers get False, not a crashed executor
        return False


def handle_manifests(
    raw: DataFrame,
    verify_signatures: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """handleManifest (manifests.js:338-421) as one declarative pass:
    ``raw`` rows (master_public_key, ephemeral_public_key, sequence,
    signature, master_signature, timestamp) -> (by_validator,
    by_master_key, rejects).

    Admission gates, in the reference's reject order (:339-349):
    null master_key; JS-falsy sequence (NULL **or 0** -- `!manifest
    .sequence`); sequence > MAX_SEQUENCE; null ephemeral key unless
    the manifest is a REVOCATION (sequence == MAX_SEQUENCE, which
    needs no ephemeral key); both signatures null.

    ``verify_signatures=True`` adds the Ed25519 gate (:379-381): the
    reference verifies only the FIRST sighting of a manifest (later
    sightings of a saved key skip straight to the count bump), so the
    batch form verifies the first-by-timestamp signature once per
    distinct (master, sequence, ephemeral) group -- an Arrow pandas
    UDF over the GROUPED table, bounded by validator-key cardinality
    (hundreds), never by sighting volume.  An invalid group rejects
    every one of its sightings ('Manifest has invalid signature'),
    mirroring the daemon where a never-saved key re-verifies and
    re-rejects on each arrival.  Default False: the synthetic driver
    feed carries placeholder signatures exercising the null gates
    only; the real-corpus pins (tests/test_manifest_pins.py) run the
    gate over the reference's own mock manifests.

    by_validator is the dedup fold (:78-95 saveManifest + :142-152
    updateManifest): per (master, sequence, ephemeral) keep the first/
    last sighting and the sighting count -- all associative, so the
    reference's read-modify-write against HBase is one groupBy.

    by_master_key is the active-key table (:99-112 setActiveManifest,
    :118-136 deleteActiveManifest): highest-sequence manifest per
    master, MASKED entirely for any master with a revocation sighting
    (seq == MAX_SEQUENCE -> no active row; pinned on the two mocha
    revocation cases).  Batch-form law: revocation is terminal --
    the daemon's in-memory variant re-registers a master if a lower
    sequence arrives AFTER the revocation, an arrival-order artifact
    a deterministic batch over the same sightings does not reproduce
    (documented divergence).
    """
    seq = F.col("sequence")
    reason = (
        F.when(F.col("master_public_key").isNull(), "master_key cannot be null")
        # JS `!manifest.sequence`: 0 is falsy, same class as the
        # escrow tag rules (tests/test_js_falsy_pins.py)
        .when(seq.isNull() | (seq == 0), "seq cannot be null")
        .when(seq > MAX_SEQUENCE, "seq cannot be greater than MAX_SEQUENCE")
        .when(
            F.col("ephemeral_public_key").isNull() & (seq != MAX_SEQUENCE),
            "signing_key cannot be null",
        )
        .when(
            F.col("master_signature").isNull() & F.col("signature").isNull(),
            "master signature and signature cannot be null",
        )
    )
    gated = raw.withColumn("reject_reason", reason)
    rejects = gated.filter(F.col("reject_reason").isNotNull()).select(
        "master_public_key", "sequence", "reject_reason"
    )
    admitted = gated.filter(F.col("reject_reason").isNull()).drop(
        "reject_reason"
    )

    by_validator = (
        admitted.groupBy(
            "master_public_key", "sequence", "ephemeral_public_key"
        )
        .agg(
            F.min_by("signature", "timestamp").alias("signature"),
            F.min_by("master_signature", "timestamp").alias(
                "master_signature"
            ),
            F.min("timestamp").alias("first_datetime"),
            F.max("timestamp").alias("last_datetime"),
            F.count("*").alias("count"),
        )
    )

    if verify_signatures:

        @F.pandas_udf("boolean")
        def _sig_ok(
            master: pd.Series,
            sequence: pd.Series,
            eph: pd.Series,
            sig: pd.Series,
            msig: pd.Series,
        ) -> pd.Series:
            return pd.Series(
                [
                    verify_manifest_signature(
                        {
                            "sequence": int(q),
                            "master_public_key": m,
                            "ephemeral_public_key": e,
                            "signature": s,
                            "master_signature": ms,
                        }
                    )
                    for m, q, e, s, ms in zip(master, sequence, eph, sig, msig)
                ]
            )

        # localCheckpoint (eager): `checked` feeds three plan branches
        # (the bad-set broadcast, the returned by_validator, the active
        # rollup) -- without materializing, each action re-runs the
        # groupBy AND re-verifies every signature.  Checkpoint rather
        # than .cache(): a CacheManager entry would outlive this call
        # and leak across the long-lived harness session, while the
        # checkpointed RDD is reclaimed by the ContextCleaner once the
        # caller drops the DataFrames.  Bounded by validator-key
        # cardinality.
        checked = by_validator.withColumn(
            "sig_ok",
            _sig_ok(
                "master_public_key",
                "sequence",
                "ephemeral_public_key",
                "signature",
                "master_signature",
            ),
        ).localCheckpoint(eager=True)
        bad = checked.filter(~F.col("sig_ok")).select(
            "master_public_key", "sequence", "ephemeral_public_key"
        )
        a, b = admitted.alias("a"), F.broadcast(bad).alias("b")
        sig_rejects = (
            a.join(
                b,
                (F.col("a.master_public_key") == F.col("b.master_public_key"))
                & (F.col("a.sequence") == F.col("b.sequence"))
                & F.col("a.ephemeral_public_key").eqNullSafe(
                    F.col("b.ephemeral_public_key")
                ),
                "leftsemi",
            )
            .select(
                "master_public_key",
                "sequence",
                F.lit("Manifest has invalid signature").alias(
                    "reject_reason"
                ),
            )
        )
        rejects = rejects.unionByName(sig_rejects)
        by_validator = checked.filter(F.col("sig_ok")).drop("sig_ok")

    # active keys from the (verified) GROUP table: the group key holds
    # exactly the columns the max_by needs, so this is equivalent to
    # folding over sightings -- and re-uses the signature gate above.
    active = (
        by_validator.groupBy("master_public_key")
        .agg(
            F.max("sequence").alias("max_seq"),
            F.max_by("ephemeral_public_key", "sequence").alias(
                "ephemeral_public_key"
            ),
        )
        # any revocation sighting masks the master entirely
        .filter(F.col("max_seq") != MAX_SEQUENCE)
        .select(
            "master_public_key",
            F.col("max_seq").alias("sequence"),
            "ephemeral_public_key",
        )
    )
    return by_validator, active, rejects


def _raw_manifest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic raw manifest feed with deterministic gate violations
    and revocations: events become sightings; event_id % 16 picks the
    defect class so every admission branch carries driver-checkable
    rows at any SF."""
    e = load_table(spark, sf_dir, "events")
    k = F.col("event_id") % 16
    master = F.when(k != 0, F.concat(F.lit("nHU"), (F.col("user_id") % 20).cast("string")))
    seq = (
        F.when(k == 1, F.lit(None).cast("long"))
        .when(k == 2, F.lit(0))
        .when(k == 3, F.lit(MAX_SEQUENCE) + 1)
        .when(k == 4, F.lit(MAX_SEQUENCE))  # revocation sighting
        .otherwise(F.col("event_id") % 4 + 1)
    )
    eph = F.when(
        ~k.isin(4, 5),
        F.concat(
            F.lit("n9K"),
            F.md5(
                F.concat(master, F.lit("|"), seq.cast("string")).cast("binary")
            ),
        ),
    )
    return e.select(
        master.alias("master_public_key"),
        eph.alias("ephemeral_public_key"),
        seq.alias("sequence"),
        # k==6: signature-only null (admitted via master_signature);
        # k==7: BOTH null (k odd also nulls master_signature), so the
        # both-signatures gate carries driver-checkable rows
        F.when(~k.isin(6, 7), F.md5(F.col("event_id").cast("string").cast("binary"))).alias("signature"),
        F.when(k % 2 == 0, F.md5(F.concat(F.lit("m"), F.col("event_id").cast("string")).cast("binary"))).alias("master_signature"),
        F.col("ts").alias("timestamp"),
    )


@register(
    "manifests_admission",
    oracle=f"""
    WITH raw AS (
        SELECT CASE WHEN event_id % 16 != 0
                    THEN 'nHU' || CAST(user_id % 20 AS VARCHAR) END
                 AS master_public_key,
               CASE WHEN event_id % 16 = 1 THEN NULL
                    WHEN event_id % 16 = 2 THEN 0
                    WHEN event_id % 16 = 3 THEN {MAX_SEQUENCE} + 1
                    WHEN event_id % 16 = 4 THEN {MAX_SEQUENCE}
                    ELSE event_id % 4 + 1 END AS sequence,
               CASE WHEN event_id % 16 NOT IN (4, 5) THEN 'x' END
                 AS ephemeral_public_key,
               CASE WHEN event_id % 16 NOT IN (6, 7) THEN 'sig' END AS signature,
               CASE WHEN event_id % 16 % 2 = 0 THEN 'msig' END
                 AS master_signature
        FROM events
    )
    SELECT CASE
             WHEN master_public_key IS NULL THEN 'master_key cannot be null'
             WHEN sequence IS NULL OR sequence = 0 THEN 'seq cannot be null'
             WHEN sequence > {MAX_SEQUENCE}
               THEN 'seq cannot be greater than MAX_SEQUENCE'
             WHEN ephemeral_public_key IS NULL
                  AND sequence != {MAX_SEQUENCE}
               THEN 'signing_key cannot be null'
             WHEN master_signature IS NULL AND signature IS NULL
               THEN 'master signature and signature cannot be null'
             ELSE 'admitted' END AS outcome,
           COUNT(*) AS n
    FROM raw GROUP BY 1 ORDER BY 1
    """,
    doc="handleManifest's five admission gates (manifests.js:339-349) "
        "over a synthetic raw feed carrying every defect class: reject "
        "reasons in the reference's first-failure order, incl. the "
        "JS-falsy `!manifest.sequence` (0 rejected like NULL -- the "
        "escrow-tag rule class) and the revocation exemption "
        "(sequence == MAX_SEQUENCE needs no ephemeral key).  The "
        "Ed25519 gate is the one stubbed hook "
        "(verify_manifest_signature, documented out-of-scope "
        "cryptography).  Shape: pure projection + one count rollup.",
)
def manifests_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _raw_manifest_stream(spark, sf_dir)
    by_validator, _, rejects = handle_manifests(raw)
    admitted_n = (
        by_validator
        .agg(F.sum("count").alias("n"))
        .select(F.lit("admitted").alias("outcome"), "n")
    )
    reasons = rejects.groupBy(
        F.col("reject_reason").alias("outcome")
    ).agg(F.count("*").alias("n"))
    return reasons.unionByName(admitted_n).orderBy("outcome")


@register(
    "manifests_active_with_revocation",
    oracle=f"""
    WITH raw AS (
        SELECT 'nHU' || CAST(user_id % 20 AS VARCHAR) AS master_public_key,
               CASE WHEN event_id % 16 = 4 THEN {MAX_SEQUENCE}
                    ELSE event_id % 4 + 1 END AS sequence,
               'n9K' || md5('nHU' || CAST(user_id % 20 AS VARCHAR) || '|'
                            || CAST(CASE WHEN event_id % 16 = 4
                                         THEN {MAX_SEQUENCE}
                                         ELSE event_id % 4 + 1 END
                                    AS VARCHAR))
                 AS ephemeral_public_key
        FROM events
        WHERE event_id % 16 NOT IN (0, 1, 2, 3, 5, 6)
    )
    SELECT master_public_key,
           MAX(sequence) AS sequence,
           MAX_BY(ephemeral_public_key, sequence) AS ephemeral_public_key
    FROM raw
    GROUP BY 1
    HAVING MAX(sequence) != {MAX_SEQUENCE}
    ORDER BY 1
    """,
    doc="The active-key table under REVOCATION masking "
        "(manifests.js:118-136 deleteActiveManifest + the two mocha "
        "revocation cases, test.manifests.js:381-431): a master with "
        "any seq == MAX_SEQUENCE sighting has NO active row; everyone "
        "else serves their highest-sequence manifest.  Complements "
        "manifests_active_key (which demonstrates the no-revocation "
        "fold).  One aggregation + HAVING -- the reference's mutable "
        "ephemeral->master map and delete path collapse into the "
        "group filter.",
)
def manifests_active_with_revocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    raw = _raw_manifest_stream(spark, sf_dir)
    # keep the admissible defect classes: revocations (k=4, null eph
    # allowed) and clean sightings; synthesize the eph the oracle uses
    # (the k=4/5 rows' NULL eph is irrelevant to active-key grouping,
    # but the oracle needs a deterministic max_by tiebreak, so rebuild
    # it unconditionally)
    k = None
    e = load_table(spark, sf_dir, "events")
    k = F.col("event_id") % 16
    admissible = e.filter(~k.isin(0, 1, 2, 3, 5, 6))
    master = F.concat(F.lit("nHU"), (F.col("user_id") % 20).cast("string"))
    seq = F.when(k == 4, F.lit(MAX_SEQUENCE)).otherwise(
        F.col("event_id") % 4 + 1
    )
    eph = F.concat(
        F.lit("n9K"),
        F.md5(F.concat(master, F.lit("|"), seq.cast("string")).cast("binary")),
    )
    obs = admissible.select(
        master.alias("master_public_key"),
        seq.alias("sequence"),
        eph.alias("ephemeral_public_key"),
    )
    return (
        obs.groupBy("master_public_key")
        .agg(
            F.max("sequence").alias("sequence"),
            F.max_by("ephemeral_public_key", "sequence").alias(
                "ephemeral_public_key"
            ),
        )
        .filter(F.col("sequence") != MAX_SEQUENCE)
        .orderBy("master_public_key")
    )
