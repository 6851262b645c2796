"""Driver-checkable queries over the REAL-ledger warehouse.

The strongest correctness evidence in the repo -- the XRPL silver
parsers replayed over the reference's 54 fixture ledgers
(``/root/reference/test/mock/ledgers``, all files incl. the four
later-era escrow/paychan/accounts_created variants the reference's
setup.importLedgers.js readdirSync also imports, the corpus the reference's own
test suite uses, e.g. ``test/exchanges.test.js``) -- was previously
visible only to pytest.  These queries register that layer with the
driver gate: the warehouse is built ONCE per fixture-corpus identity
(path + mtime key, same artifact pattern as the quantization ranges),
the Spark side aggregates the silver tables, and the DuckDB oracle runs
the identical aggregation over the same warehouse parquet via
``read_parquet`` -- real-data driver rows, not only synthetic tables.

The queries take (spark, sf_dir) like every registry entry but read the
fixed real-ledger corpus; sf_dir is ignored by design.
"""

from __future__ import annotations

import glob
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, sql_dsum
from ..plans.registry import register

from ..functions import artifacts

FIXTURE_LEDGERS = "/root/reference/test/mock/ledgers"
ARTIFACT_ROOT = artifacts.ARTIFACT_ROOT

# The ETL code whose behavior the cached warehouse embodies.  Hashing
# these sources into the artifact key means a parser/codec change
# re-triggers the build -- without this, a cached warehouse built by an
# OLD code version keeps validating green (both engines read the same
# stale parquet) and the ETL under test never actually runs.
_ETL_SOURCES = (
    "plans/xrpl_etl.py",
    "operators/xrpl_silver.py",
    "functions/xrpl_binary.py",
    "sources/xrpl.py",
    "sources/sinks.py",
)


def _code_version() -> str:
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.md5()
    for rel in _ETL_SOURCES:
        try:
            with open(os.path.join(pkg, rel), "rb") as f:
                h.update(f.read())
        except OSError:
            h.update(rel.encode())
    return h.hexdigest()[:8]


def _warehouse_key() -> str:
    """Identity of (fixture corpus, ETL code version)."""
    files = sorted(glob.glob(os.path.join(FIXTURE_LEDGERS, "*.json")))
    newest = max((os.stat(p).st_mtime_ns for p in files), default=0)
    ident = f"{FIXTURE_LEDGERS}|{len(files)}|{newest}|{_code_version()}"
    return hashlib.md5(ident.encode()).hexdigest()[:16]


# Frozen at import: the oracle SQL strings below bake this path into the
# registered f-strings, so the Spark side must resolve the SAME path for
# the whole session -- a runtime re-resolve could diverge (fixture mtime
# changing mid-session) and compare the two engines against different
# warehouses.
_WAREHOUSE_DIR = os.path.join(ARTIFACT_ROOT, "xrpl_warehouse", _warehouse_key())


def warehouse_dir() -> str:
    return _WAREHOUSE_DIR


def warehouse_artifact(spark: SparkSession) -> str:
    """Build the full real-data warehouse once; reuse after.  The build
    is the ETL under test (plans/xrpl_etl.py build_warehouse); publish
    is atomic and concurrency-safe (functions/artifacts.py)."""

    def _build(tmp: str) -> None:
        from ..plans.xrpl_etl import build_warehouse

        paths = sorted(glob.glob(os.path.join(FIXTURE_LEDGERS, "*.json")))
        if not paths:
            raise FileNotFoundError(f"no fixture ledgers under {FIXTURE_LEDGERS}")
        build_warehouse(spark, paths, tmp)

    return artifacts.build_once(_WAREHOUSE_DIR, "_BUILT", _build)


def _silver(spark: SparkSession, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(warehouse_artifact(spark), table))


def _pq(table: str) -> str:
    """Oracle-side scan of the same warehouse parquet (recursive glob
    covers the date=... partition dirs)."""
    return f"read_parquet('{os.path.join(warehouse_dir(), table)}/**/*.parquet')"


_PAIR = (
    "base_currency || COALESCE('.' || base_issuer, '') || '/' || "
    "counter_currency || COALESCE('.' || counter_issuer, '')"
)


@register(
    "golden_exchange_pair_stats",
    oracle=f"""
    SELECT {_PAIR} AS pair,
           COUNT(*) AS n_exchanges,
           COUNT(DISTINCT ledger_index) AS n_ledgers,
           {sql_dsum('base_amount')} AS base_volume,
           {sql_dsum('counter_amount')} AS counter_volume
    FROM {_pq('silver_exchanges')}
    GROUP BY 1 ORDER BY 1
    """,
    doc="REAL DATA: per-pair exchange stats over the silver_exchanges "
        "table parsed from the reference's 54 fixture ledgers "
        "(lib/ledgerParser/exchanges.js semantics; the corpus "
        "test/exchanges.test.js:25 asserts 5 USD.rMwj.../XRP exchanges "
        "on).  Decimal-accumulated volumes, engine-exact.",
)
def golden_exchange_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _silver(spark, "silver_exchanges")
    pair = F.concat(
        F.col("base_currency"),
        F.coalesce(F.concat(F.lit("."), F.col("base_issuer")), F.lit("")),
        F.lit("/"),
        F.col("counter_currency"),
        F.coalesce(F.concat(F.lit("."), F.col("counter_issuer")), F.lit("")),
    )
    return (
        ex.groupBy(pair.alias("pair"))
        .agg(
            F.count("*").alias("n_exchanges"),
            F.countDistinct("ledger_index").alias("n_ledgers"),
            dsum("base_amount").alias("base_volume"),
            dsum("counter_amount").alias("counter_volume"),
        )
        .orderBy("pair")
    )


@register(
    "golden_xrp_conservation",
    oracle=f"""
    WITH xrp AS (
        SELECT ledger_index,
               CAST(SUM(CAST(change AS DECIMAL(38,6))) * 1000000 AS BIGINT)
                 AS xrp_net_drops,
               CAST(COALESCE(SUM(CAST(escrow_balance_change
                    AS DECIMAL(38,6))), 0) * 1000000 AS BIGINT)
                 AS escrow_locked_drops,
               CAST(COALESCE(SUM(CAST(CASE WHEN change_type =
                    'paychannel_payout' THEN change END
                    AS DECIMAL(38,6))), 0) * 1000000 AS BIGINT)
                 AS paychan_released_drops
        FROM {_pq('silver_balance_changes')}
        WHERE currency = 'XRP'
        GROUP BY ledger_index
    ),
    fees AS (
        SELECT ledger_index,
               CAST(SUM(fee_drops) AS BIGINT) AS fee_drops_total
        FROM {_pq('silver_transactions')}
        GROUP BY ledger_index
    )
    SELECT x.ledger_index, x.xrp_net_drops, f.fee_drops_total,
           x.escrow_locked_drops, x.paychan_released_drops,
           (x.xrp_net_drops + f.fee_drops_total + x.escrow_locked_drops
            - x.paychan_released_drops = 0) AS is_conserved
    FROM xrp x JOIN fees f ON x.ledger_index = f.ledger_index
    ORDER BY x.ledger_index
    """,
    doc="REAL DATA: XRP conservation per ledger -- net account XRP "
        "deltas + burned fees + escrow-locked XRP - paychannel-released "
        "XRP nets to exactly zero drops (fees burn, transfers cancel, "
        "escrows/channels move XRP between accounts and ledger objects: "
        "lib/ledgerParser/balanceChanges.js fee split + escrow/paychan "
        "rows).  Driver-checkable per-ledger aggregate over the real "
        "warehouse; is_conserved must be TRUE for all 54 fixture "
        "ledgers, including the EscrowCreate and PaymentChannelClaim "
        "ones.",
)
def golden_xrp_conservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    bc = _silver(spark, "silver_balance_changes")
    tx = _silver(spark, "silver_transactions")
    # Integer drops end to end: decimal-exact sums, no float division in
    # either engine's path.
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    xrp = (
        bc.filter(F.col("currency") == "XRP")
        .groupBy("ledger_index")
        .agg(
            (F.sum(dec(F.col("change"))) * 1000000)
            .cast("bigint")
            .alias("xrp_net_drops"),
            (F.coalesce(F.sum(dec(F.col("escrow_balance_change"))), F.lit(0)) * 1000000)
            .cast("bigint")
            .alias("escrow_locked_drops"),
            (
                F.coalesce(
                    F.sum(
                        dec(
                            F.when(
                                F.col("change_type") == "paychannel_payout",
                                F.col("change"),
                            )
                        )
                    ),
                    F.lit(0),
                )
                * 1000000
            )
            .cast("bigint")
            .alias("paychan_released_drops"),
        )
    )
    fees = tx.groupBy("ledger_index").agg(
        F.sum("fee_drops").cast("bigint").alias("fee_drops_total")
    )
    return (
        xrp.join(fees, "ledger_index")
        .select(
            "ledger_index",
            "xrp_net_drops",
            "fee_drops_total",
            "escrow_locked_drops",
            "paychan_released_drops",
            (
                F.col("xrp_net_drops")
                + F.col("fee_drops_total")
                + F.col("escrow_locked_drops")
                - F.col("paychan_released_drops")
                == F.lit(0)
            ).alias("is_conserved"),
        )
        .orderBy("ledger_index")
    )


@register(
    "golden_tx_type_results",
    oracle=f"""
    SELECT tx_type, result,
           COUNT(*) AS n,
           CAST(SUM(fee_drops) AS DOUBLE) AS fee_drops_total
    FROM {_pq('silver_transactions')}
    GROUP BY tx_type, result
    ORDER BY tx_type, result
    """,
    doc="REAL DATA: transaction mix by (type, result) with exact "
        "decimal fee totals over silver_transactions -- the network "
        "stats breakdown (lib/aggregation/stats.js type/result "
        "counters) sourced from real ledgers.",
)
def golden_tx_type_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = _silver(spark, "silver_transactions")
    return (
        tx.groupBy("tx_type", "result")
        .agg(
            F.count("*").alias("n"),
            F.sum("fee_drops").cast("double").alias("fee_drops_total"),
        )
        .orderBy("tx_type", "result")
    )


@register(
    "golden_escrow_paychan_lifecycle",
    rotation_group=3,  # round-5 addition: queue behind round-4's first-row queue
    oracle=f"""
    SELECT b.change_type, t.tx_type, t.result,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(b.change AS DECIMAL(38,6))) * 1000000 AS BIGINT)
             AS net_change_drops,
           CAST(COALESCE(SUM(CAST(b.escrow_balance_change
                AS DECIMAL(38,6))), 0) * 1000000 AS BIGINT)
             AS escrow_locked_drops,
           COUNT(DISTINCT b.escrow_counterparty) AS n_counterparties
    FROM {_pq('silver_balance_changes')} b
    JOIN {_pq('silver_transactions')} t ON b.tx_hash = t.tx_hash
    WHERE b.change_type IN ('escrow_create', 'escrow_cancel',
                            'escrow_finish', 'paychannel_fund',
                            'paychannel_payout')
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    doc="REAL DATA: escrow / payment-channel lifecycle rows joined back "
        "to their transactions -- the one silver family that previously "
        "had no real-data driver row.  The reference's later-era "
        "fixtures exercise these paths (test/mock/ledgers/29136413 "
        "EscrowCreate locks 100 XRP; 29709909 PaymentChannelClaim "
        "releases 0.223509 XRP twice -- lib/ledgerParser/"
        "balanceChanges.js:276-340 escrow/paychan classification, "
        "test/setup.importLedgers.js corpus).  Integer-drops decimal "
        "sums keep both engines bit-exact.",
)
def golden_escrow_paychan_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    bc = _silver(spark, "silver_balance_changes")
    tx = _silver(spark, "silver_transactions").select("tx_hash", "tx_type", "result")
    dec = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    lifecycle = bc.filter(
        F.col("change_type").isin(
            "escrow_create",
            "escrow_cancel",
            "escrow_finish",
            "paychannel_fund",
            "paychannel_payout",
        )
    )
    return (
        lifecycle.join(tx, "tx_hash")
        .groupBy("change_type", "tx_type", "result")
        .agg(
            F.count("*").alias("n_rows"),
            (F.sum(dec(F.col("change"))) * 1000000)
            .cast("bigint")
            .alias("net_change_drops"),
            (
                F.coalesce(
                    F.sum(dec(F.col("escrow_balance_change"))), F.lit(0)
                )
                * 1000000
            )
            .cast("bigint")
            .alias("escrow_locked_drops"),
            F.countDistinct("escrow_counterparty").alias("n_counterparties"),
        )
        .orderBy("change_type", "tx_type", "result")
    )


@register(
    "golden_payment_currency_stats",
    rotation_group=5,  # round-6 addition: queue behind earlier first-row queues
    oracle=f"""
    SELECT currency || COALESCE('.' || issuer, '') AS currency_key,
           COUNT(*) AS n_payments,
           COUNT(DISTINCT source) AS n_senders,
           COUNT(DISTINCT destination) AS n_receivers,
           CAST(COUNT(CASE WHEN destination_tag IS NOT NULL THEN 1 END)
                AS BIGINT) AS n_dest_tagged,
           {sql_dsum('delivered_amount')} AS delivered_total
    FROM {_pq('silver_payments')}
    GROUP BY 1 ORDER BY 1
    """,
    doc="REAL DATA: per-currency payment stats over silver_payments "
        "parsed from the 54 fixture ledgers (lib/ledgerParser/"
        "payment.js semantics).  The reference's mocha suite pins this "
        "table's totals: 182 payments corpus-wide (test.payments.js:26), "
        "8 with destination_tag 223051 (test.account.payments.js:95), 1 "
        "with source_tag 1848687941 (:117), and tx 22F26CE4... "
        "delivering exactly 300 XRP (test.transactions.js:26) -- all "
        "re-asserted in tests/test_xrpl_golden.py; this query gives the "
        "family a per-round driver row.",
)
def golden_payment_currency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _silver(spark, "silver_payments")
    key = F.concat(
        F.col("currency"),
        F.coalesce(F.concat(F.lit("."), F.col("issuer")), F.lit("")),
    )
    return (
        p.groupBy(key.alias("currency_key"))
        .agg(
            F.count("*").alias("n_payments"),
            F.countDistinct("source").alias("n_senders"),
            F.countDistinct("destination").alias("n_receivers"),
            F.count(F.when(F.col("destination_tag").isNotNull(), 1))
            .cast("bigint")
            .alias("n_dest_tagged"),
            dsum("delivered_amount").alias("delivered_total"),
        )
        .orderBy("currency_key")
    )


# Mid-corpus as-of point for the snapshot-table driver row: inside the
# fixture corpus's ledger range, mid-day, so both the checkpoint branch
# (prior days) and the same-day tail branch carry rows.
ASOF_LEDGER = 11119610


@register(
    "golden_balance_snapshot_asof",
    rotation_group=7,
    oracle=f"""
    SELECT account, currency, COALESCE(counterparty, '') AS counterparty,
           arg_max(final_balance,
                   (ledger_index * 100000 + tx_index) * 100000
                   + node_index + 1) AS balance,
           MAX(ledger_index) AS last_change_ledger
    FROM {_pq('silver_balance_changes')}
    WHERE ledger_index <= {ASOF_LEDGER}
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    doc="REAL DATA: every account's point-in-time balances as of a "
        f"mid-corpus ledger ({ASOF_LEDGER}), answered from the "
        "gold_balance_snapshots daily-checkpoint table plus a same-day "
        "tail replay (plans/xrpl_etl.py asof_balances_via_snapshot -- "
        "query cost bounded by the gold table + ONE date partition of "
        "the change stream, vs the reference proxying accountBalances "
        "to a live rippled node, accountBalances.js:93-127).  The "
        "oracle is the O(history) full replay over the raw silver "
        "stream, so every driver row re-proves snapshot+tail == "
        "replay.",
)
def golden_balance_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.xrpl_etl import asof_balances_via_snapshot

    return (
        asof_balances_via_snapshot(
            spark, warehouse_artifact(spark), ASOF_LEDGER
        )
        .orderBy("account", "currency", "counterparty")
    )


@register(
    "golden_open_offers_asof",
    rotation_group=8,
    oracle=f"""
    WITH ev AS (
        SELECT owner, offer_sequence,
               (ledger_index * 100000 + tx_index) * 100000 + node_index AS k,
               change_type, node_type, pays_currency, pays_issuer,
               pays_value, gets_currency, gets_issuer, gets_value, rate,
               ledger_index, expiration
        FROM {_pq('silver_offers')}
        WHERE ledger_index <= {ASOF_LEDGER}
    ),
    last AS (
        SELECT owner, offer_sequence, MAX(k) AS k FROM ev GROUP BY 1, 2
    )
    SELECT ev.owner, ev.offer_sequence, ev.change_type, ev.pays_currency,
           ev.pays_issuer, ev.pays_value, ev.gets_currency, ev.gets_issuer,
           ev.gets_value, ev.rate, ev.ledger_index,
           CAST(ev.expiration AS TIMESTAMP) AS expiration
    FROM ev JOIN last USING (owner, offer_sequence, k)
    WHERE ev.node_type != 'DeletedNode'  -- ledger-state existence, not
          -- the change_type label: an unfunded partial-fill DELETION
          -- (or a zero-change fall-through) still leaves the book
      AND ev.pays_value > 0
    ORDER BY ev.owner, ev.offer_sequence
    """,
    doc="REAL DATA: every account's open offers as of a mid-corpus "
        f"ledger ({ASOF_LEDGER}), answered from the gold_open_offers "
        "daily-checkpoint table plus a same-day tail replay "
        "(plans/xrpl_etl.py asof_open_offers_via_snapshot -- query "
        "cost bounded by the gold table + at most ONE date partition "
        "of the offer stream, vs the reference proxying accountOrders "
        "to a live rippled node, accountOrders.js:82-114).  The oracle "
        "is the O(history) full replay over the raw silver offer "
        "events, NULL-safe via max-key join-back (arg_max would drop "
        "rows whose winning payload column is NULL, e.g. XRP issuers), "
        "so every driver row re-proves snapshot+tail == replay.",
)
def golden_open_offers_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.xrpl_etl import asof_open_offers_via_snapshot

    return asof_open_offers_via_snapshot(
        spark, warehouse_artifact(spark), None, ASOF_LEDGER
    )


@register(
    "golden_escrow_rows",
    rotation_group=9,
    oracle=f"""
    SELECT tx_type,
           COUNT(*) AS n_rows,
           {sql_dsum('amount')} AS amount_total,
           {sql_dsum('fee')} AS fee_total,
           COUNT(DISTINCT owner) AS n_owners,
           COUNT(DISTINCT destination) AS n_destinations,
           COUNT(condition) AS n_conditional,
           COUNT(finish_after) AS n_time_locked,
           MIN(ledger_index) AS first_ledger,
           MAX(ledger_index) AS last_ledger
    FROM {_pq('silver_escrows')}
    GROUP BY 1 ORDER BY 1
    """,
    doc="REAL DATA: per-tx_type stats over silver_escrows -- the full "
        "escrow parser output (ledgerParser/escrow.js:23-73 incl. the "
        "deleted-node fallback), new in round 10 alongside the "
        "accountEscrows serving route.  The fixture's one escrow "
        "(ledger 29136413: EscrowCreate locking 100 XRP, "
        "test.escrows.js's single expected row) makes every column an "
        "exact pin; the mocha counts and a pure-Python escrow.js "
        "replay pin the same table field-by-field in "
        "tests/test_account_escrows_pins.py -- this query gives the "
        "family a per-round driver row.",
)
def golden_escrow_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _silver(spark, "silver_escrows")
    return (
        e.groupBy("tx_type")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("amount").alias("amount_total"),
            dsum("fee").alias("fee_total"),
            F.countDistinct("owner").alias("n_owners"),
            F.countDistinct("destination").alias("n_destinations"),
            F.count("condition").alias("n_conditional"),
            F.count("finish_after").alias("n_time_locked"),
            F.min("ledger_index").alias("first_ledger"),
            F.max("ledger_index").alias("last_ledger"),
        )
        .orderBy("tx_type")
    )


@register(
    "golden_paychan_rows",
    rotation_group=9,
    oracle=f"""
    SELECT tx_type, channel,
           COUNT(*) AS n_rows,
           {sql_dsum('amount')} AS amount_total,
           {sql_dsum('balance')} AS balance_total,
           CAST(MAX(CAST(balance AS DECIMAL(38,6)))
                - MIN(CAST(balance AS DECIMAL(38,6))) AS DOUBLE)
             AS balance_released,
           COUNT(DISTINCT source) AS n_sources,
           COUNT(DISTINCT destination) AS n_destinations,
           COUNT(DISTINCT pubkey) AS n_pubkeys
    FROM {_pq('silver_payment_channels')}
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="REAL DATA: per-(tx_type, channel) stats over "
        "silver_payment_channels (ledgerParser/paychan.js:26-81), new "
        "in round 10 alongside the accountPaymentChannels serving "
        "route.  The fixture's two PaymentChannelClaim rows share one "
        "channel; balance_released pins the 0.223509-XRP claim delta "
        "(8.806247 -> 9.029756) the lifecycle golden cites, and the "
        "mocha counts + a pure-Python paychan.js replay pin the table "
        "field-by-field in tests/test_account_paychan_pins.py.",
)
def golden_paychan_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _silver(spark, "silver_payment_channels")
    dec = lambda c: F.col(c).cast("decimal(38,6)")  # noqa: E731
    return (
        p.groupBy("tx_type", "channel")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("amount").alias("amount_total"),
            dsum("balance").alias("balance_total"),
            (F.max(dec("balance")) - F.min(dec("balance")))
            .cast("double")
            .alias("balance_released"),
            F.countDistinct("source").alias("n_sources"),
            F.countDistinct("destination").alias("n_destinations"),
            F.countDistinct("pubkey").alias("n_pubkeys"),
        )
        .orderBy("tx_type", "channel")
    )


@register(
    "golden_account_reports_counts",
    rotation_group=9,
    oracle=f"""
    WITH sides AS (
        SELECT CAST(DATE_TRUNC('day', executed_time) AS TIMESTAMP) AS date,
               source AS account, 1 AS n_sent, 0 AS n_recv,
               destination AS rcp, NULL AS scp,
               CASE WHEN currency = 'XRP' THEN delivered_amount END
                 AS xrp_sent,
               CAST(NULL AS DOUBLE) AS xrp_recv
        FROM {_pq('silver_payments')}
        UNION ALL
        SELECT CAST(DATE_TRUNC('day', executed_time) AS TIMESTAMP),
               destination, 0, 1, NULL, source,
               CAST(NULL AS DOUBLE),
               CASE WHEN currency = 'XRP' THEN delivered_amount END
        FROM {_pq('silver_payments')}
    )
    SELECT date, account,
           CAST(SUM(n_sent) AS BIGINT) AS payments_sent,
           CAST(SUM(n_recv) AS BIGINT) AS payments_received,
           COUNT(DISTINCT rcp) AS receiving_counterparties,
           COUNT(DISTINCT scp) AS sending_counterparties,
           {sql_dsum('xrp_sent')} AS xrp_value_sent,
           {sql_dsum('xrp_recv')} AS xrp_value_received
    FROM sides GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="REAL DATA: the accountPayments aggregation's rate-free core "
        "(lib/aggregation/accountPayments.js:222-280 adjust()) over "
        "every account in the warehouse -- per-(day, account) sent/"
        "received counts, distinct counterparty counts, and the XRP "
        "legs' exact value sums (the IOU legs' normalization routes "
        "through the exchange-rate operator and is pinned by the "
        "route-level mocha replays, tests/test_account_reports_pins"
        ".py).  One two-perspective union + one aggregation -- the "
        "reference's per-payment mutable-bucket daemon collapses into "
        "a groupBy whose partial aggregates merge associatively.",
)
def golden_account_reports_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    p = _silver(spark, "silver_payments")
    day = F.date_trunc("day", "executed_time").alias("date")
    xrp = F.when(F.col("currency") == "XRP", F.col("delivered_amount"))
    sent = p.select(
        day, F.col("source").alias("account"),
        F.lit(1).alias("n_sent"), F.lit(0).alias("n_recv"),
        F.col("destination").alias("rcp"),
        F.lit(None).cast("string").alias("scp"),
        xrp.alias("xrp_sent"),
        F.lit(None).cast("double").alias("xrp_recv"),
    )
    recv = p.select(
        day, F.col("destination").alias("account"),
        F.lit(0).alias("n_sent"), F.lit(1).alias("n_recv"),
        F.lit(None).cast("string").alias("rcp"),
        F.col("source").alias("scp"),
        F.lit(None).cast("double").alias("xrp_sent"),
        xrp.alias("xrp_recv"),
    )
    return (
        sent.unionByName(recv)
        .groupBy("date", "account")
        .agg(
            F.sum("n_sent").cast("bigint").alias("payments_sent"),
            F.sum("n_recv").cast("bigint").alias("payments_received"),
            F.countDistinct("rcp").alias("receiving_counterparties"),
            F.countDistinct("scp").alias("sending_counterparties"),
            dsum("xrp_sent").alias("xrp_value_sent"),
            dsum("xrp_recv").alias("xrp_value_received"),
        )
        .orderBy("date", "account")
    )


@register(
    "golden_account_stats_daily",
    rotation_group=11,
    oracle=f"""
    WITH base AS (
        SELECT account,
               CAST(DATE_TRUNC('day', executed_time) AS TIMESTAMP) AS date,
               tx_type, result
        FROM {_pq('silver_transactions')}
    )
    SELECT date, account, dim, key, n FROM (
        SELECT date, account, 'type' AS dim, tx_type AS key,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY 1, 2, 4
        UNION ALL
        SELECT date, account, 'result', result, CAST(COUNT(*) AS BIGINT)
        FROM base GROUP BY 1, 2, 4
        UNION ALL
        SELECT date, account, 'total', 'transactions',
               CAST(COUNT(*) AS BIGINT)
        FROM base GROUP BY 1, 2
    )
    ORDER BY date, account, dim, key
    """,
    doc="REAL DATA: the agg_account_stats transactions family over "
        "every account in the warehouse -- per (day, account) the "
        "total transaction count plus per-type and per-result counts "
        "(the long form of the maps build_account_stats writes and "
        "GET /v2/accounts/{address}/stats/transactions serves; the "
        "reference's writer is its external aggregation pipeline, "
        "semantics reconstructed from test.account.stats.js:20-40's "
        "seeded columns).  One scan of silver_transactions, three "
        "map-side-combinable aggregations.",
)
def golden_account_stats_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tx = _silver(spark, "silver_transactions")
    base = tx.select(
        "account",
        F.date_trunc("day", "executed_time").alias("date"),
        "tx_type",
        "result",
    )

    def _counts(col, dim: str) -> DataFrame:
        return base.groupBy("date", "account", F.col(col).alias("key")).agg(
            F.count("*").cast("bigint").alias("n")
        ).select("date", "account", F.lit(dim).alias("dim"), "key", "n")

    totals = base.groupBy("date", "account").agg(
        F.count("*").cast("bigint").alias("n")
    ).select(
        "date", "account", F.lit("total").alias("dim"),
        F.lit("transactions").alias("key"), "n",
    )
    return (
        _counts("tx_type", "type")
        .unionByName(_counts("result", "result"))
        .unionByName(totals)
        .orderBy("date", "account", "dim", "key")
    )


@register(
    "golden_account_value_daily",
    rotation_group=11,
    oracle=f"""
    SELECT CAST(DATE_TRUNC('day', executed_time) AS TIMESTAMP) AS date,
           account,
           CAST(COUNT(*) AS BIGINT) AS balance_change_count,
           {sql_dsum("CASE WHEN currency = 'XRP' THEN ABS(change) END")}
             AS xrp_abs_value
    FROM {_pq('silver_balance_changes')}
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="REAL DATA: the agg_account_balance_changes value family's "
        "exactly-computable core -- per (day, account) the balance-"
        "change count and the |XRP change| decimal sum (the engine's "
        "documented stand-in for the external pipeline's account_value "
        "metric, whose formula is not in the reference repo; the "
        "serving route passes account_value through opaquely and the "
        "mocha pins seed the reference's own mock values).  One keyed "
        "aggregation over silver_balance_changes.",
)
def golden_account_value_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    bc = _silver(spark, "silver_balance_changes")
    return (
        bc.groupBy(
            F.date_trunc("day", "executed_time").alias("date"), "account"
        )
        .agg(
            F.count("*").cast("bigint").alias("balance_change_count"),
            dsum(
                F.when(F.col("currency") == "XRP", F.abs(F.col("change")))
            ).alias("xrp_abs_value"),
        )
        .select(
            "date", "account", "balance_change_count", "xrp_abs_value"
        )
        .orderBy("date", "account")
    )
