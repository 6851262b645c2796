"""Offer lifecycle, escrow, and payment-channel event parsers.

Reference:
  * ``lib/ledgerParser/offers.js:6-182`` -- every Offer node becomes an
    offer-change event; ``:145-174`` is a seven-way decision table over
    (tx type, node type, remaining amounts): create, partial_fill,
    cancel, replace, fill, unfunded_cancel, unfunded_partial_fill.
  * ``lib/ledgerParser/escrow.js:23-73`` -- EscrowCreate/Cancel/Finish
    events with epoch-adjusted cancel_after/finish_after.
  * ``lib/ledgerParser/paychan.js:26-79`` -- PaymentChannelCreate/Fund/
    Claim events.

All pure per-row functions -> when-chains and projections (no UDFs).
Synthetic mapping: tx/node types and amounts are derived from event
columns with deterministic arithmetic so the decision table is exercised
on every branch and verified against the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.catalog import SQL_COUNTERPARTY, counterparty, load_table

# Synthetic node/tx type derivation (shared Spark + SQL).
SQL_NODE_TYPE = """
    CASE CAST(props->>'k' AS BIGINT) % 3
      WHEN 0 THEN 'CreatedNode' WHEN 1 THEN 'ModifiedNode'
      ELSE 'DeletedNode' END
"""
SQL_TX_TYPE = """
    CASE event_type WHEN 'purchase' THEN 'OfferCreate'
                    WHEN 'click' THEN 'OfferCancel'
                    ELSE 'Payment' END
"""
SQL_REMAINING = "CASE WHEN event_id % 4 = 0 THEN 0.0 ELSE value END"


def _k() -> Column:
    return F.get_json_object("props", "$.k").cast("bigint")


def _node_type() -> Column:
    k = _k() % 3
    return (
        F.when(k == 0, "CreatedNode").when(k == 1, "ModifiedNode").otherwise("DeletedNode")
    )


def _tx_type() -> Column:
    return (
        F.when(F.col("event_type") == "purchase", "OfferCreate")
        .when(F.col("event_type") == "click", "OfferCancel")
        .otherwise("Payment")
    )


@register(
    "parse_offers_lifecycle",
    oracle=f"""
    WITH o AS (
        SELECT event_id, ts, user_id AS account, value,
               {SQL_NODE_TYPE} AS node_type,
               {SQL_TX_TYPE} AS tx_type,
               {SQL_REMAINING} AS remaining
        FROM events
        WHERE event_type IN ('purchase', 'click', 'view')
    )
    SELECT event_id, ts, account, tx_type, node_type, remaining,
           CASE
             WHEN node_type = 'CreatedNode' THEN 'create'
             WHEN node_type = 'ModifiedNode' THEN 'partial_fill'
             WHEN tx_type = 'OfferCancel' THEN 'cancel'
             WHEN tx_type = 'OfferCreate' AND remaining > 0 THEN 'replace'
             WHEN tx_type = 'OfferCreate' THEN 'fill'
             WHEN remaining > 0 THEN 'unfunded_partial_fill'
             ELSE 'unfunded_cancel'
           END AS change_type
    FROM o
    ORDER BY event_id
    """,
    doc="Offer change-type decision table (ledgerParser/offers.js:145-174: "
        "create / partial_fill / cancel / replace / fill / unfunded_cancel "
        "/ unfunded_partial_fill) as a when-cascade over (tx type, node "
        "type, remaining amount) -- branch order preserved exactly.",
)
def parse_offers_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click", "view")
    )
    remaining = F.when(F.col("event_id") % 4 == 0, F.lit(0.0)).otherwise(F.col("value"))
    o = e.select(
        "event_id", "ts",
        F.col("user_id").alias("account"),
        "value",
        _node_type().alias("node_type"),
        _tx_type().alias("tx_type"),
        remaining.alias("remaining"),
    )
    change = (
        F.when(F.col("node_type") == "CreatedNode", "create")
        .when(F.col("node_type") == "ModifiedNode", "partial_fill")
        .when(F.col("tx_type") == "OfferCancel", "cancel")
        .when((F.col("tx_type") == "OfferCreate") & (F.col("remaining") > 0), "replace")
        .when(F.col("tx_type") == "OfferCreate", "fill")
        .when(F.col("remaining") > 0, "unfunded_partial_fill")
        .otherwise("unfunded_cancel")
    )
    return (
        o.select(
            "event_id", "ts", "account", "tx_type", "node_type", "remaining",
            change.alias("change_type"),
        )
        .orderBy("event_id")
    )


@register(
    "parse_escrows",
    oracle=f"""
    SELECT event_id, ts AS executed_time,
           user_id AS account,
           {SQL_COUNTERPARTY} AS destination,
           CASE CAST(props->>'k' AS BIGINT) % 3
             WHEN 0 THEN 'EscrowCreate' WHEN 1 THEN 'EscrowFinish'
             ELSE 'EscrowCancel' END AS tx_type,
           value AS amount,
           ts + INTERVAL 1 DAY * (CAST(props->>'k' AS BIGINT) % 30 + 1)
             AS cancel_after
    FROM events WHERE event_type = 'error'
    ORDER BY event_id
    """,
    doc="Escrow events (ledgerParser/escrow.js:23-73): Create/Finish/"
        "Cancel rows with the epoch-adjusted cancel_after deadline -- "
        "filter + projection + interval arithmetic.",
)
def parse_escrows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    k = _k()
    tx = (
        F.when(k % 3 == 0, "EscrowCreate")
        .when(k % 3 == 1, "EscrowFinish")
        .otherwise("EscrowCancel")
    )
    days = (k % 30 + 1).cast("int")
    return (
        e.select(
            "event_id",
            F.col("ts").alias("executed_time"),
            F.col("user_id").alias("account"),
            counterparty().alias("destination"),
            tx.alias("tx_type"),
            F.col("value").alias("amount"),
            (F.col("ts") + days * F.expr("INTERVAL 1 DAY")).alias("cancel_after"),
        )
        .orderBy("event_id")
    )


@register(
    "parse_payment_channels",
    oracle=f"""
    WITH pc AS (
        SELECT event_id, ts, user_id, value,
               CASE CAST(props->>'k' AS BIGINT) % 3
                 WHEN 0 THEN 'PaymentChannelCreate'
                 WHEN 1 THEN 'PaymentChannelFund'
                 ELSE 'PaymentChannelClaim' END AS tx_type,
               md5(CAST(user_id AS VARCHAR) || ':' ||
                   CAST({SQL_COUNTERPARTY} AS VARCHAR)) AS channel
        FROM events WHERE event_type = 'signup'
    )
    SELECT channel, tx_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_amount,
           MAX(ts) AS last_activity
    FROM pc GROUP BY channel, tx_type
    ORDER BY channel, tx_type
    """,
    doc="Payment-channel events (ledgerParser/paychan.js:26-79): channel "
        "id derived from the (source, destination) pair, Create/Fund/Claim "
        "typed rows, rolled per channel -- the paychan table and its "
        "per-channel query path in one plan.",
)
def parse_payment_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import dsum

    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    k = _k()
    tx = (
        F.when(k % 3 == 0, "PaymentChannelCreate")
        .when(k % 3 == 1, "PaymentChannelFund")
        .otherwise("PaymentChannelClaim")
    )
    dest = counterparty()
    channel = F.md5(
        F.concat(
            F.col("user_id").cast("string"), F.lit(":"), dest.cast("string")
        ).cast("binary")
    )
    return (
        e.select("event_id", "ts", "value", tx.alias("tx_type"), channel.alias("channel"))
        .groupBy("channel", "tx_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_amount"),
            F.max("ts").alias("last_activity"),
        )
        .orderBy("channel", "tx_type")
    )
