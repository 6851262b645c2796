"""The parser layer: row-level transforms that fan one transaction into
derived event rows (SURVEY.md section 2.8 -- the reference's real
business logic, ``lib/ledgerParser/*.js``).

All of these are pure functions of one input row, so they compile to
native column expressions (when-chains, JSON extraction, encode/decode,
unions of projections) that stay inside whole-stage codegen -- zero
Python UDFs (SURVEY.md 2.10 design rule).  Synthetic-table mapping:
``events`` rows play transactions; ``props`` (a JSON string) plays the
parsed metadata blob; ``documents.text`` plays memo payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localrel import local_df
from ..plans.registry import register
from ..sources.catalog import SQL_COUNTERPARTY, counterparty, load_table

# delivered_amount display rule cutoff (data.js:2086-2107 uses ledger
# 4594094; scaled to the synthetic id space). Encoded as data, not a
# comment (SURVEY.md 7.8).
PARTIAL_PAYMENT_CUTOFF_ID = 500


@register(
    "parse_props_classifier",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(props->>'k' AS BIGINT) AS k,
           CASE
             WHEN event_type = 'signup' THEN 'account_created'
             WHEN event_type = 'purchase' AND CAST(props->>'k' AS BIGINT) = 0
               THEN 'fee'
             WHEN event_type = 'purchase' AND CAST(props->>'k' AS BIGINT) % 2 = 0
               THEN 'payment_source'
             WHEN event_type = 'purchase' THEN 'payment_destination'
             WHEN event_type = 'click' AND value > 100 THEN 'exchange'
             WHEN event_type IN ('click', 'view') THEN 'intermediary'
             ELSE NULL
           END AS change_type
    FROM events
    ORDER BY event_id
    """,
    doc="balanceChanges change-type classifier (ledgerParser/"
        "balanceChanges.js:23-93, a 9-branch type inference) as a when-"
        "chain over JSON-extracted metadata; props JSON parsed natively "
        "(get_json_object), no stringify round-trip.",
)
def parse_props_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.select(
            "event_id", "user_id", "event_type", k.alias("k"),
            F.when(F.col("event_type") == "signup", "account_created")
            .when((F.col("event_type") == "purchase") & (k == 0), "fee")
            .when((F.col("event_type") == "purchase") & (k % 2 == 0), "payment_source")
            .when(F.col("event_type") == "purchase", "payment_destination")
            .when((F.col("event_type") == "click") & (F.col("value") > 100), "exchange")
            .when(F.col("event_type").isin("click", "view"), "intermediary")
            .alias("change_type"),
        )
        .orderBy("event_id")
    )


@register(
    "parse_memo_decode",
    oracle="""
    WITH encoded AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN hex(encode(substr(text, 1, 40)))
                    ELSE base64(encode(substr(text, 1, 40))) END AS memo_data
        FROM documents
    )
    SELECT doc_id, memo_data,
           CASE WHEN regexp_full_match(memo_data, '^(?:[0-9A-F]{2})+$') THEN 'hex'
                WHEN regexp_full_match(memo_data,
                     '^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$')
                  THEN 'base64'
                ELSE NULL END AS data_encoding,
           CASE WHEN regexp_full_match(memo_data, '^(?:[0-9A-F]{2})+$')
                  THEN decode(unhex(memo_data))
                WHEN regexp_full_match(memo_data,
                     '^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$')
                  THEN decode(from_base64(memo_data))
                ELSE NULL END AS decoded_data
    FROM encoded
    ORDER BY doc_id
    """,
    doc="Memo hex/base64 detection + UTF-8 decode (ledgerParser/memos.js:"
        "5-116): regex encoding detection with the same branch order as the "
        "reference (hex wins over base64), native unhex/unbase64 -- no UDF.",
)
def parse_memo_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    payload = F.substring("text", 1, 40)
    memo = F.when(
        F.col("doc_id") % 2 == 0, F.hex(payload.cast("binary"))
    ).otherwise(F.base64(payload.cast("binary")))
    hex_re = "^(?:[0-9A-F]{2})+$"
    b64_re = "^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"
    enc = d.select("doc_id", memo.alias("memo_data"))
    is_hex = F.col("memo_data").rlike(hex_re)
    is_b64 = F.col("memo_data").rlike(b64_re)
    return (
        enc.select(
            "doc_id",
            "memo_data",
            F.when(is_hex, "hex").when(is_b64, "base64").alias("data_encoding"),
            F.when(is_hex, F.decode(F.unhex(F.col("memo_data")), "UTF-8"))
            .when(is_b64, F.decode(F.unbase64(F.col("memo_data")), "UTF-8"))
            .alias("decoded_data"),
        )
        .orderBy("doc_id")
    )


@register(
    "parse_delivered_amount",
    oracle=f"""
    SELECT event_id, event_type, value,
           CASE
             WHEN event_type <> 'purchase' THEN NULL
             WHEN CAST(props->>'k' AS BIGINT) > 50 THEN value
             WHEN event_id > {PARTIAL_PAYMENT_CUTOFF_ID} THEN value
             ELSE NULL
           END AS delivered_amount,
           CASE
             WHEN event_type = 'purchase' AND CAST(props->>'k' AS BIGINT) <= 50
                  AND event_id <= {PARTIAL_PAYMENT_CUTOFF_ID}
               THEN 'unavailable' END AS delivered_note
    FROM events
    ORDER BY event_id
    """,
    doc="delivered_amount display rule with the historical ledger cutoff "
        "(DeliveredAmount || Amount if not partial || Amount if ledger > "
        "4594094 || 'unavailable'; data.js:2066-2107) as a when-chain with "
        "the cutoff encoded as a named constant.",
)
def parse_delivered_amount(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    is_pay = F.col("event_type") == "purchase"
    return (
        e.select(
            "event_id", "event_type", "value",
            F.when(~is_pay, F.lit(None).cast("double"))
            .when(k > 50, F.col("value"))
            .when(F.col("event_id") > PARTIAL_PAYMENT_CUTOFF_ID, F.col("value"))
            .alias("delivered_amount"),
            F.when(
                is_pay & (k <= 50) & (F.col("event_id") <= PARTIAL_PAYMENT_CUTOFF_ID),
                "unavailable",
            ).alias("delivered_note"),
        )
        .orderBy("event_id")
    )


@register(
    "parse_pair_canonical",
    oracle="""
    WITH raw AS (
        SELECT event_id,
               event_type AS base,
               'm' || CAST(user_id % 3 AS VARCHAR) AS counter,
               1 + user_id / 100.0 AS rate
        FROM events WHERE event_type IN ('purchase', 'view')
    )
    SELECT event_id,
           LEAST(base, counter) AS base,
           GREATEST(base, counter) AS counter,
           CASE WHEN base <= counter THEN rate ELSE 1.0 / rate END AS rate,
           base > counter AS inverted
    FROM raw
    ORDER BY event_id
    """,
    doc="Canonical pair ordering + inversion algebra (ledgerParser/"
        "exchanges.js:180-199 parser side; data.js:1480-1524 query side): "
        "pair stored in lexicographic order, inverted pairs get rate -> "
        "1/rate. Property: query(A/B) == invert(query(B/A)).",
)
def parse_pair_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    raw = e.select(
        "event_id",
        F.col("event_type").alias("base"),
        F.concat(F.lit("m"), (F.col("user_id") % 3).cast("string")).alias("counter"),
        (F.lit(1) + F.col("user_id") / 100.0).alias("rate"),
    )
    swapped = F.col("base") > F.col("counter")
    return (
        raw.select(
            "event_id",
            F.least("base", "counter").alias("base"),
            F.greatest("base", "counter").alias("counter"),
            F.when(~swapped, F.col("rate")).otherwise(1.0 / F.col("rate")).alias("rate"),
            swapped.alias("inverted"),
        )
        .orderBy("event_id")
    )


@register(
    "parse_quality_decode",
    oracle="""
    SELECT doc_id,
           substr(md5(text), 1, 12) AS quality_hex,
           CAST(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) AS DOUBLE)
             * (CASE WHEN CAST(CAST('0x' || substr(md5(text), 13, 1) AS BIGINT)
                          AS INT) % 2 = 0
                     THEN 1e-6 ELSE 1e-7 END) AS quality
    FROM documents
    ORDER BY doc_id
    """,
    doc="BookDirectory quality decode (ledgerParser/quality.js:5-21: last "
        "16 hex chars -> mantissa * 10^(offset-100), XRP shift): hex "
        "mantissa via conv()/hex-cast arithmetic, scale via a literal "
        "lookup -- column expressions, not a UDF (SURVEY.md 2.10).",
)
def parse_quality_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text").cast("binary"))
    mantissa = F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint").cast("double")
    exp_nibble = F.conv(F.substring(h, 13, 1), 16, 10).cast("int")
    scale = F.when(exp_nibble % 2 == 0, F.lit(1e-6)).otherwise(F.lit(1e-7))
    return (
        d.select(
            "doc_id",
            F.substring(h, 1, 12).alias("quality_hex"),
            (mantissa * scale).alias("quality"),
        )
        .orderBy("doc_id")
    )


@register(
    "parse_time_roundtrip",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y%m%d%H%M%S') AS rowkey_time,
           strptime(strftime(ts, '%Y%m%d%H%M%S'), '%Y%m%d%H%M%S') AS reparsed
    FROM events
    WHERE event_id < 100
    ORDER BY event_id
    """,
    doc="smoment time format/unformat (lib/smoment.js:14-64, utils.js:9-33): "
        "the YYYYMMDDHHmmss rowkey time format as date_format/to_timestamp "
        "round trip -- the rowkey encoding survives only at the API edge.",
)
def parse_time_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    fmt = F.date_format("ts", "yyyyMMddHHmmss")
    return (
        e.select(
            "event_id",
            fmt.alias("rowkey_time"),
            F.to_timestamp(fmt, "yyyyMMddHHmmss").alias("reparsed"),
        )
        .orderBy("event_id")
    )


@register(
    "parse_balance_mirror",
    oracle=f"""
    WITH pay AS (
        SELECT event_id, ts, user_id,
               {SQL_COUNTERPARTY} AS counterparty,
               value, value * 0.001 AS fee
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id AS account, counterparty,
           -value AS amount_change, 'payment_source' AS change_type,
           0 AS node_index, event_id, ts
    FROM pay
    UNION ALL
    SELECT counterparty, user_id, value, 'payment_destination', 1, event_id, ts
    FROM pay
    UNION ALL
    SELECT user_id, NULL, -fee, 'fee', -1, event_id, ts
    FROM pay
    ORDER BY event_id, node_index
    """,
    doc="balanceChanges mirrored rows + fee split (ledgerParser/"
        "balanceChanges.js:114-167: AccountRoot fee split out as a separate "
        "type='fee' row with node_index=-1; RippleState nodes emit two "
        "mirrored negated rows): union of three projections over one scan. "
        "Invariant: sum(amount_change) per tx = -fee (FIXTURES.md 5.4).",
)
def parse_balance_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    pay = e.select(
        "event_id", "ts", "user_id",
        counterparty().alias("counterparty"),
        "value",
        (F.col("value") * 0.001).alias("fee"),
    )
    src = pay.select(
        F.col("user_id").alias("account"),
        F.col("counterparty"),
        (-F.col("value")).alias("amount_change"),
        F.lit("payment_source").alias("change_type"),
        F.lit(0).alias("node_index"),
        "event_id", "ts",
    )
    dst = pay.select(
        F.col("counterparty").alias("account"),
        F.col("user_id").alias("counterparty"),
        F.col("value").alias("amount_change"),
        F.lit("payment_destination").alias("change_type"),
        F.lit(1).alias("node_index"),
        "event_id", "ts",
    )
    fee = pay.select(
        F.col("user_id").alias("account"),
        F.lit(None).cast("bigint").alias("counterparty"),
        (-F.col("fee")).alias("amount_change"),
        F.lit("fee").alias("change_type"),
        F.lit(-1).alias("node_index"),
        "event_id", "ts",
    )
    return src.unionByName(dst).unionByName(fee).orderBy("event_id", "node_index")


@register(
    "parse_affected_accounts",
    oracle=f"""
    WITH pay AS (
        SELECT event_id, user_id, {SQL_COUNTERPARTY} AS counterparty
        FROM events WHERE event_type = 'purchase'
    ),
    touched AS (
        SELECT event_id, user_id AS account FROM pay
        UNION ALL
        SELECT event_id, counterparty FROM pay
    )
    SELECT DISTINCT event_id, account FROM touched
    ORDER BY event_id, account
    """,
    doc="affectedAccounts (ledgerParser/affectedAccounts.js:4-26): every "
        "account touched by a tx = union of account fields across derived "
        "events + distinct; replaces the double-written account-keyed "
        "table copies (data.js:2921-2924).",
)
def parse_affected_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    pay = e.select(
        "event_id", "user_id",
        counterparty().alias("counterparty"),
    )
    touched = pay.select("event_id", F.col("user_id").alias("account")).unionByName(
        pay.select("event_id", F.col("counterparty").alias("account"))
    )
    return touched.distinct().orderBy("event_id", "account")


@register(
    "parse_accounts_created",
    oracle=f"""
    SELECT event_id, ts,
           user_id AS account,
           {SQL_COUNTERPARTY} AS parent,
           value AS balance
    FROM events WHERE event_type = 'signup'
    ORDER BY event_id
    """,
    doc="accountsCreated (ledgerParser/accountsCreated.js:3-26): Created "
        "AccountRoot nodes -> {account, parent, balance} -- filter + "
        "projection over the parsed stream.",
)
def parse_accounts_created(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    return (
        e.select(
            "event_id", "ts",
            F.col("user_id").alias("account"),
            counterparty().alias("parent"),
            F.col("value").alias("balance"),
        )
        .orderBy("event_id")
    )


# ------------------------------------------------- tx binary display decode

# Canonical-binary transaction blobs, produced by the subset codec from
# the reference's own mock ledger corpus (test/mock/ledgers) and frozen
# here so the decode operator is verifiable without filesystem access to
# the reference.  One per transaction shape: XRP payment, IOU payment
# with a 3-step PathSet, offer create/cancel, escrow, channel claim,
# account set, and a Memos carrier.
TX_BINARY_FIXTURES: list[tuple[int, str, str]] = [
    (0, "120000220000000024000011C761400000003B9ACA0068400000000000000A732102FCD113E3991A0E9702533A7F849981C1AEE8079884D4FFAD8E066D85AC94AE1B74483046022100D52921DF7AD60CA65234E1767629D88B3F2E0356DB17D822F5ECF69AE9A1D40202210081C00673A677D3989E5F662FF9B2B77A26314BD03B867146D79A2C17691E39D78114BF1B3B4DC36B69106C4DB538FDC068B551F123218314003AAD8028453FECFD52B55F5DECABB82438064E", "201C00000003031000"),
    (1, "12000022800600002400056D20201B00A9ABF861D48E35FA931A00000000000000000000000000004555520000000000DD39C650A96EDA48334E70CC4A85B8B2E8502CD3684000000000002EE069D4CA88FAAD6E6000000000000000000000000000434E5900000000006CCF8826E4C803D46808B4BE68DD2BF1730E5E3C732103A6210FC805942D98C452A94D92D8C78EBB7F953A5C23FEE76B8F7B2904AFC1DD74473045022100ED9698E4C80DBCFB605ACE85819C7AB1A3A1A55151AB011220FA49B8232E2E3902206E369D30F14496F49805474BD4FBF4C73F1D3D7647BB304309BEB4798B17444281146CCF8826E4C803D46808B4BE68DD2BF1730E5E3C8314EA1466803E0A8E36409C27AB491E08319D871477011201CED6E99370D5C00EF4EBF72567DA99F5661BFB3A300000000000000000000000004555520000000000DD39C650A96EDA48334E70CC4A85B8B2E8502CD301DD39C650A96EDA48334E70CC4A85B8B2E8502CD300", "201C0000000F031000"),
    (2, "12000722000000002400AD7979201900AD797464D54D2361368DE7E0000000000000000000000000434E590000000000CED6E99370D5C00EF4EBF72567DA99F5661BFB3A6540000009502F8FFF684000000000002AF87321025718736160FA6632F48EA4354A35AB0340F8D7DC7083799B9C57C3E937D7185174473045022100D2AF0EDBD169AC768290D01660CBB941374A83950D877C97EC41BC265F10C94602203E9FF3000813C58BA9F653C098AFFEFF3AF80E2DF24E6F502A764A0911F7D8A58114AFFDCC86D33C153DA185156EB32608ACCF0BC713", "201C00000000031000"),
    (3, "1200082280000000240011211F201900112112201B00A9A8ED684000000000002AF8732103FD8927D4450E5B6C060BF7E46D1DDA2B24C547A45D43926741095D8FCA6A71DB74473045022100C37D96B19BFC8FD6E48CFA83C01A2CF0C9A19C155ED2CC159A85FF1F889E59370220168C107B10C20BA1CFC25EC9301984A23AAC23031965D6389C25B06AD2CCDD3881147286E746E96BA1463E1ECFFE4E23C4EBA96C490A", "201C0000000C031000"),
    (4, "12000122800000002400000025201B01BC961E2025208BA590614000000005F5E10068400000000000000C732102CB9B958614FFBDC9D501B2414758BA2659E16BC5E503944745DB0A9037C1E7F67446304402205B2DE1BD81BC6CCF23675D0F071123D9D8C6FCB3EAD1F06FF107A1C5C42705CB022001940386F5CF1651554A11E57D41702EA924EB1D1037CB15CBE42D9724EF8AC58114A525B562C61C3A875DF8292DED1F2B190B8A1C788314A525B562C61C3A875DF8292DED1F2B190B8A1C78", "201C00000009031000"),
    (5, "12000F2280000000240000001B201B01C5565550169366A220FD4448B0BB199474DA87DCE498CB6926D244C53371574C7DF2586A57624000000000865F6768400000000000000C7121ED7DA9E750436891F83AB3D8D7613202F7E723554B3F3AA2D63211011D0449A3F373210389AFC598BDF777F2EDEF5C4140689819AC50C59D030B48C84EDA0F50D633E68B74473045022100B9B11E5A74230A4D7853DDA8377FEEBF22E25F57D44E2A561F9FC1A6D61D1C6F02206A763FF81E411EFA61A59571BF8275CDBB3E914AA73A14D141E03F24D0781BDE7640F372405D89477EEEC775989F52BED15ABCC95DE58C30DC12DB715AB3F8F41B949E040F84854EAEA5BBA44509A492955F66CBB061595238079302F7A8A7E5600281142E864CBD50B3DFCB0485DE37CEA52475688CA4C2", "201C00000025031000"),
    (6, "12000322000000002400072850684000000000002AF8732102279DDA900BC53575FC5DFA217113A5B21C1ACB2BB2AEFDD60EA478A074E9E264744730450221008BB0D93D65D34ABA1720D7FFB26238E9728088C219092BA1516E30B68765CF7302204F2CD44527EF6D2AB4F3CC369A65E9D4B6C471BCA3BC169B4FBFF0DD7666A0008114065C43E8FC278D9FA2C5B3C0453B67D7FDA56BE1", "201C0000000E031000"),
    (7, "120007228000000024000555CC64D411B9A05C63520000000000000000000000000042544300000000000A20B3C85F482532A9578DBB3950B85CA06594D16540000000288C275D684000000000002710732103B6ECA292BE50AFC259EBDF6066259FA8DFAF69E4C825C83D0877ABD01758CFDB7446304402200CCFD6135114279B414A0BB1F78C2B032D0CB8A4FCB858D4CC9A40BDA7C525A7022015B066B6F9FCCB9A3F4F24A1FE89D5666FBF9A18D7C9D6FABE2AAB1D3F7D2C41811423156B8E9F52EA8403680BD1D15FA067E2AC7CF2F9EA7C066678775F69647D0931383334372E342E32E1F1", "201C00000006031000"),
]

_TX_DECODE_SCHEMA = (
    "idx int, tx_type string, account string, destination string, "
    "amount_drops bigint, amount_value string, amount_currency string, "
    "fee_drops bigint, sequence bigint, flags bigint, "
    "n_path_steps int, n_memos int, result string, tx_index int"
)


def decode_tx_batches(batches):
    """mapInPandas kernel: decode hex raw/meta per Arrow batch (one
    Python call per batch; the decoder itself is pure bytes work)."""
    import pandas as pd

    from ..functions.xrpl_binary import decode_tx

    for pdf in batches:
        rows = []
        for idx, raw, meta in zip(pdf["idx"], pdf["raw"], pdf["meta"]):
            tx = decode_tx(raw)
            md = decode_tx(meta)
            amt = tx.get("Amount")
            rows.append(
                {
                    "idx": idx,
                    "tx_type": tx.get("TransactionType"),
                    "account": tx.get("Account"),
                    "destination": tx.get("Destination"),
                    "amount_drops": int(amt) if isinstance(amt, str) else None,
                    "amount_value": amt["value"] if isinstance(amt, dict) else None,
                    "amount_currency": amt["currency"] if isinstance(amt, dict) else None,
                    "fee_drops": int(tx["Fee"]),
                    "sequence": tx.get("Sequence"),
                    "flags": tx.get("Flags"),
                    "n_path_steps": sum(len(p) for p in tx.get("Paths", [])),
                    "n_memos": len(tx.get("Memos", [])),
                    "result": md.get("TransactionResult"),
                    "tx_index": md.get("TransactionIndex"),
                }
            )
        yield pd.DataFrame(rows)


@register(
    "parse_tx_binary_decode",
    oracle="""
    SELECT * FROM (VALUES
      (0, 'Payment', 'rJR7gjNe3DpJ7kpB4CHBxjDKfwVMpTKPpj',
       'rrpDJrsfaXFCzvDQ1fVeKWbG7fwYiT1nXZ', CAST(1000000000 AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(10 AS BIGINT),
       CAST(4551 AS BIGINT), CAST(0 AS BIGINT), 0, 0, 'tesSUCCESS', 3),
      (1, 'Payment', 'rwvLbHQtU16BwQJyrQb9cfFKvx13Ksbkja',
       'r4L6ZLHkTytPqDR81H1ysCr6qGv9oJJAKi', CAST(NULL AS BIGINT),
       '4', 'EUR', CAST(12000 AS BIGINT),
       CAST(355616 AS BIGINT), CAST(2147876864 AS BIGINT), 3, 0, 'tesSUCCESS', 15),
      (2, 'OfferCreate', 'rHsZHqa5oMQNL5hFm4kfLd47aEMYjPstpg',
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(11000 AS BIGINT),
       CAST(11368825 AS BIGINT), CAST(0 AS BIGINT), 0, 0, 'tesSUCCESS', 0),
      (3, 'OfferCancel', 'rBSZe33F5oxHTbxSF1nZJooVDpcrrqNFp3',
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(11000 AS BIGINT),
       CAST(1122591 AS BIGINT), CAST(2147483648 AS BIGINT), 0, 0, 'tesSUCCESS', 12),
      (4, 'EscrowCreate', 'rGhDCgik9CwiNpcNnYHkEHcMgw2dkLgtNB',
       'rGhDCgik9CwiNpcNnYHkEHcMgw2dkLgtNB', CAST(100000000 AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(12 AS BIGINT),
       CAST(37 AS BIGINT), CAST(2147483648 AS BIGINT), 0, 0, 'tesSUCCESS', 9),
      (5, 'PaymentChannelClaim', 'rnNzy3iPc7gPEAJbAdXwxY1UTBamBqTYhR',
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(12 AS BIGINT),
       CAST(27 AS BIGINT), CAST(2147483648 AS BIGINT), 0, 0, 'tesSUCCESS', 37),
      (6, 'AccountSet', 'r2d2iZiCcJmNL6vhUGFjs8U8BuUq6BnmT',
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(11000 AS BIGINT),
       CAST(469072 AS BIGINT), CAST(0 AS BIGINT), 0, 0, 'tesSUCCESS', 14),
      (7, 'OfferCreate', 'rhUWKrgoGztYKxbuaZMeLc3PdviRrCpdhz',
       CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(10000 AS BIGINT),
       CAST(349644 AS BIGINT), CAST(2147483648 AS BIGINT), 0, 1, 'tesSUCCESS', 6)
    ) AS t(idx, tx_type, account, destination, amount_drops, amount_value,
           amount_currency, fee_drops, sequence, flags, n_path_steps,
           n_memos, result, tx_index)
    ORDER BY idx
    """,
    doc="Tx binary display decode (binary=false, data.js:2083-2084 "
        "binary.decode; stored form = utils.js:60-62 toHex): canonical "
        "XRPL binary hex raw/meta -> display fields via an Arrow-batched "
        "mapInPandas over the subset codec (functions/xrpl_binary.py). "
        "Fixture blobs are frozen from the reference's own mock ledgers; "
        "the oracle pins the expected display values, and "
        "tests/test_tx_binary.py roundtrips all 933 fixture transactions.",
)
def parse_tx_binary_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # local_df (not a raw createDataFrame): the pickle-RDD form of this
    # 8-row fixture relation launched one Python worker round-trip per
    # slice per evaluation -- measured 18.4 s census-cold / ~1 s warm;
    # the Arrow-batch form scans JVM-side (functions/localrel.py).
    src = local_df(spark, TX_BINARY_FIXTURES, "idx int, raw string, meta string")
    return (
        src.mapInPandas(decode_tx_batches, schema=_TX_DECODE_SCHEMA)
        .orderBy("idx")
    )
