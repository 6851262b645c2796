"""End-to-end warehouse ETL + flagship query over real XRPL data.

This is SURVEY.md section 3.2 as one deterministic batch job: ledger
JSON -> bronze (VARIANT, parquet round-trips it) -> silver event tables
(date-partitioned) -> gold 1-minute candles; plus section 3.1, the
``GET /v2/exchanges/{base}/{counter}`` query over the warehouse with the
reference's pair canonicalization and inversion algebra
(``data.js:1457-1524``) and the candle reduce semantics
(``aggregation/exchanges.js:515-616``), including the dust filter
(``:523-531``) and the buy_volume taker==buyer rule.

Scale notes:
  * silver tables partition by close date -- time-range queries prune
    partitions before any IO; within a partition the parquet sort by
    (pair, sort_key) keeps pair scans clustered;
  * the candle build shuffles once on (pair, minute); coarser intervals
    re-reduce gold, never raw (1440x fewer input rows per day);
  * inversion is a projection -- the reference's double-stored
    inverted pairs are unnecessary.
"""

from __future__ import annotations

import os
import re
import threading
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.xrpl_silver import (
    xrpl_accounts_created,
    xrpl_balance_changes,
    xrpl_exchanges,
    xrpl_fee_summary,
)
from ..functions.localrel import local_df
from ..functions.numeric import dsum as dsum_d
from ..sources.xrpl import affected_nodes, read_ledgers_bronze, transactions_bronze

# dust filter: XRP legs below this are excluded from candles
# (aggregation/exchanges.js:523-531)
DUST_XRP = 0.0005

PAIR_SPLIT = re.compile(r"[+|.]")  # getExchanges.js:42-49


def parse_currency(spec: str) -> tuple[str, str | None]:
    parts = PAIR_SPLIT.split(spec)
    currency = parts[0].upper()
    issuer = parts[1] if len(parts) > 1 and parts[1] else None
    if currency == "XRP" and issuer:
        raise ValueError("XRP does not have an issuer")  # getExchanges.js:51-57
    if currency != "XRP" and not issuer:
        raise ValueError(f"{currency} requires an issuer")  # :59-63
    return currency, issuer


def _sort_key() -> F.Column:
    # (ledger, tx, node) event order packed into one scalar
    # (rowkey order, data.js:2750-2754)
    return (
        (F.col("ledger_index").cast("long") * 100_000 + F.col("tx_index")) * 100_000
        + F.col("node_index")
    ).alias("sort_key")


def build_warehouse(
    spark: SparkSession,
    ledger_paths,
    out_dir: str,
    timings: dict | None = None,
) -> dict[str, str]:
    """The full ETL: returns {table: path}.  Idempotent -- every table
    is overwritten by (date) partition, which is the removeLedger
    compensation story (SURVEY 2.1): re-ingesting a ledger's date
    re-derives every downstream row.

    ``timings``: optional dict filled with per-table write wall seconds
    plus ``_parse/_stage1/_stage2`` phase walls -- the instrumentation
    tools/etl_replay.py uses to measure throughput at replayed x30/x100
    scale.  All writes run concurrently under dependency scheduling
    (a stage-2 job starts when the specific tables it reads land, not
    at a whole-stage barrier), so per-table walls overlap and _stage1/
    _stage2 are both measured from the shared fan-out start."""
    import time as _time

    from pyspark import StorageLevel

    t_start = _time.perf_counter()

    ledgers = read_ledgers_bronze(spark, ledger_paths)
    # Parse once: every silver table below re-derives from txs/nodes, so
    # without a persist each write job would re-read and re-VARIANT-parse
    # the raw JSON (12x at 50 ledgers; 12x 100 TB at scale).
    # MEMORY_AND_DISK spills gracefully when the exploded meta outgrows
    # executor memory on a real cluster.
    txs = transactions_bronze(ledgers).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = affected_nodes(txs).persist(StorageLevel.MEMORY_AND_DISK)

    paths = {}
    _paths_lock = threading.Lock()

    def write(df: DataFrame, name: str, partition: str | None = "date") -> None:
        t0 = _time.perf_counter()
        p = os.path.join(out_dir, name)
        w = df.write.mode("overwrite")
        if partition and partition in df.columns:
            w = w.partitionBy(partition)
        w.parquet(p)
        with _paths_lock:
            paths[name] = p
            if timings is not None:
                timings[name] = round(_time.perf_counter() - t0, 3)

    from ..operators.xrpl_silver import (
        xrpl_affected_accounts,
        xrpl_escrows,
        xrpl_paychan,
        xrpl_from_client,
        xrpl_memos,
        xrpl_offers,
        xrpl_payments,
    )

    # Materialize the shared persisted lineages ONCE before fanning out,
    # so concurrent write jobs hit computed cache blocks instead of
    # racing to build them.
    nodes.count()
    if timings is not None:
        timings["_parse"] = round(_time.perf_counter() - t_start, 3)
    t_stage1 = _time.perf_counter()

    with_date = lambda df: df.withColumn("date", F.to_date("executed_time"))  # noqa: E731
    memos = xrpl_memos(txs)

    # Stage 1: every table derivable from the persisted txs/nodes,
    # written CONCURRENTLY.  Spark job submission is thread-safe; the
    # writes share the executor pool, so parallel submission overlaps
    # each job's scheduling + parquet-commit latency with another job's
    # compute (on a real cluster it also hides output-committer stalls).
    # Each write stays an independent idempotent overwrite.  List order
    # is submission order, and the FIFO scheduler gives earlier jobs
    # first claim on executors -- so the tables stage 2 waits on
    # (balance_changes -> payments is the critical path, then exchanges/
    # offers/transactions/accounts_created) lead, and the leaf tables
    # nothing consumes (tx_client, memos, fees, escrows, paychan) trail.
    # Balance changes lead the critical path (bc -> payments / affected
    # accounts / snapshots).  Persisting the relation lets those three
    # consumers compute from the cached blocks as they materialize,
    # instead of waiting for the parquet COMMIT and re-reading the
    # table: the commit + read-back round-trip leaves the critical path
    # entirely (A/B below; guide sections 2.6 and 5 -- the reuse is
    # 4-way within one build, and MEMORY_AND_DISK spills gracefully at
    # replay scale).  Unpersisted before return: nothing is cached
    # across builds.
    bc = with_date(xrpl_balance_changes(nodes)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    stage1 = [
        (bc, "silver_balance_changes", "date"),
        # The pair-clustered layout the module doc promises: range-
        # partition then sort by (date, pair, sort_key).  date leads so
        # the partitioned writer's required ordering is satisfied and it
        # does NOT re-sort (its non-stable sort would destroy the pair
        # clustering); at scale repartitionByRange keeps file counts
        # proportional to the cluster while every file stays internally
        # pair-sorted for row-group pruning on pair scans.
        (with_date(xrpl_exchanges(nodes)).withColumn("sort_key", _sort_key())
         .repartitionByRange("date", "base_currency", "base_issuer",
                             "counter_currency", "counter_issuer",
                             "sort_key")
         .sortWithinPartitions("date", "base_currency", "base_issuer",
                               "counter_currency", "counter_issuer",
                               "sort_key"),
         "silver_exchanges", "date"),
        (with_date(xrpl_offers(nodes)), "silver_offers", "date"),
        (with_date(tx_with_binary(txs).drop("tx")), "silver_transactions", "date"),
        (with_date(xrpl_accounts_created(nodes)), "silver_accounts_created", "date"),
        (ledgers.drop("v"), "bronze_ledgers", None),
        (with_date(memos), "silver_memos", "date"),
        (xrpl_from_client(memos), "silver_tx_client", None),
        (xrpl_fee_summary(txs), "silver_ledger_fees", None),
        (xrpl_escrows(txs), "silver_escrows", "date"),
        (xrpl_paychan(txs), "silver_payment_channels", "date"),
    ]
    # Stage 2 jobs consume stage-1 outputs.  They read the tables just
    # written instead of re-deriving the parse lineage from `nodes`: the
    # written parquet is columnar (each consumer scans only the columns
    # it selects) and the VARIANT-parse of balance changes / exchanges /
    # accounts-created runs exactly once per warehouse build instead of
    # once per consumer job.
    #
    # Scheduling (r14, guide section 2.6 "overlap independent jobs"):
    # each stage-2 job waits on the SPECIFIC stage-1 futures it reads,
    # not on a whole-stage barrier, so e.g. gold_candles_1m starts the
    # moment silver_exchanges lands while silver_balance_changes (the
    # critical path: bc -> payments) is still writing.  The pool must
    # hold every job at once -- a stage-2 worker parks in result() until
    # its inputs land, and a smaller pool could fill up with parked
    # stage-2 jobs and deadlock the stage-1 writes they wait on.
    stage2 = [
        ((),
         lambda: with_date(xrpl_payments(txs, bc, nodes)),
         "silver_payments", "date"),
        (("silver_exchanges", "silver_accounts_created", "silver_offers"),
         lambda ex, ac, of: xrpl_affected_accounts(bc, ex, ac, offers=of),
         "silver_affected_accounts", None),
        (("silver_exchanges",), candles_1m, "gold_candles_1m", None),
        (("silver_transactions",), stats_hourly, "gold_stats_hourly", None),
        ((), lambda: balance_snapshots(bc),
         "gold_balance_snapshots", "date"),
        (("silver_offers",), open_offer_snapshots, "gold_open_offers", "date"),
    ]

    t_stage2 = t_stage1  # both stages fan out together (see note below)
    with ThreadPoolExecutor(max_workers=len(stage1) + len(stage2)) as pool:
        s1 = {n: pool.submit(write, df, n, p) for df, n, p in stage1}

        def read_after(name: str) -> DataFrame:
            s1[name].result()  # block until that table's write committed
            return spark.read.parquet(paths[name])

        def stage2_job(deps, build, name, partition) -> None:
            write(build(*(read_after(d) for d in deps)), name, partition)

        s2 = [
            pool.submit(stage2_job, deps, build, n, p)
            for deps, build, n, p in stage2
        ]
        for f in s1.values():
            f.result()
        if timings is not None:
            timings["_stage1"] = round(_time.perf_counter() - t_stage1, 3)
        for f in s2:
            f.result()
    if timings is not None:
        # _stage2 overlaps _stage1 under dependency scheduling: both are
        # measured from the same fan-out start, so _total ~= _parse +
        # max(_stage1, _stage2), not the sum.
        timings["_stage2"] = round(_time.perf_counter() - t_stage2, 3)
        timings["_total"] = round(_time.perf_counter() - t_start, 3)

    txs.unpersist()
    nodes.unpersist()
    bc.unpersist()
    return paths


def tx_with_binary(txs: DataFrame) -> DataFrame:
    """Add ``raw``/``meta`` canonical-binary hex columns -- the
    reference's storage form (``lib/utils.js:60-62`` ``toHex`` at
    storeTransaction).  Arrow-batched pandas UDF over the subset codec;
    meta is stored as its scalar display subset (AffectedNodes lives in
    the silver parsers' JSON path, see functions/xrpl_binary.py)."""

    @F.pandas_udf("raw string, meta string")
    def _enc(tx_json: pd.Series) -> pd.DataFrame:
        import json

        from ..functions.xrpl_binary import encode_tx

        raws, metas = [], []
        for s in tx_json:
            tx = json.loads(s)
            md = {
                k: v
                for k, v in (tx.get("metaData") or {}).items()
                if k != "AffectedNodes"
            }
            raws.append(encode_tx(tx))
            metas.append(encode_tx(md))
        return pd.DataFrame({"raw": raws, "meta": metas})

    b = _enc(F.to_json("tx"))
    return txs.withColumn("_bin", b).select(
        "*", F.col("_bin.raw").alias("raw"), F.col("_bin.meta").alias("meta")
    ).drop("_bin")


# Partial payments: delivered_amount is only authoritative from this
# ledger on (data.js:2090-2106).
DELIVERED_AMOUNT_LEDGER = 4594094
TF_PARTIAL_PAYMENT = 0x00020000


def decode_tx_display(df: DataFrame) -> DataFrame:
    """binary=false read path (data.js:2083-2084 ``binary.decode``):
    replace hex ``raw``/``meta`` with a decoded ``tx_json`` column,
    applying the reference's delivered_amount rule for payments."""

    @F.pandas_udf("string")
    def _dec(raw: pd.Series, meta: pd.Series, ledger_index: pd.Series) -> pd.Series:
        import json

        from ..functions.xrpl_binary import decode_tx

        out = []
        for r, m, li in zip(raw, meta, ledger_index):
            tx = decode_tx(r)
            md = decode_tx(m)
            if (
                tx.get("TransactionType") == "Payment"
                and md.get("TransactionResult") == "tesSUCCESS"
            ):
                # data.js:2090-2106: explicit DeliveredAmount wins; a
                # non-partial payment delivers its full Amount; a partial
                # payment without DeliveredAmount is trustworthy only
                # after the cutoff ledger, else 'unavailable'
                if "DeliveredAmount" in md:
                    md["delivered_amount"] = md["DeliveredAmount"]
                elif not (tx.get("Flags", 0) & TF_PARTIAL_PAYMENT):
                    md["delivered_amount"] = tx.get("Amount")
                elif li > DELIVERED_AMOUNT_LEDGER:
                    md["delivered_amount"] = tx.get("Amount")
                else:
                    md["delivered_amount"] = "unavailable"
            out.append(json.dumps({"tx": tx, "meta": md}))
        return pd.Series(out)

    return df.withColumn(
        "tx_json", _dec(F.col("raw"), F.col("meta"), F.col("ledger_index"))
    ).drop("raw", "meta")


def stats_hourly(txs: DataFrame) -> DataFrame:
    """Network stats counters (aggregation/stats.js:242-337): per hour,
    counts by tx type and by result code plus the derived metrics --
    tx_per_ledger and ledger_interval as plain aggregates instead of the
    daemon's running averages."""
    hour = F.date_trunc("hour", "executed_time").alias("hour")
    by_type = txs.groupBy(hour).pivot("tx_type").count()
    by_result = (
        txs.withColumn("result_bucket", F.concat(F.lit("result_"), "result"))
        .groupBy(hour)
        .pivot("result_bucket")
        .count()
    )
    metrics = txs.groupBy(hour).agg(
        F.count("*").alias("transaction_count"),
        F.count_distinct("ledger_index").alias("ledger_count"),
        (F.count("*") / F.count_distinct("ledger_index")).alias("tx_per_ledger"),
        F.count(F.when(F.col("result") == "tesSUCCESS", 1)).alias("success_count"),
    )
    return metrics.join(by_type, "hour").join(by_result, "hour")


_PAIR_COLS = ["base_currency", "base_issuer", "counter_currency", "counter_issuer"]


def candles_1m(ex: DataFrame) -> DataFrame:
    """1-minute OHLC candles per pair (aggregation/exchanges.js:515-616):
    open/close by event order, high/low of rate, volumes, buy_volume
    where taker bought the base (buyer == taker), vwap, dust filter."""
    dust = (F.col("base_currency") == "XRP") & (F.col("base_amount") < DUST_XRP)
    e = ex.filter(~dust).withColumn("sort_key", _sort_key())
    vol = F.sum(F.col("base_amount").cast("decimal(38,18)"))
    cvol = F.sum(F.col("counter_amount").cast("decimal(38,18)"))
    return (
        e.groupBy(*_PAIR_COLS, F.date_trunc("minute", "executed_time").alias("start"))
        .agg(
            F.min_by("rate", "sort_key").alias("open"),
            F.max("rate").alias("high"),
            F.min("rate").alias("low"),
            F.max_by("rate", "sort_key").alias("close"),
            vol.cast("double").alias("base_volume"),
            cvol.cast("double").alias("counter_volume"),
            F.sum(
                F.when(F.col("buyer") == F.col("taker"),
                       F.col("base_amount").cast("decimal(38,18)"))
            ).cast("double").alias("buy_volume"),
            F.count("*").alias("count"),
            (cvol.cast("double") / vol.cast("double")).alias("vwap"),
            F.min("sort_key").alias("open_key"),
            F.max("sort_key").alias("close_key"),
        )
    )


def _interval_bucket(interval) -> F.Column:
    """Bucket expression for the reference's 12-interval set
    (data.js:16-29): integer = minute multiples (1m..1day as 1440);
    '3day' = the epoch-anchored bucket (utils.js:99-115); '7day' =
    ISO week; '1month'/'1year' = calendar truncation."""
    from ..functions.timeutils import anchored_bucket

    if isinstance(interval, int):
        secs = interval * 60
        return F.timestamp_seconds(
            (F.unix_timestamp("start") / secs).cast("long") * secs
        ).alias("start")
    if interval == "3day":
        return anchored_bucket(F.col("start"), 3).alias("start")
    if interval == "7day":
        return F.date_trunc("week", "start").alias("start")
    if interval in ("1month", "1year"):
        return F.date_trunc(interval[1:], "start").alias("start")
    raise ValueError(f"invalid interval: {interval!r}")


def reduce_candles(candles: DataFrame, interval) -> DataFrame:
    """Re-reduce finer candles into a coarser interval (the hierarchical
    rollup, aggregation/exchanges.js:282-359) -- associative merge, so
    gold_1m is the only table ever scanned.  ``interval`` is minutes
    (int) or one of '3day', '7day', '1month', '1year'."""
    bucket = _interval_bucket(interval)
    vol = F.sum(F.col("base_volume").cast("decimal(38,18)"))
    cvol = F.sum(F.col("counter_volume").cast("decimal(38,18)"))
    return (
        candles.groupBy(*_PAIR_COLS, bucket)
        .agg(
            F.min_by("open", "open_key").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "close_key").alias("close"),
            vol.cast("double").alias("base_volume"),
            cvol.cast("double").alias("counter_volume"),
            F.sum(F.col("buy_volume").cast("decimal(38,18)")).cast("double").alias("buy_volume"),
            F.sum("count").alias("count"),
            (cvol.cast("double") / vol.cast("double")).alias("vwap"),
            F.min("open_key").alias("open_key"),
            F.max("close_key").alias("close_key"),
        )
    )


def get_exchanges_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    base: str,
    counter: str,
    start: str | None = None,
    end: str | None = None,
    interval_minutes: int | str | None = None,
    descending: bool = False,
    limit: int | None = None,
    autobridged: bool = False,
) -> DataFrame:
    """GET /v2/exchanges/{base}/{counter} over the warehouse
    (data.js:1463-1750): canonicalize the pair, scan raw exchanges or
    re-reduce gold candles (minute multiples or 3day/7day/1month/1year
    calendar buckets), invert the projection when the requested
    orientation is the non-canonical one (data.js:1480-1524), optional
    autobridged-only filter (the DependentColumnFilter,
    data.js:1696-1702)."""
    b_cur, b_iss = parse_currency(base)
    c_cur, c_iss = parse_currency(counter)
    k1 = (b_cur + (b_iss or "undefined")).lower()
    k2 = (c_cur + (c_iss or "undefined")).lower()
    invert = k2 < k1  # stored orientation is lexicographic (exchanges.js:179-199)
    s_b_cur, s_b_iss, s_c_cur, s_c_iss = (
        (c_cur, c_iss, b_cur, b_iss) if invert else (b_cur, b_iss, c_cur, c_iss)
    )

    def pair_filter(df: DataFrame) -> DataFrame:
        df = df.filter(
            (F.col("base_currency") == s_b_cur)
            & (F.col("counter_currency") == s_c_cur)
        )
        df = df.filter(
            F.col("base_issuer") == s_b_iss if s_b_iss else F.col("base_issuer").isNull()
        )
        return df.filter(
            F.col("counter_issuer") == s_c_iss if s_c_iss else F.col("counter_issuer").isNull()
        )

    if interval_minutes is None:
        ex = pair_filter(spark.read.parquet(os.path.join(warehouse_dir, "silver_exchanges")))
        if autobridged:
            ex = ex.filter(F.col("autobridged_currency").isNotNull())
        if start:
            # the redundant date predicate prunes the partition layout;
            # the executed_time predicate is exact within partitions
            ex = ex.filter(
                (F.col("date") >= F.to_date(F.lit(start)))
                & (F.col("executed_time") >= F.lit(start))
            )
        if end:
            ex = ex.filter(
                (F.col("date") <= F.to_date(F.lit(end)))
                & (F.col("executed_time") < F.lit(end))
            )
        if invert:  # data.js:1485-1498
            ex = ex.select(
                "executed_time", "ledger_index", "tx_index", "node_index", "tx_hash",
                (1 / F.col("rate")).alias("rate"),
                F.col("counter_amount").alias("base_amount"),
                F.col("base_amount").alias("counter_amount"),
                F.col("seller").alias("buyer"),
                F.col("buyer").alias("seller"),
                "taker", "provider",
            )
        else:
            ex = ex.select(
                "executed_time", "ledger_index", "tx_index", "node_index", "tx_hash",
                "rate", "base_amount", "counter_amount", "buyer", "seller",
                "taker", "provider",
            )
        order = F.col("executed_time").desc() if descending else F.col("executed_time")
        ex = ex.orderBy(order, *(
            [F.col(c).desc() for c in ("ledger_index", "tx_index", "node_index")]
            if descending else ["ledger_index", "tx_index", "node_index"]
        ))
        return ex.limit(limit) if limit else ex

    candles = pair_filter(spark.read.parquet(os.path.join(warehouse_dir, "gold_candles_1m")))
    if start:
        candles = candles.filter(F.col("start") >= F.lit(start))
    if end:
        candles = candles.filter(F.col("start") < F.lit(end))
    out = reduce_candles(candles, interval_minutes)
    if invert:  # data.js:1500-1519
        new_vwap = 1 / F.col("vwap")
        out = out.select(
            "start",
            (1 / F.col("open")).alias("open"),
            (1 / F.col("low")).alias("high"),
            (1 / F.col("high")).alias("low"),
            (1 / F.col("close")).alias("close"),
            F.col("counter_volume").alias("base_volume"),
            F.col("base_volume").alias("counter_volume"),
            (F.col("buy_volume") / new_vwap).alias("buy_volume"),
            "count",
            new_vwap.alias("vwap"),
        )
    else:
        out = out.select(
            "start", "open", "high", "low", "close", "base_volume",
            "counter_volume", "buy_volume", "count", "vwap",
        )
    return out.orderBy(F.col("start").desc() if descending else F.col("start"))


def get_account_transactions_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    account: str,
    tx_type: str | None = None,
    result: str | None = None,
    start: str | None = None,
    end: str | None = None,
    descending: bool = True,
    limit: int = 20,
    binary: bool = True,
) -> DataFrame:
    """GET /v2/accounts/{address}/transactions (SURVEY 3.3,
    data.js:1172-1246): the reference scans an account-keyed index table
    then multi-gets tx payloads; here the affected-accounts silver table
    IS the index, and the payload fetch is a broadcast join on tx_hash
    (the index side is tiny after the account filter).  ``binary=False``
    decodes the stored raw/meta hex to display JSON
    (data.js:2083-2084), including the delivered_amount rule."""
    validate_address(account)
    aff = (
        spark.read.parquet(os.path.join(warehouse_dir, "silver_affected_accounts"))
        .filter(F.col("account") == account)
        .select("tx_hash")
    )
    txs = spark.read.parquet(os.path.join(warehouse_dir, "silver_transactions"))
    if tx_type:
        txs = txs.filter(F.col("tx_type") == tx_type)
    if result:
        txs = txs.filter(F.col("result") == result)
    if start:
        txs = txs.filter(
            (F.col("date") >= F.to_date(F.lit(start)))
            & (F.col("executed_time") >= F.lit(start))
        )
    if end:
        txs = txs.filter(
            (F.col("date") <= F.to_date(F.lit(end)))
            & (F.col("executed_time") < F.lit(end))
        )
    out = txs.join(F.broadcast(aff), "tx_hash")
    order = (
        [F.col("ledger_index").desc(), F.col("tx_index").desc()]
        if descending
        else [F.col("ledger_index"), F.col("tx_index")]
    )
    out = out.orderBy(*order).limit(limit)
    if not binary:
        # decode AFTER the limit: the UDF runs on one page of rows, not
        # the full scan (the reference decodes per returned row too)
        out = decode_tx_display(out)
    return out


BALANCE_CHANGE_TYPES = (
    "transaction_cost",
    "exchange",
    "intermediary",
    "payment_source",
    "payment_destination",
)


def _page_limit(limit, default: int = 200, cap: int | None = 1000) -> int:
    """The reference's limit clamp (accountEscrows.js:31,45-50):
    `Number(req.query.limit) || 200` makes 0/NaN/absent the 200
    default, then >1000 caps at 1000.  Negative values additionally
    take the default here (the reference would pass them to HBase
    where they error; an engine .limit() must not see them).
    ``cap=None`` for routes without a max (topCurrencies.js:27)."""
    try:
        v = int(limit)
    except (TypeError, ValueError):
        return default
    if v <= 0:
        return default
    return v if cap is None else min(v, cap)


def get_account_balance_changes_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    account: str,
    currency: str | None = None,
    counterparty: str | None = None,
    change_type: str | None = None,
    start: str | None = None,
    end: str | None = None,
    descending: bool = False,
    limit: int = 200,
) -> DataFrame:
    """GET /v2/accounts/{address}/balance_changes
    (api/routes/accountBalanceChanges.js): the account's signed ledger
    of balance deltas with the route's exact option semantics --
    change_type whitelist (:9-15) with the fee<->transaction_cost
    translation in BOTH directions ('transaction_cost' queries the
    stored 'fee' rows (:81-82); 'fee'/'network fee' render as
    'transaction_cost' on output (:41-44)), the XRP-counterparty 400
    rule (:72-79), and the 200-default/1000-max limit clamp (:91-96).
    One partition-pruned scan of silver_balance_changes; the account
    filter makes the page tiny before the sort."""
    validate_address(account)
    if change_type is not None:
        if change_type not in BALANCE_CHANGE_TYPES:
            raise ValueError(
                "invalid change_type - use: "
                + ", ".join(BALANCE_CHANGE_TYPES)
            )
        if change_type == "transaction_cost":
            change_type = "fee"
    if currency and currency.upper() == "XRP" and counterparty:
        raise ValueError("counterparty cannot be specified for XRP")
    limit = _page_limit(limit)
    bc = spark.read.parquet(
        os.path.join(warehouse_dir, "silver_balance_changes")
    ).filter(F.col("account") == account)
    if currency:
        bc = bc.filter(F.col("currency") == currency.upper())
    if counterparty:
        bc = bc.filter(F.col("counterparty") == counterparty)
    if change_type:
        bc = bc.filter(
            F.col("change_type").isin("fee", "network fee")
            if change_type == "fee"
            else (F.col("change_type") == change_type)
        )
    if start:
        bc = bc.filter(F.col("executed_time") >= F.lit(start))
    if end:
        bc = bc.filter(F.col("executed_time") < F.lit(end))
    order = [F.col("ledger_index"), F.col("tx_index"), F.col("node_index")]
    if descending:
        order = [c.desc() for c in order]
    return bc.select(
        "account",
        "counterparty",
        "currency",
        "change",
        "final_balance",
        "executed_time",
        "ledger_index",
        "tx_index",
        "node_index",
        "tx_hash",
        F.when(
            F.col("change_type").isin("fee", "network fee"),
            "transaction_cost",
        )
        .otherwise(F.col("change_type"))
        .alias("change_type"),
        "escrow_counterparty",
        "escrow_balance_change",
    ).orderBy(*order).limit(limit)


ESCROW_PAGE_COLS = (
    "account", "owner", "destination", "destination_tag",
    "source_tag", "amount", "condition", "fulfillment",
    "cancel_after", "finish_after", "create_tx", "create_tx_seq",
    "tx_type", "tx_hash", "executed_time", "ledger_index",
    "tx_index", "flags", "fee", "client",
)

PAYCHAN_PAGE_COLS = (
    "account", "source", "destination", "destination_tag",
    "source_tag", "channel", "amount", "balance", "signature",
    "pubkey", "settle", "cancel_after", "expiration", "tx_type",
    "tx_hash", "executed_time", "ledger_index", "tx_index",
    "flags", "fee", "client",
)


def _escrow_paychan_base(
    spark: SparkSession,
    warehouse_dir: str,
    table: str,
    account_cols: tuple[str, str],
    account: str,
    tx_type: str | None,
    destination: str | None,
    destination_tag: int | None,
    source_tag: int | None,
    start: str | None,
    end: str | None,
) -> DataFrame:
    """The escrows/paychan routes' shared option plumbing: dual-key
    account predicate (the reference's double rowkey write,
    data.js:2957-2958 / 2993-2994), the maybeFilters equality list
    (data.js:560-585), and smoment-whitelisted time bounds with the
    end-exclusive +1-granule rule."""
    from ..functions.timeutils import smoment_parse, smoment_stop_exclusive

    validate_address(account)
    df = spark.read.parquet(os.path.join(warehouse_dir, table)).filter(
        (F.col(account_cols[0]) == account)
        | (F.col(account_cols[1]) == account)
    )
    if tx_type:
        df = df.filter(F.col("tx_type") == tx_type)
    if destination:
        df = df.filter(F.col("destination") == destination)
    if destination_tag is not None:
        df = df.filter(F.col("destination_tag") == int(destination_tag))
    if source_tag is not None:
        df = df.filter(F.col("source_tag") == int(source_tag))
    for bound, is_start in ((start, True), (end, False)):
        if bound is None:
            continue
        parsed = smoment_parse(bound)
        if parsed is None:
            raise ValueError(
                f"invalid {'start' if is_start else 'end'} date format"
            )
        df = df.filter(
            F.col("executed_time") >= F.lit(parsed[0])
            if is_start
            else F.col("executed_time") < F.lit(smoment_stop_exclusive(parsed))
        )
    return df


def _client_joined_page(
    spark: SparkSession,
    warehouse_dir: str,
    page: DataFrame,
    order: list,
    cols: tuple[str, ...],
) -> DataFrame:
    """Join the <=page-sized frame to silver_tx_client without ever
    broadcasting (or driver-collecting) the tx-count-scaled client map:
    Spark cannot broadcast the PRESERVED side of an outer join
    (right-outer is BuildLeft-only), so the page's <=1001 tx_hash keys
    -- bounded driver state, same budget as the limit+1 page fetches --
    push into the client scan as an IN predicate (parquet row-group
    pruning applies) and the page-sized client side broadcasts in an
    ordinary left join.  Mirrors the reference's per-row point gets for
    tx client strings."""
    client = spark.read.parquet(
        os.path.join(warehouse_dir, "silver_tx_client")
    )
    # collect the <= limit+1 row page once and re-enter it as a local
    # relation (plans/api._paginate's pattern): the key harvest and the
    # returned join share one execution of the page's filter+sort+limit,
    # and no cached relation outlives the request
    rows = page.collect()
    keys = [r.tx_hash for r in rows]
    page = local_df(spark, rows, page.schema)
    small_client = (
        client.filter(F.col("tx_hash").isin(keys)) if keys else client.limit(0)
    )
    return (
        page.join(F.broadcast(small_client), "tx_hash", "left")
        .select(*cols)
        .orderBy(*order)
    )


def _time_order(descending: bool) -> list:
    order = [F.col("executed_time"), F.col("ledger_index"), F.col("tx_index")]
    return [c.desc() for c in order] if descending else order


def get_account_escrows_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    account: str,
    tx_type: str | None = None,
    destination: str | None = None,
    destination_tag: int | None = None,
    source_tag: int | None = None,
    start: str | None = "2017-01-01",
    end: str | None = None,
    descending: bool = False,
    limit: int = 200,
) -> DataFrame:
    """GET /v2/accounts/{address}/escrows
    (api/routes/accountEscrows.js): the account's escrow events from
    silver_escrows.  The reference writes every escrow row under BOTH
    the owner and the destination rowkey (data.js:2957-2958), so the
    account predicate here is owner-OR-destination; optional equality
    filters mirror the maybeFilters list (data.js:560-585: tx_type,
    destination, destination_tag, source_tag).  start defaults to
    2017-01-01 like the route (accountEscrows.js:24); both bounds go
    through the smoment whitelist with the end-exclusive +1-granule
    rule; limit clamps 200-default/1000-max (:46-50).  client joins
    from silver_tx_client (escrow.client, ledgerParser/escrow.js:46)
    AFTER the page (see _client_joined_page).  One partition-prunable
    scan; the account filter makes the page tiny before the sort.
    Marker pagination lives in page_account_escrows_xrpl."""
    esc = _escrow_paychan_base(
        spark, warehouse_dir, "silver_escrows", ("owner", "destination"),
        account, tx_type, destination, destination_tag, source_tag,
        start, end,
    )
    order = _time_order(descending)
    page = esc.orderBy(*order).limit(_page_limit(limit))
    return _client_joined_page(
        spark, warehouse_dir, page, order, ESCROW_PAGE_COLS
    )


def get_account_payment_channels_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    account: str,
    tx_type: str | None = None,
    destination: str | None = None,
    destination_tag: int | None = None,
    source_tag: int | None = None,
    start: str | None = "2017-01-01",
    end: str | None = None,
    descending: bool = False,
    limit: int = 200,
) -> DataFrame:
    """GET /v2/accounts/{address}/payment_channels
    (api/routes/accountPaymentChannels.js): the escrows route's twin --
    identical option contract (same prepareOptions block: smoment
    bounds with the 2017-01-01 default start, maybeFilters, 200/1000
    clamp) over silver_payment_channels, with the account predicate
    source-OR-destination (the dual rowkey write, data.js:2993-2994 --
    note paychan keys by the CHANNEL's source/destination node fields,
    not tx.Account).  Marker pagination lives in
    page_account_payment_channels_xrpl."""
    pc = _escrow_paychan_base(
        spark, warehouse_dir, "silver_payment_channels",
        ("source", "destination"), account, tx_type, destination,
        destination_tag, source_tag, start, end,
    )
    order = _time_order(descending)
    page = pc.orderBy(*order).limit(_page_limit(limit))
    return _client_joined_page(
        spark, warehouse_dir, page, order, PAYCHAN_PAGE_COLS
    )


def _page_escrow_paychan(
    spark: SparkSession,
    warehouse_dir: str,
    table: str,
    account_cols: tuple[str, str],
    cols: tuple[str, ...],
    account: str,
    tx_type: str | None,
    destination: str | None,
    destination_tag: int | None,
    source_tag: int | None,
    start: str | None,
    end: str | None,
    descending: bool,
    limit: int,
    marker: str | None,
):
    import base64

    df = _escrow_paychan_base(
        spark, warehouse_dir, table, account_cols, account, tx_type,
        destination, destination_tag, source_tag, start, end,
    )
    limit = _page_limit(limit)
    key = (
        F.col("ledger_index").cast("long") * 100_000 + F.col("tx_index")
    ).alias("_k")
    df = df.select("*", key)
    if marker:
        try:
            after = int(base64.urlsafe_b64decode(marker.encode()))
        except Exception as exc:  # noqa: BLE001
            raise ValueError(f"invalid marker: {marker!r}") from exc
        df = df.filter(
            F.col("_k") < after if descending else F.col("_k") > after
        )
    order = [F.col("_k").desc()] if descending else [F.col("_k")]
    page = df.orderBy(*order).limit(limit + 1)
    rows = _client_joined_page(
        spark, warehouse_dir, page, order, cols + ("_k",)
    ).collect()
    next_marker = None
    if len(rows) > limit:
        last = rows[limit - 1]
        next_marker = base64.urlsafe_b64encode(str(last._k).encode()).decode()
    # the marker alone carries continuation state (the reference's
    # contract is an opaque token); the synthetic _k sort scalar must
    # not leak into the served payload columns
    from pyspark.sql import Row as _Row

    served = [
        _Row(**{k: v for k, v in r.asDict().items() if k != "_k"})
        for r in rows[:limit]
    ]
    return served, next_marker


def page_account_escrows_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    account: str,
    tx_type: str | None = None,
    destination: str | None = None,
    destination_tag: int | None = None,
    source_tag: int | None = None,
    start: str | None = "2017-01-01",
    end: str | None = None,
    descending: bool = False,
    limit: int = 200,
    marker: str | None = None,
):
    """Marker pagination for the escrows route (accountEscrows.js:29,
    86-100: the response carries an opaque continuation marker and a
    Link header when more rows exist).  getScanWithMarker's limit+1
    probe (hbase-thrift/index.js:412-452): the marker is the base64
    (ledger_index, tx_index) sort-key scalar of the LAST ROW SERVED,
    so resumption is an index-range predicate -- keyset pagination,
    never OFFSET (a 100 TB scan cannot skip-count).  Returns
    (rows, next_marker)."""
    return _page_escrow_paychan(
        spark, warehouse_dir, "silver_escrows", ("owner", "destination"),
        ESCROW_PAGE_COLS, account, tx_type, destination, destination_tag,
        source_tag, start, end, descending, limit, marker,
    )


def page_account_payment_channels_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    account: str,
    tx_type: str | None = None,
    destination: str | None = None,
    destination_tag: int | None = None,
    source_tag: int | None = None,
    start: str | None = "2017-01-01",
    end: str | None = None,
    descending: bool = False,
    limit: int = 200,
    marker: str | None = None,
):
    """Marker pagination for the payment-channels route
    (accountPaymentChannels.js -- same marker/Link-header contract as
    the escrows route).  Returns (rows, next_marker)."""
    return _page_escrow_paychan(
        spark, warehouse_dir, "silver_payment_channels",
        ("source", "destination"), PAYCHAN_PAGE_COLS, account, tx_type,
        destination, destination_tag, source_tag, start, end, descending,
        limit, marker,
    )


def get_top_xrpl(
    spark: SparkSession,
    table_dir: str,
    table: str,
    date: str | None = None,
    limit: int = 1000,
) -> DataFrame:
    """getTop (data.js:1069-1141; routes topCurrencies.js /
    topMarkets.js): the day's ranked top_currencies / top_markets rows.

    Semantics mirrored: invalid table -> error (:1107-1111); a given
    date is truncated to start-of-day (topCurrencies.js:23) and serves
    that day's rows; NO date scans backward for the newest row and
    serves ITS day (:1120-1136) -- here a MAX(date) aggregation, not a
    reversed key scan; limit defaults to 1000 with no max cap (:27,
    unlike the account routes' 1000 cap); formatResults (:1074-1090)
    strips rowkey/rank/date from the payload, so the output drops the
    key columns but keeps rank ORDER.  The writer of both tables is the
    external aggregation pipeline (out of scope, SURVEY section 7);
    tests seed the parquet from the reference's own mocha fixtures
    (test/mock/top-currencies.json, 41 rows; top-markets.json, 56) the
    same way test.network.js putRow-seeds HBase.

    Scale: date-partitioned parquet -> the day filter prunes to one
    partition; rows-per-day is bounded by the currency/market universe,
    so the rank sort is partition-local and tiny."""
    from ..functions.timeutils import smoment_parse

    if table not in ("top_markets", "top_currencies"):
        raise ValueError("invalid table")  # data.js:1107-1111
    limit = _page_limit(limit, default=1000, cap=None)
    df = spark.read.parquet(os.path.join(table_dir, table))
    if date is not None:
        parsed = smoment_parse(date)
        if parsed is None:
            raise ValueError("invalid date format")  # route 400
        day = parsed[0].date()
        page = df.filter(F.col("date") == F.lit(day))
    else:
        # the reversed latest-row probe (data.js:1124-1136): a 1-row
        # MAX(date) collect; an empty table errors like :1128
        latest = df.agg(F.max("date")).collect()[0][0]
        if latest is None:
            raise ValueError("no markets found")
        page = df.filter(F.col("date") == F.lit(latest))
    return (
        page.orderBy("rank")
        .limit(limit)
        .drop("rank", "date")  # formatResults deletions (:1081-1086)
    )


def get_top_currencies_xrpl(
    spark: SparkSession, table_dir: str, date: str | None = None,
    limit: int = 1000,
) -> DataFrame:
    """GET /v2/network/top_currencies/{date?} (topCurrencies.js)."""
    return get_top_xrpl(spark, table_dir, "top_currencies", date, limit)


def get_top_markets_xrpl(
    spark: SparkSession, table_dir: str, date: str | None = None,
    limit: int = 1000,
) -> DataFrame:
    """GET /v2/network/top_markets/{date?} (topMarkets.js)."""
    return get_top_xrpl(spark, table_dir, "top_markets", date, limit)


# ------------------------------------------- account stats plane

# GET /v2/accounts/{address}/stats/{family}/{date?}
# (api/routes/accountStats.js + hbase-thrift/data.js getAccountStats).
ACCOUNT_STATS_TABLES = {
    "transactions": "gold_account_stats_tx",     # agg_account_stats
    "value": "gold_account_balance_changes",     # agg_account_balance_changes
}
_STATS_KEY_FMT = "yyyyMMddHHmmss"  # the HBase rowkey's date segment


def build_account_stats(
    spark: SparkSession, warehouse_dir: str, out_dir: str
) -> None:
    """Build both account-stats gold tables from the real warehouse.

    transactions family (`agg_account_stats`): per (account, day) the
    total transaction count plus per-type and per-result count maps --
    the reference's writer lives in its external aggregation pipeline
    (out of scope, SURVEY section 7), so the semantics here are
    reconstructed from the route contract and the reference's own
    seed fixtures (test.account.stats.js:20-40 writes d:transaction_
    count, result:*, type:* columns; mock/account-stats-tx.json).
    Every count is exactly computable from silver_transactions.

    value family (`agg_account_balance_changes`): balance_change_count
    is exact from silver_balance_changes; account_value's writer is
    the same external pipeline and its formula is not in the reference
    repo, so the builder writes the decimal string of the day's
    |XRP change| sum as the engine's DOCUMENTED stand-in (the serving
    layer passes the column through opaquely, and the route pins seed
    the reference's own mock values -- the stand-in never reaches the
    pinned contract)."""
    tx = spark.read.parquet(
        os.path.join(warehouse_dir, "silver_transactions")
    )
    day = F.date_trunc("day", "executed_time").alias("date")
    base = tx.select("account", day, "tx_type", "result")
    totals = base.groupBy("account", "date").agg(
        F.count("*").cast("long").alias("transaction_count")
    )

    def _count_map(col: str, alias: str) -> DataFrame:
        per = base.groupBy("account", "date", col).agg(
            F.count("*").cast("long").alias("n")
        )
        return per.groupBy("account", "date").agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct(col, "n")))
            ).alias(alias)
        )

    gold_tx = (
        totals.join(_count_map("tx_type", "type"), ["account", "date"])
        .join(_count_map("result", "result"), ["account", "date"])
    )
    gold_tx.write.mode("overwrite").parquet(
        os.path.join(out_dir, ACCOUNT_STATS_TABLES["transactions"])
    )

    bc = spark.read.parquet(
        os.path.join(warehouse_dir, "silver_balance_changes")
    )
    gold_val = bc.groupBy(
        "account", F.date_trunc("day", "executed_time").alias("date")
    ).agg(
        F.sum(
            F.when(
                F.col("currency") == "XRP", F.abs(F.col("change"))
            ).cast("decimal(38,6)")
        )
        .cast("string")
        .alias("account_value"),
        F.count("*").cast("long").alias("balance_change_count"),
    )
    gold_val.write.mode("overwrite").parquet(
        os.path.join(out_dir, ACCOUNT_STATS_TABLES["value"])
    )


def _account_stats_page(
    spark: SparkSession,
    table_dir: str,
    account: str,
    family: str,
    start: str | None,
    end: str | None,
    date: str | None,
    descending: bool,
) -> DataFrame:
    """The filtered, ordered (unlimited) page for the stats route.

    Mirrored quirks (accountStats.js:15-53 + getAccountStats,
    data.js:699-786): the family whitelist is the ROUTE's
    ['transactions', 'value'] (data.js also knows 'exchanges'; the
    route rejects it); a date param sets start = end = date; BOTH
    bounds go through the smoment whitelist (invalid -> the route's
    400 strings); the stop bound uses hbaseFormatSTARTRow -- the raw
    parsed instant, end-EXCLUSIVE with NO +1-granule ceiling, unlike
    every other read's hbaseFormatStopRow (mocha pin: start
    2015-01-01, end 2015-01-16 over 20 daily rows returns 15); and
    when end lands within a day of start, start is floored to its
    day (`if (!days) start.startOf('day')`) -- which makes a bare
    YYYY-MM-DD date param serve the EMPTY [d, d) range, a faithful
    reference quirk."""
    import datetime as _dt

    from ..functions.timeutils import smoment_parse

    if date is not None:
        start_p = end_p = smoment_parse(date)
    else:
        start_p = smoment_parse(start if start is not None else "2013-01-01")
        end_p = (
            smoment_parse(end)
            if end is not None
            else (_dt.datetime.utcnow(), "ms")
        )
    # the route validates the DATES before the family
    # (accountStats.js:33-40 precede the :54 whitelist), so a request
    # with both wrong gets the date error string
    if start_p is None:
        raise ValueError("invalid start date format")
    if end_p is None:
        raise ValueError("invalid end date format")
    if family not in ACCOUNT_STATS_TABLES:
        raise ValueError("invalid family")
    s, e = start_p[0], end_p[0]
    # moment.diff truncates toward ZERO (not floor): an end 6 h BEFORE
    # start is still "0 days" and floors start to its day -- which can
    # make a backwards sub-day range serve that day's midnight row
    days = int((e - s).total_seconds() / 86400)
    if not days:
        s = s.replace(hour=0, minute=0, second=0, microsecond=0)
    df = spark.read.parquet(
        os.path.join(table_dir, ACCOUNT_STATS_TABLES[family])
    )
    page = df.filter(
        (F.col("account") == account)
        & (F.col("date") >= F.lit(s))
        & (F.col("date") < F.lit(e))
    ).drop("account")  # formatResults deletes d:account + rowkey
    return page.orderBy(
        F.col("date").desc() if descending else F.col("date")
    )


def get_account_stats_xrpl(
    spark: SparkSession,
    table_dir: str,
    account: str,
    family: str,
    start: str | None = None,
    end: str | None = None,
    date: str | None = None,
    descending: bool = False,
    limit: int = 200,
) -> DataFrame:
    """GET /v2/accounts/{address}/stats/{family} (accountStats.js):
    the account's daily aggregate rows -- transaction count/type/result
    maps, or balance-change value stats -- over the date-keyed gold
    tables build_account_stats derives from the warehouse.  limit
    clamps 200-default/1000-max (:41-46).  CSV mode is the shared
    flattenJSON path (operators/reports.py).  Marker pagination lives
    in page_account_stats_xrpl.  Scale: the account+date predicate
    prunes to one account's day rows before the sort -- the page is
    at most (days, 1000) rows regardless of warehouse size."""
    page = _account_stats_page(
        spark, table_dir, account, family, start, end, date, descending
    )
    return page.limit(_page_limit(limit))


def page_account_stats_xrpl(
    spark: SparkSession,
    table_dir: str,
    account: str,
    family: str,
    start: str | None = None,
    end: str | None = None,
    date: str | None = None,
    descending: bool = False,
    limit: int = 200,
    marker: str | None = None,
):
    """Marker pagination for the stats route.  The reference's marker
    is the LITERAL next rowkey `account|YYYYMMDDHHmmss` (the mocha
    link-header pin, test.account.stats.js:173-186), i.e. the first
    UNSERVED row's key, resumed INCLUSIVELY -- getScanWithMarker's
    limit+1 probe with startRow = marker.  Keyset, never OFFSET.
    Returns (rows, next_marker)."""
    page = _account_stats_page(
        spark, table_dir, account, family, start, end, date, descending
    )
    limit = _page_limit(limit)
    if marker:
        try:
            key = marker.rsplit("|", 1)[1]
        except IndexError as exc:
            raise ValueError(f"invalid marker: {marker!r}") from exc
        after = F.to_timestamp(F.lit(key), _STATS_KEY_FMT)
        page = page.filter(
            F.col("date") <= after if descending else F.col("date") >= after
        )
    rows = page.limit(limit + 1).collect()
    next_marker = None
    if len(rows) > limit:
        key = rows[limit].date.strftime("%Y%m%d%H%M%S")
        next_marker = f"{account}|{key}"
    return rows[:limit], next_marker


def get_account_balances_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    account: str,
    as_of_ledger: int | None = None,
    use_snapshot: bool | None = None,
) -> DataFrame:
    """GET /v2/accounts/{address}/balances, point-in-time: the reference
    resolves close-time -> ledger_index and then asks a LIVE rippled node
    (accountBalances.js:93-127, rippled.js:174-269) -- the one read it
    cannot serve from its own tables.  Here state reconstructs from the
    event log (SURVEY 7.6b): every balance-change row carries
    final_balance, so the balance as of ledger L is the final_balance of
    the account's LAST change at or before L, per (currency,
    counterparty) line.

    ``use_snapshot=None`` (the default) serves from the
    gold_balance_snapshots checkpoint table when the warehouse has one
    -- query cost bounded by the gold table + one date partition instead
    of O(history) -- and falls back to the full replay otherwise;
    ``False`` forces the replay (the equality-law tests pin
    snapshot == replay at many as-of points, so the switch is
    observationally invisible).

    Scale (replay form): one hash aggregation (max_by over the packed
    event key) per account filter; no window sort."""
    validate_address(account)
    if use_snapshot is None:
        use_snapshot = os.path.isdir(
            os.path.join(warehouse_dir, "gold_balance_snapshots")
        )
    if use_snapshot:
        return get_account_balances_snapshot(
            spark, warehouse_dir, account, as_of_ledger
        )
    bc = spark.read.parquet(
        os.path.join(warehouse_dir, "silver_balance_changes")
    ).filter(F.col("account") == account)
    if as_of_ledger is not None:
        bc = bc.filter(F.col("ledger_index") <= as_of_ledger)
    key = (
        (F.col("ledger_index").cast("long") * 100_000 + F.col("tx_index")) * 100_000
        + F.col("node_index") + 1  # fee rows are node_index -1
    )
    return (
        bc.groupBy(
            "currency",
            F.coalesce(F.col("counterparty"), F.lit("")).alias("counterparty"),
        )
        .agg(
            F.max_by("final_balance", key).alias("balance"),
            F.max("ledger_index").alias("last_change_ledger"),
        )
        .orderBy("currency", "counterparty")
    )


def _bc_key() -> F.Column:
    """Total order over balance-change rows: (ledger, tx, node); fee
    rows are node_index -1, hence the +1."""
    return (
        (F.col("ledger_index").cast("long") * 100_000 + F.col("tx_index"))
        * 100_000
        + F.col("node_index")
        + 1
    )


def balance_snapshots(bc: DataFrame) -> DataFrame:
    """The daily balance-checkpoint gold table (SURVEY 7.4.6): per
    (account, currency, counterparty, date), the line's LAST
    final_balance of that day.  Sparse -- one row per line per ACTIVE
    day, so the table grows with activity, not with accounts x days.
    One keyed aggregation over the balance-change stream; at 100 TB the
    daily incremental build aggregates only the new date partition and
    appends it (the same idempotent per-date overwrite as every silver
    table)."""
    return bc.groupBy(
        "account",
        "currency",
        F.coalesce(F.col("counterparty"), F.lit("")).alias("counterparty"),
        "date",
    ).agg(
        F.max_by("final_balance", _bc_key()).alias("balance"),
        F.max("ledger_index").alias("last_change_ledger"),
    )


def asof_balances_via_snapshot(
    spark: SparkSession,
    warehouse_dir: str,
    as_of_ledger: int,
    account: str | None = None,
) -> DataFrame:
    """Point-in-time balances for ALL accounts (or one) as of a ledger,
    answered as daily snapshot + same-day tail replay instead of an
    O(history) scan:

      1. resolve the as-of ledger's DAY from the ledger headers (one
         bounded 1-row collect -- a literal date, so the tail scan
         partition-prunes statically);
      2. last checkpoint per line with date < D from
         gold_balance_snapshots (the compact gold table);
      3. tail: silver_balance_changes for date == D only, ledger_index
         <= L, last row per line by the packed (ledger, tx, node) key;
      4. per line, the tail wins when present (its ledger is
         necessarily newer -- ledger indexes are close-time-monotonic,
         so snapshot days strictly precede the tail day).

    Equals get_account_balances_xrpl (the full replay) at every as-of
    point -- asserted in tests/test_xrpl_etl.py and by the
    golden_balance_snapshot_asof driver oracle.  Query cost: the gold
    table plus ONE date partition of the change stream, vs the replay's
    whole history."""
    out_schema = (
        "account string, currency string, counterparty string, "
        "balance double, last_change_ledger long"
    )
    led = spark.read.parquet(os.path.join(warehouse_dir, "bronze_ledgers"))
    d_row = (
        led.filter(F.col("ledger_index") <= as_of_ledger)
        .agg(F.max(F.to_date("close_time")).alias("d"))
        .collect()[0]
    )
    if d_row["d"] is None:  # as-of precedes all stored history
        return local_df(spark, [], out_schema)
    asof_date = d_row["d"]

    snaps = spark.read.parquet(
        os.path.join(warehouse_dir, "gold_balance_snapshots")
    )
    if account is not None:
        snaps = snaps.filter(F.col("account") == account)
    snap_last = (
        snaps.filter(F.col("date") < F.lit(asof_date))
        .groupBy("account", "currency", "counterparty")
        .agg(
            F.max_by(
                F.struct("balance", "last_change_ledger"), "last_change_ledger"
            ).alias("s")
        )
        .select("account", "currency", "counterparty", "s.balance",
                "s.last_change_ledger")
    )

    tail = spark.read.parquet(
        os.path.join(warehouse_dir, "silver_balance_changes")
    ).filter(
        (F.col("date") == F.lit(asof_date))
        & (F.col("ledger_index") <= as_of_ledger)
    )
    if account is not None:
        tail = tail.filter(F.col("account") == account)
    tail_last = (
        tail.groupBy(
            "account",
            "currency",
            F.coalesce(F.col("counterparty"), F.lit("")).alias("counterparty"),
        )
        .agg(
            F.max_by("final_balance", _bc_key()).alias("balance"),
            F.max("ledger_index").alias("last_change_ledger"),
        )
    )

    return (
        snap_last.unionByName(tail_last)
        .groupBy("account", "currency", "counterparty")
        .agg(
            F.max_by(
                F.struct("balance", "last_change_ledger"), "last_change_ledger"
            ).alias("s")
        )
        .select("account", "currency", "counterparty", "s.balance",
                "s.last_change_ledger")
    )


def get_account_balances_snapshot(
    spark: SparkSession,
    warehouse_dir: str,
    account: str,
    as_of_ledger: int | None = None,
) -> DataFrame:
    """get_account_balances_xrpl answered from the snapshot table: same
    API, same result (equality-law-tested), but bounded query cost.
    as_of_ledger=None means latest -- the last checkpoint per line IS
    the current balance, so no tail replay is needed at all."""
    validate_address(account)
    if as_of_ledger is None:
        snaps = spark.read.parquet(
            os.path.join(warehouse_dir, "gold_balance_snapshots")
        ).filter(F.col("account") == account)
        return (
            snaps.groupBy("currency", "counterparty")
            .agg(
                F.max_by(
                    F.struct("balance", "last_change_ledger"),
                    "last_change_ledger",
                ).alias("s")
            )
            .select("currency", "counterparty", F.col("s.balance").alias("balance"),
                    F.col("s.last_change_ledger").alias("last_change_ledger"))
            .orderBy("currency", "counterparty")
        )
    return (
        asof_balances_via_snapshot(spark, warehouse_dir, as_of_ledger, account)
        .select("currency", "counterparty", "balance", "last_change_ledger")
        .orderBy("currency", "counterparty")
    )


# change_type labels that always ride on a DeletedNode
# (offers.js:145-174 decision table); kept for documentation/tests.
# NOT the open-set rule: an offer leaves the book exactly when its last
# event is a DeletedNode, whatever the label -- an unfunded
# partial-fill deletion is labelled 'unfunded_partial_fill' (and a
# zero-change deletion falls through the table to NULL), yet the entry
# is gone from ledger state, so rippled's account_offers (which the
# reference proxies) would not serve it.  Pinned against a pure-Python
# raw-ledger replay in tests/test_account_orders_pins.py.
_CLOSING = ("cancel", "fill", "replace", "unfunded_cancel")


def _offer_open() -> F.Column:
    """Open iff the offer still exists in ledger state: the last event
    did not delete the entry (node_type is in _OFFER_STATE) and it has
    an amount left to pay."""
    return (F.col("node_type") != "DeletedNode") & (F.col("pays_value") > 0)


# the per-offer state an open-orders response serves (accountOrders.js
# funded/quality fields map onto the last event's taker amounts);
# node_type carries the existence bit for _offer_open and is dropped
# before serving.
_OFFER_STATE = (
    "change_type", "node_type", "pays_currency", "pays_issuer",
    "pays_value", "gets_currency", "gets_issuer", "gets_value", "rate",
    "ledger_index", "expiration",
)

_ORDERS_SCHEMA = (
    "offer_sequence long, change_type string, pays_currency string, "
    "pays_issuer string, pays_value double, gets_currency string, "
    "gets_issuer string, gets_value double, rate double, "
    "ledger_index long, expiration timestamp"
)


def _offer_key() -> F.Column:
    """Total order over offer-event rows: (ledger, tx, node)."""
    return (
        (F.col("ledger_index").cast("long") * 100_000 + F.col("tx_index"))
        * 100_000
        + F.col("node_index")
    )


def open_offer_snapshots(of: DataFrame) -> DataFrame:
    """The daily offer-state checkpoint gold table (the pattern
    balances got in gold_balance_snapshots, round-7 verdict item #5):
    per (owner, offer_sequence, date), the offer's LAST event state of
    that day plus its packed event key.  Sparse -- one row per offer
    per ACTIVE day, so the table grows with book activity, not with
    offers x days.  One keyed aggregation over the offer-event stream;
    the daily incremental build aggregates only the new date partition
    and appends it (same idempotent per-date overwrite as every silver
    table).  Closed offers keep their final (closing) checkpoint row:
    the as-of reader needs it to know the offer LEFT the book."""
    return (
        of.groupBy("owner", "offer_sequence", "date")
        .agg(
            F.max_by(F.struct(*_OFFER_STATE), _offer_key()).alias("s"),
            F.max(_offer_key()).alias("last_key"),
        )
        .select("owner", "offer_sequence", "date", "last_key", "s.*")
    )


def asof_open_offers_via_snapshot(
    spark: SparkSession,
    warehouse_dir: str,
    account: str | None,
    as_of_ledger: int | None = None,
) -> DataFrame:
    """Open offers for one account (or ALL accounts, ``account=None``,
    the warehouse-wide form the golden_open_offers_asof driver row
    re-proves) as of a ledger, answered as daily checkpoint + same-day
    tail replay instead of an O(history) event scan:

      1. resolve the as-of ledger's DAY from the ledger headers (one
         bounded 1-row collect -- a literal date, so the tail scan
         partition-prunes statically);
      2. last checkpoint per offer with date < D from gold_open_offers;
      3. tail: silver_offers for date == D only, ledger_index <= L,
         last event per offer by the packed (ledger, tx, node) key;
      4. per offer the row with the larger packed key wins (keys are
         close-time-monotonic, so snapshot days strictly precede the
         tail day), then the open-set filter (last event not a
         DeletedNode, pays_value > 0 -- rippled ledger-state existence)
         applies exactly as in the replay.

    as_of_ledger=None means latest: the newest checkpoint per offer IS
    its current state, so no tail scan runs at all.  Equals
    get_account_orders_xrpl(use_snapshot=False) at every as-of point --
    asserted in tests/test_xrpl_etl.py and by the
    golden_open_offers_asof driver oracle.  Query cost: the gold table
    plus at most ONE date partition of the offer stream, vs the
    replay's whole history."""
    snaps = spark.read.parquet(
        os.path.join(warehouse_dir, "gold_open_offers")
    )
    if account is not None:
        snaps = snaps.filter(F.col("owner") == account)
    state = F.struct("last_key", *_OFFER_STATE)

    if as_of_ledger is None:
        last = snaps.groupBy("owner", "offer_sequence").agg(
            F.max_by(state, "last_key").alias("s")
        )
    else:
        led = spark.read.parquet(os.path.join(warehouse_dir, "bronze_ledgers"))
        d_row = (
            led.filter(F.col("ledger_index") <= as_of_ledger)
            .agg(F.max(F.to_date("close_time")).alias("d"))
            .collect()[0]
        )
        if d_row["d"] is None:  # as-of precedes all stored history
            return local_df(
                spark, [], ("owner string, " if account is None else "")
                + _ORDERS_SCHEMA
            )
        asof_date = d_row["d"]
        snap_last = snaps.filter(F.col("date") < F.lit(asof_date)).select(
            "owner", "offer_sequence", state.alias("s")
        )
        tail = spark.read.parquet(
            os.path.join(warehouse_dir, "silver_offers")
        ).filter(
            (F.col("date") == F.lit(asof_date))
            & (F.col("ledger_index") <= as_of_ledger)
        )
        if account is not None:
            tail = tail.filter(F.col("owner") == account)
        tail = tail.select(
            "owner",
            "offer_sequence",
            F.struct(_offer_key().alias("last_key"), *_OFFER_STATE).alias("s"),
        )
        last = (
            snap_last.unionByName(tail)
            .groupBy("owner", "offer_sequence")
            .agg(F.max_by("s", F.col("s.last_key")).alias("s"))
        )
    out = (
        last.select("owner", "offer_sequence", "s.*")
        .drop("last_key")
        .filter(_offer_open())
        .drop("node_type")
    )
    if account is not None:
        return out.drop("owner").orderBy("offer_sequence")
    return out.orderBy("owner", "offer_sequence")


def get_account_orders_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    account: str,
    as_of_ledger: int | None = None,
    use_snapshot: bool | None = None,
) -> DataFrame:
    """GET /v2/accounts/{address}/orders, point-in-time: open offers as
    of ledger L, reconstructed from the silver offer-event stream -- the
    reference proxies this to live rippled (accountOrders.js:82-114).
    An offer (owner, sequence) is open iff its last event at or before L
    did not DELETE the ledger entry (node_type != DeletedNode -- exactly
    rippled's state, which account_offers serves; change_type labels
    alone under-close: an unfunded partial-fill deletion is not in
    _CLOSING yet the entry is gone); remaining amounts come from that
    last event's taker_pays/taker_gets.

    ``use_snapshot=None`` (the default) serves from the gold_open_offers
    checkpoint table when the warehouse has one -- query cost bounded by
    the gold table + at most one date partition instead of O(history) --
    and falls back to the full replay otherwise; ``False`` forces the
    replay (the equality-law tests pin snapshot == replay at many as-of
    points, so the switch is observationally invisible)."""
    validate_address(account)
    if use_snapshot is None:
        use_snapshot = os.path.isdir(
            os.path.join(warehouse_dir, "gold_open_offers")
        )
    if use_snapshot:
        return asof_open_offers_via_snapshot(
            spark, warehouse_dir, account, as_of_ledger
        )
    of = spark.read.parquet(
        os.path.join(warehouse_dir, "silver_offers")
    ).filter(F.col("owner") == account)
    if as_of_ledger is not None:
        of = of.filter(F.col("ledger_index") <= as_of_ledger)
    last = of.groupBy("offer_sequence").agg(
        F.max_by(F.struct(*_OFFER_STATE), _offer_key()).alias("s")
    )
    return (
        last.select("offer_sequence", "s.*")
        .filter(_offer_open())
        .drop("node_type")
        .orderBy("offer_sequence")
    )


# The reference's public candle interval set (data.js:16-29), as
# arguments to reduce_candles.
INTERVALS_ALL = {
    "1minute": 1, "5minute": 5, "15minute": 15, "30minute": 30,
    "1hour": 60, "2hour": 120, "4hour": 240, "1day": 1440,
    "3day": "3day", "7day": "7day", "1month": "1month", "1year": "1year",
}


def build_agg_exchanges(spark: SparkSession, warehouse_dir: str) -> str:
    """Materialize the reference's ``agg_exchanges`` table: every
    interval's candles in ONE table partitioned by ``interval`` -- the
    rowkey-prefix-per-interval physical layout (data.js:1683-1687)
    becomes a partition column that Catalyst prunes automatically.
    Every interval re-reduces gold_1m (never raw), so the whole build
    reads the 1-minute table twelve times and nothing else."""
    gold = spark.read.parquet(os.path.join(warehouse_dir, "gold_candles_1m"))
    out = os.path.join(warehouse_dir, "gold_agg_exchanges")
    parts = []
    for name, arg in INTERVALS_ALL.items():
        parts.append(
            reduce_candles(gold, arg).withColumn("interval", F.lit(name))
        )
    all_parts = parts[0]
    for p in parts[1:]:
        all_parts = all_parts.unionByName(p)
    all_parts.write.mode("overwrite").partitionBy("interval").parquet(out)
    return out


# CSV column order for the exchanges endpoint (getExchanges.js:161-215
# keeps a fixed header order and stringifies amounts at full precision).
CSV_COLUMNS = [
    "start", "interval", "base_currency", "base_issuer",
    "counter_currency", "counter_issuer", "open", "high", "low", "close",
    "base_volume", "counter_volume", "buy_volume", "count", "vwap",
]


def format_candles_csv(candles: DataFrame, interval: str) -> DataFrame:
    """CSV response shaping (format=csv, api/server.js:58,
    utils.js:142-168): fixed column order, ISO times, amounts as
    precision-stable strings -- formatting stays out of the engine and
    in this projection."""
    # empty string for absent values (e.g. a bucket with no taker buys
    # has null buy_volume), matching the CSV writer's blank cells
    num = lambda c: F.coalesce(F.format_number(F.col(c), 8), F.lit("")).alias(c)  # noqa: E731
    return candles.select(
        F.date_format("start", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("start"),
        F.lit(interval).alias("interval"),
        "base_currency",
        F.coalesce("base_issuer", F.lit("")).alias("base_issuer"),
        "counter_currency",
        F.coalesce("counter_issuer", F.lit("")).alias("counter_issuer"),
        num("open"), num("high"), num("low"), num("close"),
        num("base_volume"), num("counter_volume"), num("buy_volume"),
        F.col("count").cast("string").alias("count"),
        num("vwap"),
    )


def page_exchanges_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    base: str,
    counter: str,
    limit: int = 200,
    marker: str | None = None,
    descending: bool = False,
):
    """Marker pagination over the raw exchange list (getScanWithMarker,
    hbase-thrift/index.js:412-452): limit+1 probe; the opaque marker is
    the base64 sort-key scalar of the last row served.  Returns
    (rows, next_marker)."""
    import base64

    ex = get_exchanges_xrpl(
        spark, warehouse_dir, base, counter, descending=descending
    )
    key = (
        (F.col("ledger_index").cast("long") * 100_000 + F.col("tx_index")) * 100_000
        + F.col("node_index")
    ).alias("_k")
    ex = ex.select("*", key)
    if marker:
        try:
            after = int(base64.urlsafe_b64decode(marker.encode()))
        except Exception as exc:  # noqa: BLE001
            raise ValueError(f"invalid marker: {marker!r}") from exc
        ex = ex.filter(F.col("_k") < after if descending else F.col("_k") > after)
    order = F.col("_k").desc() if descending else F.col("_k")
    rows = ex.orderBy(order).limit(limit + 1).collect()
    next_marker = None
    if len(rows) > limit:
        last = rows[limit - 1]
        next_marker = base64.urlsafe_b64encode(str(last._k).encode()).decode()
    return [r for r in rows[:limit]], next_marker


def get_exchange_rate_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    base: str,
    counter: str,
    date: str | None = None,
    strict: bool = True,
) -> DataFrame:
    """GET /v2/exchange_rates/{base}/{counter} (data.js:1318-1455):
    rate = avg(daily VWAP of the calendar day containing t, VWAP of the
    last <=50 trades in the 14 days before t); strict mode zeroes the
    recent leg under 10 trades; identity pair -> 1; and -- reference
    quirk preserved -- if the recent leg is 0 the result is 0 even when
    the daily leg exists (data.js:1444-1449 returns rates[1])."""
    b_cur, b_iss = parse_currency(base)
    c_cur, c_iss = parse_currency(counter)
    if (b_cur, b_iss) == (c_cur, c_iss):
        return spark.range(1).select(
            F.lit(1.0).alias("rate"),
            F.lit(None).cast("double").alias("rate_daily"),
            F.lit(None).cast("double").alias("rate_latest"),
            F.lit(None).cast("long").alias("n_recent"),
        )
    ex = get_exchanges_xrpl(spark, warehouse_dir, base, counter)
    anchor = (
        F.lit(date).cast("timestamp")
        if date
        else spark.read.parquet(os.path.join(warehouse_dir, "silver_exchanges"))
        .agg(F.max("executed_time"))
        .first()[0]
    )
    ex = ex.withColumn("_t", F.lit(anchor).cast("timestamp"))
    dec = lambda c: F.col(c).cast("decimal(38,18)")  # noqa: E731

    # exact decimal sums, ONE double division (decimal/decimal in Spark
    # truncates the quotient's scale to 6 -- not acceptable for rates)
    day = ex.filter(
        F.date_trunc("day", "executed_time") == F.date_trunc("day", "_t")
    ).agg(
        (
            F.sum(dec("counter_amount")).cast("double")
            / F.sum(dec("base_amount")).cast("double")
        ).alias("rate_daily")
    )

    recent_window = ex.filter(
        (F.col("executed_time") <= F.col("_t"))
        & (F.col("executed_time") > F.col("_t") - F.expr("INTERVAL 14 DAY"))
    )
    key = (
        (F.col("ledger_index").cast("long") * 100_000 + F.col("tx_index")) * 100_000
        + F.col("node_index")
    )
    last50 = recent_window.orderBy(key.desc()).limit(50)
    min_trades = 10 if strict else 0
    recent = last50.agg(
        F.when(
            F.count("*") >= F.greatest(F.lit(min_trades), F.lit(1)),
            F.sum(dec("counter_amount")).cast("double")
            / F.sum(dec("base_amount")).cast("double"),
        ).alias("rate_latest"),
        F.count("*").alias("n_recent"),
    )
    both = day.join(recent)
    rate = (
        F.when(
            F.col("rate_daily").isNotNull() & F.col("rate_latest").isNotNull(),
            (F.col("rate_daily") + F.col("rate_latest")) / 2,
        )
        .otherwise(F.coalesce(F.col("rate_latest"), F.lit(0.0)))
        .alias("rate")
    )
    return both.select(rate, "rate_daily", "rate_latest", "n_recent")


# r-address validation (the API layer's isValidAddress gate,
# api/routes/accountBalances.js:30-36).  The regex is the cheap
# pre-filter; a match then goes through the full base58check decode
# (version byte 0x00 + 4-byte double-SHA256 checksum) exactly like the
# reference's ripple-address-codec call, reusing the engine's binary
# codec machinery (functions/xrpl_binary.py).
XRPL_ADDRESS_RE = re.compile(r"^r[1-9A-HJ-NP-Za-km-z]{24,34}$")


def validate_address(address: str) -> str:
    if not XRPL_ADDRESS_RE.match(address or ""):
        raise ValueError(f"invalid address: {address!r}")
    from rippled_historical_database_spark.functions.xrpl_binary import (
        address_to_account_id,
    )

    try:
        address_to_account_id(address)  # raises on bad checksum/version
    except ValueError as exc:
        raise ValueError(f"invalid address: {address!r}") from exc
    return address


def get_account_reports_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    account: str,
    start: str,
    end: str,
    descending: bool = False,
    accounts: bool = False,
    payments: bool = False,
) -> DataFrame:
    """GET /v2/accounts/{address}/reports
    (api/routes/accountReports.js + the accountPayments aggregation,
    lib/aggregation/accountPayments.js:52-307): per-day payment
    activity buckets for one account over an INCLUSIVE day spine --
    getAggregateAccountPayments enumerates a rowkey per day from start
    to end (`while (end.diff(start) >= 0)`, data.js:398-405) and
    ZERO-FILLS days with no bucket, which is why the mocha range
    2015-01-14..16 serves 3 rows around a single payment.

    Bucket semantics (aggregation adjust(), :222-280): the sender
    perspective counts payments_sent, adds the destination to
    receiving_counterparties, folds total/high value SENT; the
    receiver perspective mirrors.  Values are the XRP-NORMALIZED
    delivered amount (normalize(), :173-213): XRP passes through,
    an IOU divides by getExchangeRate(XRP/currency.issuer) at the
    payment's own time (default strict mode, data.js:1436), a null
    issuer or missing rate normalizes to 0 -- computed here by
    evaluating the engine's bit-exact rate operator once per distinct
    (currency, issuer, time) triple of THIS account's IOU payments (a
    bounded set, account-filtered like every other page route) and
    broadcast-joining the resulting rate map.

    ``accounts`` serves the counterparty ARRAYS instead of their
    counts (accountReports.js:31-34); ``payments`` embeds the per-
    payment list (:36-43).  ``descending`` reverses the spine."""
    from ..functions.timeutils import smoment_parse

    validate_address(account)
    parsed_start, parsed_end = smoment_parse(start), smoment_parse(end)
    if parsed_start is None or parsed_end is None:
        raise ValueError("invalid date format")
    d0 = parsed_start[0].date()
    d1 = parsed_end[0].date()

    p = (
        spark.read.parquet(os.path.join(warehouse_dir, "silver_payments"))
        .filter(
            (F.col("source") == account) | (F.col("destination") == account)
        )
        .withColumn("date", F.to_date("executed_time"))
        .filter(F.col("date").between(F.lit(d0), F.lit(d1)))
    )

    # rate map for the account's IOU payments: one bit-exact operator
    # evaluation per distinct (currency, issuer, time) -- bounded by
    # the page, mirrors the aggregation's per-payment getExchangeRate
    triples = (
        p.filter(F.col("currency") != "XRP")
        .filter(F.col("issuer").isNotNull())
        .select("currency", "issuer", "executed_time")
        .distinct()
        .collect()
    )
    # Each triple's rate is an independent 2-job evaluation; running
    # them SERIALLY makes the route's wall clock linear in distinct
    # payment times (36 sequential driver round-trips for the pinned
    # IOU sender).  Submit them through a shared pool instead -- the
    # jobs are read-only and Spark schedules them concurrently.  (The
    # single-plan form -- broadcast the anchor triples into one
    # exchanges scan, per-anchor top-50 window -- is the eventual
    # 100 TB shape; the per-triple operator is kept because its
    # bit-exactness is what the route's mocha pins certify.)
    def _one_rate(t):
        rate = get_exchange_rate_xrpl(
            spark,
            warehouse_dir,
            "XRP",
            f"{t.currency}+{t.issuer}",
            date=str(t.executed_time),
        ).first()["rate"]
        return (t.currency, t.issuer, t.executed_time, float(rate or 0.0))

    rate_rows = []
    if triples:
        with ThreadPoolExecutor(max_workers=min(8, len(triples))) as pool:
            rate_rows = list(pool.map(_one_rate, triples))
    if rate_rows:
        rates = local_df(
            spark,
            rate_rows,
            "currency string, issuer string, executed_time timestamp, "
            "rate double",
        )
        p = p.join(
            F.broadcast(rates), ["currency", "issuer", "executed_time"], "left"
        )
    else:
        p = p.withColumn("rate", F.lit(None).cast("double"))

    normalized = (
        F.when(F.col("currency") == "XRP", F.col("delivered_amount"))
        .when(F.col("issuer").isNull(), F.lit(0.0))
        .when(
            F.col("rate").isNotNull() & (F.col("rate") != 0.0),
            F.col("delivered_amount") / F.col("rate"),
        )
        .otherwise(F.lit(0.0))
    )
    sent = p.filter(F.col("source") == account).select(
        "date",
        F.lit(1).alias("n_sent"),
        F.lit(0).alias("n_recv"),
        F.col("destination").alias("rcp"),
        F.lit(None).cast("string").alias("scp"),
        normalized.alias("v_sent"),
        F.lit(0.0).alias("v_recv"),
        F.struct(
            "tx_hash",
            F.col("delivered_amount").alias("amount"),
            "currency",
            "issuer",
            F.lit("sent").alias("type"),
        ).alias("pmt"),
    )
    recv = p.filter(F.col("destination") == account).select(
        "date",
        F.lit(0).alias("n_sent"),
        F.lit(1).alias("n_recv"),
        F.lit(None).cast("string").alias("rcp"),
        F.col("source").alias("scp"),
        F.lit(0.0).alias("v_sent"),
        normalized.alias("v_recv"),
        F.struct(
            "tx_hash",
            F.col("delivered_amount").alias("amount"),
            "currency",
            "issuer",
            F.lit("received").alias("type"),
        ).alias("pmt"),
    )
    buckets = (
        sent.unionByName(recv)
        .groupBy("date")
        .agg(
            F.sum("n_sent").alias("payments_sent"),
            F.sum("n_recv").alias("payments_received"),
            F.collect_set("rcp").alias("receiving_counterparties_list"),
            F.collect_set("scp").alias("sending_counterparties_list"),
            dsum_d(F.col("v_sent")).alias("total_value_sent"),
            dsum_d(F.col("v_recv")).alias("total_value_received"),
            F.max(F.greatest(F.col("v_sent"), F.lit(0.0))).alias(
                "high_value_sent"
            ),
            F.max(F.greatest(F.col("v_recv"), F.lit(0.0))).alias(
                "high_value_received"
            ),
            F.collect_list("pmt").alias("payments_list"),
        )
    )

    # inclusive day spine, zero-filled (data.js:398-405 + the Bucket
    # defaults at :337-356).  The reference's `while (end.diff(start)
    # >= 0)` loop yields ZERO spine days when end precedes start;
    # Spark's sequence() would instead throw on a negative range, so
    # guard the degenerate order into the same empty result.
    if d1 < d0:
        spine = spark.range(0).select(F.lit(d0).alias("date"))
    else:
        spine = spark.range(1).select(
            F.explode(
                F.sequence(F.lit(d0), F.lit(d1), F.expr("INTERVAL 1 DAY"))
            ).alias("date")
        )
    joined = spine.join(F.broadcast(buckets), "date", "left")
    z = lambda c, t="long": F.coalesce(F.col(c), F.lit(0).cast(t))  # noqa: E731
    cp_r = F.coalesce(
        F.col("receiving_counterparties_list"),
        F.array().cast("array<string>"),
    )
    cp_s = F.coalesce(
        F.col("sending_counterparties_list"), F.array().cast("array<string>")
    )
    out = joined.select(
        F.col("date").cast("timestamp").alias("date"),
        F.lit(account).alias("account"),
        z("payments_sent").alias("payments_sent"),
        z("payments_received").alias("payments_received"),
        (cp_r if accounts else F.size(cp_r)).alias("receiving_counterparties"),
        (cp_s if accounts else F.size(cp_s)).alias("sending_counterparties"),
        z("high_value_sent", "double").alias("high_value_sent"),
        z("high_value_received", "double").alias("high_value_received"),
        z("total_value_sent", "double").alias("total_value_sent"),
        z("total_value_received", "double").alias("total_value_received"),
        (
            z("total_value_sent", "double")
            + z("total_value_received", "double")
        ).alias("total_value"),
        *(
            [
                F.coalesce(
                    F.col("payments_list"),
                    F.array().cast(
                        "array<struct<tx_hash:string,amount:double,"
                        "currency:string,issuer:string,type:string>>"
                    ),
                ).alias("payments")
            ]
            if payments
            else []
        ),
    )
    order = F.col("date").desc() if descending else F.col("date")
    return out.orderBy(order)


# --------------------------------------------- health-check plane

# GET /v2/health/{aspect?} (api/routes/checkHealth.js).  Serving-layer
# scalars, not a registered query: the route answers "how stale is the
# newest row" per pipeline aspect.  The three ledger-data aspects read
# the warehouse; the five external-feed aspects (forex, trades,
# orderbooks) read optional side tables and fall through the
# reference's own empty-scan semantics (newest = 0 -> gap = forever ->
# score 1) when the table is absent -- exactly what the reference
# serves over an empty HBase table.
HEALTH_DEFAULTS = {
    "api": {"threshold1": 5},
    "importer": {"threshold1": 60 * 5, "threshold2": 60 * 15},
    "validations_etl": {"threshold1": 60 * 2},
    "nodes_etl": {"threshold1": 60 * 2},
    "forex_etl": {"threshold1": 60 * 60 * 2.5},
    "trades_etl": {"threshold1": 60 * 5},
    "agg_trades_etl": {"threshold1": 60 * 15},
    "orderbook_etl": {"threshold1": 60 * 2},
}

_JS_NUMBER_RE = __import__("re").compile(
    r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|[+-]?Infinity|0[xX][0-9a-fA-F]+"
)


def _js_threshold(value, default: float) -> float:
    """`Number(req.query.threshold || default)` (checkHealth.js:443-444):
    absent/empty fall through `||` to the default BEFORE Number() runs;
    whitespace-only coerces to 0; 'Infinity' is legal; anything Number()
    maps to NaN (incl. 'nan'/'inf'/underscored digits, which Python's
    float() would happily parse) must 400 upstream -- signalled here by
    ValueError."""
    if value is None or value == "":
        return float(default)
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        return float(value)
    s = str(value).strip()
    if s == "":
        return 0.0  # Number('   ') is 0
    if not _JS_NUMBER_RE.fullmatch(s):
        raise ValueError("invalid threshold")
    if s.lower().startswith("0x"):
        return float(int(s, 16))
    if s.endswith("Infinity"):
        return float("-inf") if s.startswith("-") else float("inf")
    return float(s)


def _health_duration(ms: float) -> str:
    """checkHealth.js duration(): fixed-unit rendering, 'Infinity'
    passthrough, ORIGINAL ms in the seconds fallback."""
    import math

    if math.isinf(ms):
        return "Infinity"
    s = math.floor(ms / 1000)
    if math.floor(s / 31536000):
        return f"{s / 31536000:.2f}y"
    s %= 31536000
    if math.floor(s / 86400):
        return f"{s / 86400:.2f}d"
    s %= 86400
    if math.floor(s / 3600):
        return f"{s / 3600:.2f}h"
    s %= 3600
    if math.floor(s / 60):
        return f"{s / 60:.2f}m"
    out = ms / 1000
    return f"{int(out) if out == int(out) else out}s"


def _latest_ts_ms(spark: SparkSession, path: str, col: str) -> float:
    """MAX(col) of an optional parquet table in unix ms; 0 when the
    table is missing or empty (the reference's empty-scan resolve(0))."""
    import datetime as _dt

    if not os.path.isdir(path):
        return 0.0
    df = spark.read.parquet(path)
    if dict(df.dtypes).get(col) == "string":
        # validator_state stores ISO strings that may MIX offset forms
        # (and carry non-date sentinels): a lexicographic string MAX
        # picks the wrong instant across offsets, so parse EVERY row to
        # a timestamp first -- try_cast NULLs unparseable values (an
        # ANSI cast would throw on a sentinel), the reference's
        # `if (d.last_ledger_time)` skip
        df = df.withColumn(col, F.expr(f"try_cast({col} AS TIMESTAMP)"))
    top = df.agg(F.max(col)).collect()[0][0]
    if top is None:
        return 0.0
    if isinstance(top, _dt.datetime):
        if top.tzinfo is None:
            top = top.replace(tzinfo=_dt.timezone.utc)
        return top.timestamp() * 1000
    return float(top) * 1000


def check_health_xrpl(
    spark: SparkSession,
    warehouse_dir: str,
    aspect: str = "api",
    threshold=None,
    threshold2=None,
    verbose: bool = False,
    tables_dir: str | None = None,
    now_ms: float | None = None,
):
    """GET /v2/health/{aspect} (checkHealth.js): returns the verbose
    dict, or the score as a STRING like the route's res.send
    (score.toString()).  Mirrored: the 8-aspect whitelist ('invalid
    aspect type'), Number() threshold parsing where 'Infinity' is a
    legal value and non-numbers 400 ('invalid threshold'), the
    importer's 3/2/1/0 score ladder over (response time, ledger gap vs
    t1, last-validated gap vs t2), the ETL aspects' single-threshold
    gap scores, and duration-string rendering.  ``now_ms`` pins the
    clock for tests.  Documented divergence: an absent/empty topology
    table scores nodes_etl 1 like the getLatest aspects, where the
    reference's moment(undefined) arithmetic yields NaN rendering (or a
    500 on a scan error) -- a health endpoint should degrade, not
    crash.  Scale: every probe is a MAX() over one column or
    a 1-row tail read -- the health endpoint must not scan history."""
    import time as _time

    if aspect not in HEALTH_DEFAULTS:
        raise ValueError("invalid aspect type")
    d = HEALTH_DEFAULTS[aspect]
    t1 = _js_threshold(threshold, d.get("threshold1", 0))
    t2 = _js_threshold(threshold2, d.get("threshold2", 0))
    import math as _math

    if _math.isnan(t1) or _math.isnan(t2):
        raise ValueError("invalid threshold")
    tables_dir = tables_dir or warehouse_dir
    now = now_ms if now_ms is not None else _time.time() * 1000

    def _gap_response(newest_ms: float) -> dict | str:
        # getLatest resolves 0 for an empty scan (checkHealth.js:69-86)
        # and the gap is computed from EPOCH ZERO -- a huge but FINITE
        # "~56y" duration, not Infinity (that rendering is reserved for
        # validations_etl's empty-max path below)
        gap = (now - newest_ms) / 1000
        score = 0 if gap <= t1 else 1
        if verbose:
            return {
                "score": score,
                "gap": _health_duration(gap * 1000),
                "gap_threshold": _health_duration(t1 * 1000),
                "message": (
                    "last imported data exceeds threshold" if score else None
                ),
            }
        return str(score)

    if aspect in ("forex_etl", "trades_etl", "agg_trades_etl",
                  "orderbook_etl"):
        table = {
            "forex_etl": "forex_rates",
            "trades_etl": "external_trades",
            "agg_trades_etl": "agg_external_trades",
            "orderbook_etl": "external_orderbooks",
        }[aspect]
        return _gap_response(
            _latest_ts_ms(spark, os.path.join(tables_dir, table), "date")
        )
    if aspect == "nodes_etl":
        return _gap_response(
            _latest_ts_ms(
                spark, os.path.join(tables_dir, "topology_nodes"), "date"
            )
        )
    if aspect == "validations_etl":
        newest = _latest_ts_ms(
            spark,
            os.path.join(tables_dir, "validator_state"),
            "last_ledger_time",
        )
        # validationHealthCheck: `max ? gap : Infinity` -- unlike the
        # getLatest aspects, an EMPTY max renders the Infinity gap
        gap = (now - newest) / 1000 if newest else float("inf")
        score = 0 if gap <= t1 else 1
        if verbose:
            return {
                "score": score,
                "gap": _health_duration(gap * 1000),
                "gap_threshold": _health_duration(t1 * 1000),
                "message": (
                    "last imported data exceeds threshold" if score else None
                ),
            }
        return str(score)

    # api / importer: time the canonical 1-row probe (getLedger({}) --
    # the newest ledger row)
    t0 = _time.time()
    ledgers = spark.read.parquet(os.path.join(warehouse_dir, "bronze_ledgers"))
    latest_close = ledgers.agg(F.max("close_time")).collect()[0][0]
    response_time = _time.time() - t0

    if aspect == "api":
        if response_time < 0:
            score, message = 2, "invalid response time"
        elif response_time > t1:
            score, message = 1, "response time exceeds threshold"
        else:
            score, message = 0, None
        if verbose:
            return {
                "score": score,
                "response_time": _health_duration(response_time * 1000),
                "response_time_threshold": _health_duration(t1 * 1000),
                "message": message,
            }
        return str(score)

    # importer
    import datetime as _dt

    if latest_close is not None and latest_close.tzinfo is None:
        latest_close = latest_close.replace(tzinfo=_dt.timezone.utc)
    ledger_gap = (
        (now - latest_close.timestamp() * 1000) / 1000 if latest_close else 0
    )
    ctl_path = os.path.join(tables_dir, "control")
    last_validated = None
    if os.path.isdir(ctl_path):
        rows = spark.read.parquet(ctl_path).limit(1).collect()
        if rows:
            last_validated = rows[0]
    validator_gap = float("inf")
    if last_validated is not None and last_validated.close_time:
        ct = _dt.datetime.fromisoformat(
            str(last_validated.close_time).replace("Z", "+00:00")
        )
        if ct.tzinfo is None:
            ct = ct.replace(tzinfo=_dt.timezone.utc)
        validator_gap = (now - ct.timestamp() * 1000) / 1000
    if response_time < 0:
        score, message = 3, "invalid response time"
    elif ledger_gap > t1:
        score, message = 2, "last ledger gap exceeds threshold"
    elif validator_gap > t2:
        score, message = 1, "last validation gap exceeds threshold"
    else:
        score, message = 0, None
    if verbose:
        return {
            "score": score,
            "response_time": _health_duration(response_time * 1000),
            "ledger_gap": _health_duration(ledger_gap * 1000),
            "ledger_gap_threshold": _health_duration(t1 * 1000),
            "validation_gap": _health_duration(validator_gap * 1000),
            "validation_gap_threshold": _health_duration(t2 * 1000),
            "last_validated_ledger": (
                int(last_validated.ledger_index)
                if last_validated is not None else None
            ),
            "message": message,
        }
    return str(score)
