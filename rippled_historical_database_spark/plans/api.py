"""The query plane: one Python function per REST endpoint (SURVEY.md
7.1), translating validated HTTP-style params into a DataFrame plan plus
an opaque continuation marker.

Mirrors the reference's route layer contracts:
  * interval whitelist of 12 (``api/routes/getExchanges.js:8-21``),
  * limit caps 400/1000 by endpoint (``:82-83``, ``getMetric.js:139-141``),
  * ``reduce`` XOR ``interval`` (``getExchanges.js:80-81``),
  * granularity-aware end-of-range: a date given at day granularity
    covers the whole day (``lib/smoment.js:61-64``),
  * opaque marker pagination: the HBase rowkey marker
    (``hbase-thrift/index.js:412-452``) becomes a base64 sort-key tuple,
  * descending order via reversed scan (``index.js:531-550``).

Synthetic mapping: events is the exchange stream (pair = event_type).
Each function returns (DataFrame, next_marker); formatting/CSV stays with
the caller (sources.sinks.flatten_for_csv).

Rollup routes do not recompute on read.  The reference serves fee,
metric and topology rollups from tables its aggregation daemons keep
current (``lib/aggregation/fees.js``, ``scripts/feeStats.js``); here
every route that reads a registry query (``_q``) or the nested metric
rollup goes through a memo (``functions.caching.memoize_local``).  The
memo key is (query name, ``realpath(sf_dir)``, data version), where the
data version (``sources.catalog.data_version``) is the (name, size,
mtime_ns) of every input file, so rewriting a table rebuilds the result
on the next request.  A hit is an Arrow-backed ``LocalTableScan`` that
the request's filter and collect read on the driver: no plan build, no
Spark job.  The memo is per SparkSession and holds at most
``caching.MEMO_MAX_ROWS`` rows per session (LRU); a larger result is
served lazily, as a plain registry DataFrame.  Request-specific plans
(candles for one base and window, account lookups, pages) stay lazy:
memoizing them would be a response cache, not a rollup table.
"""

from __future__ import annotations

import base64
import functools
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.caching import memoize_local
from ..functions.localrel import local_df
from ..functions.numeric import dsum
from ..functions.timeutils import anchored_bucket
from ..sources.catalog import counterparty, data_version, load_table, sort_key

# The reference's 12 public candle intervals (data.js:16-29).
INTERVALS: dict[str, tuple[str, int]] = {
    "1minute": ("minute", 1),
    "5minute": ("minute", 5),
    "15minute": ("minute", 15),
    "30minute": ("minute", 30),
    "1hour": ("hour", 1),
    "2hour": ("hour", 2),
    "4hour": ("hour", 4),
    "1day": ("day", 1),
    "3day": ("3day", 3),
    "7day": ("week", 7),
    "1month": ("month", 1),
    "1year": ("year", 1),
}

DEFAULT_LIMIT = 200        # hbase-thrift/index.js:421
MAX_LIMIT_EXCHANGES = 400  # getExchanges.js:82-83
MAX_LIMIT_GENERAL = 1000   # getPayments.js:108-109 etc.


class InvalidRequest(ValueError):
    """400-equivalent: bad parameter combination."""


@dataclass
class Page:
    df: DataFrame
    marker: str | None


def encode_marker(ts, event_id: int) -> str:
    return base64.urlsafe_b64encode(
        json.dumps({"ts": str(ts), "id": event_id}).encode()
    ).decode()


def decode_marker(marker: str) -> tuple[str, int]:
    try:
        obj = json.loads(base64.urlsafe_b64decode(marker.encode()))
        return obj["ts"], int(obj["id"])
    except Exception as exc:  # noqa: BLE001
        raise InvalidRequest(f"invalid marker: {marker!r}") from exc


def _clamp_limit(limit: int | None, cap: int) -> int:
    if limit is None:
        return min(DEFAULT_LIMIT, cap)
    if limit < 1:
        raise InvalidRequest("limit must be positive")
    return min(limit, cap)


def _bucket(col, interval: str):
    unit, n = INTERVALS[interval]
    if unit == "3day":
        return anchored_bucket(col, 3)
    if n == 1 or unit in ("week",):
        return F.date_trunc("week" if unit == "week" else unit, col)
    # N-unit sub-hour/hour buckets: truncate to the unit, then floor the
    # unit count within the parent -- plain column arithmetic.
    base = F.date_trunc("hour" if unit == "minute" else "day", col)
    secs = {"minute": 60, "hour": 3600}[unit] * n
    off = F.floor((F.unix_timestamp(col) - F.unix_timestamp(base)) / secs) * secs
    return F.to_timestamp(F.from_unixtime(F.unix_timestamp(base) + off.cast("long")))


def get_exchanges(
    spark: SparkSession,
    sf_dir: str,
    base: str,
    start: str | None = None,
    end: str | None = None,
    interval: str | None = None,
    reduce: bool = False,
    limit: int | None = None,
    descending: bool = False,
    marker: str | None = None,
) -> Page:
    """GET /v2/exchanges/{base}/{counter} (api/routes/getExchanges.js)."""
    if reduce and interval:
        raise InvalidRequest("cannot use reduce with interval")  # :80-81
    if interval is not None and interval not in INTERVALS:
        raise InvalidRequest(f"invalid interval: {interval}")  # :84-87
    limit_n = _clamp_limit(limit, MAX_LIMIT_EXCHANGES)

    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == base)
    e = _time_range(e, start, end)

    if reduce:
        key = sort_key()
        df = e.groupBy(F.col("event_type").alias("pair")).agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            dsum("value").alias("base_volume"),
            F.count("*").alias("count"),
        )
        return Page(df, None)

    if interval:
        candles = e.groupBy(_bucket(F.col("ts"), interval).alias("start")).agg(
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            dsum("value").alias("base_volume"),
            F.count("*").alias("count"),
        )
        if marker:
            # Interval rows paginate by bucket start -- the reference's
            # rowkey there is base|counter|interval|start, so the marker
            # is just the start timestamp (hbase-thrift/index.js:412-452
            # applied to the agg_exchanges table).
            m_ts, _ = decode_marker(marker)
            candles = candles.filter(
                (F.col("start") < F.lit(m_ts))
                if descending
                else (F.col("start") > F.lit(m_ts))
            )
        order = [F.col("start").desc()] if descending else [F.col("start")]
        return _paginate(
            spark, candles, order, limit_n,
            lambda last: encode_marker(last.start, 0),
        )

    if marker:
        m_ts, m_id = decode_marker(marker)
        after = (
            ((F.col("ts") < F.lit(m_ts)) | ((F.col("ts") == F.lit(m_ts)) & (F.col("event_id") < m_id)))
            if descending
            else ((F.col("ts") > F.lit(m_ts)) | ((F.col("ts") == F.lit(m_ts)) & (F.col("event_id") > m_id)))
        )
        e = e.filter(after)
    return _paginate(
        spark,
        e.select("event_id", "ts", F.col("user_id").alias("taker"), "value"),
        _ts_order(descending),
        limit_n,
        lambda last: encode_marker(last.ts, last.event_id),
    )


def _paginate(spark, df, order, limit_n, row_to_marker) -> Page:
    """Shared keyset-pagination tail: the limit+1 probe
    (hbase-thrift/index.js:412-452) -- fetch one extra row to decide
    whether a next-page marker exists, emit exactly limit_n rows."""
    rows = df.orderBy(*order).limit(limit_n + 1)
    collected = rows.collect()
    next_marker = None
    if len(collected) > limit_n:
        next_marker = row_to_marker(collected[limit_n - 1])
    page_df = local_df(spark, collected[:limit_n], rows.schema)
    return Page(page_df, next_marker)


def get_account_transactions(
    spark: SparkSession,
    sf_dir: str,
    account: int,
    tx_type: str | None = None,
    start: str | None = None,
    end: str | None = None,
    limit: int | None = None,
    descending: bool = True,
    min_sequence: int | None = None,
    max_sequence: int | None = None,
) -> Page:
    """GET /v2/accounts/{address}/transactions
    (api/routes/accountTransactions.js): one filter on the typed event
    stream replaces the index-scan + multi-get two-phase fetch.

    Sequence mode (data.js:1180-1191): when min_sequence/max_sequence is
    given the reference switches from the time index to the
    account|sequence rowkey range ([min, max) -- HBase stop rows are
    exclusive) and orders by sequence; event_id plays the per-account
    sequence role in the synthetic schema.  Time params are ignored in
    that mode, exactly as the reference picks one table or the other.
    """
    if tx_type is not None and tx_type not in TX_TYPES:
        raise InvalidRequest(f"invalid type: {tx_type}")  # whitelist :8-50
    limit_n = _clamp_limit(limit, MAX_LIMIT_GENERAL)
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") == account)
    if tx_type:
        e = e.filter(F.col("event_type") == tx_type)
    if min_sequence is not None or max_sequence is not None:
        e = e.filter(F.col("event_id") >= F.lit(min_sequence or 0))
        if max_sequence is not None:
            e = e.filter(F.col("event_id") < F.lit(max_sequence))
        order = [F.col("event_id").desc()] if descending else [F.col("event_id")]
        return Page(e.orderBy(*order).limit(limit_n), None)
    e = _time_range(e, start, end)
    return Page(_ordered(e, descending, limit_n), None)


def get_account_transaction_by_seq(
    spark: SparkSession, sf_dir: str, account: int, sequence: int | str
) -> Page:
    """GET /v2/accounts/{address}/transactions/{sequence}
    (api/routes/accountTxSeq.js): point lookup by (account, sequence) --
    the reference validates the sequence is an integer (:14-17) then
    scans the one-row account|sequence range."""
    if not str(sequence).isdigit():
        raise InvalidRequest(f"invalid sequence number: {sequence}")
    seq = int(sequence)
    e = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("user_id") == account) & (F.col("event_id") == seq))
        .limit(1)
    )
    return Page(e, None)


def get_stats(
    spark: SparkSession,
    sf_dir: str,
    interval: str = "day",
    family: str | None = None,
    limit: int | None = None,
) -> Page:
    """GET /v2/stats (api/routes/stats.js): family-filtered long-format
    counters."""
    if interval not in ("hour", "day", "week"):
        raise InvalidRequest(f"invalid interval: {interval}")
    if family is not None and family not in ("type", "result", "metric"):
        raise InvalidRequest(f"invalid family: {family}")
    limit_n = _clamp_limit(limit, MAX_LIMIT_GENERAL)
    e = load_table(spark, sf_dir, "events")
    unit = {"hour": "hour", "day": "day", "week": "week"}[interval]
    df = (
        e.groupBy(
            F.date_trunc(unit, "ts").alias("date"),
            F.col("event_type").alias("metric"),
        )
        .agg(F.count("*").cast("double").alias("value"))
        .select(
            F.lit(interval).alias("interval"), "date",
            F.lit("type").alias("family"), "metric", "value",
        )
    )
    if family and family != "type":
        df = df.filter(F.lit(False))
    return Page(df.orderBy("date", "metric").limit(limit_n), None)


def get_account_balances(
    spark: SparkSession, sf_dir: str, account: int, at: str | None = None
) -> Page:
    """GET /v2/accounts/{address}/balances: point-in-time balance by
    windowed reconstruction (SURVEY.md 7.6b) -- the reference proxies
    this to a live rippled node (accountBalances.js:93-127)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") == account)
    if at:
        e = e.filter(F.col("ts") <= F.lit(at))
    df = e.groupBy(F.col("user_id").alias("account")).agg(
        dsum("value").alias("balance"),
        F.max("ts").alias("as_of"),
        F.count("*").alias("n_changes"),
    )
    return Page(df, None)


# ---------------------------------------------------------------------------
# Full endpoint battery (api/server.js:66-128).  Each function is the
# validated, capped, ordered DataFrame plan for one route; operators that
# already exist in the registry are reused via `_q` (deferred import to
# keep the module import-cycle free).  Synthetic mapping is the engine-wide
# one: events = tx/exchange stream (pair = event_type, account = user_id,
# counterparty = sources.catalog.counterparty(), the graph/parser
# derivation), orders = ledgers, lineitem = per-ledger transactions.
# ---------------------------------------------------------------------------

TX_TYPES = {"purchase", "click", "view", "signup", "error"}  # type whitelist
TX_RESULTS = {"tesSUCCESS", "tecPATH_DRY"}  # result whitelist (parity shape)
METRICS = {"exchange_volume", "payment_volume", "issued_value"}
STATS_FAMILIES = {"type", "result", "metric"}


@functools.cache
def _registry() -> dict:
    from .registry import all_queries

    return all_queries()


def _q(name: str):
    """Registry query ``name`` as ``(spark, sf_dir) -> DataFrame``,
    memoized per input-data version (see the module docstring)."""
    query = _registry()[name]
    return lambda spark, sf_dir: _rollup(
        spark, sf_dir, name, lambda: query.spark(spark, sf_dir)
    )


def _rollup(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    key = (name, os.path.realpath(sf_dir))
    return memoize_local(spark, key, data_version(sf_dir), build)


def _time_range(df: DataFrame, start: str | None, end: str | None) -> DataFrame:
    """Granularity-aware window: parse both bounds through the smoment
    whitelist (functions/timeutils.py -- lib/smoment.js:14-67) and make
    the end bound exclusive at ``end + 1 granule``, exactly the
    startRow/stopRow pairing every reference range read uses
    (data.js:51-52 etc.) -- so end=2015-04 covers all of April and
    end=2015-04-10 covers that whole day.  Unparseable bounds 400,
    mirroring the routes' 'invalid start/end date' errors
    (getPayments.js:91-95, getExchanges.js:66-68)."""
    from ..functions.timeutils import smoment_parse, smoment_stop_exclusive

    if start:
        parsed = smoment_parse(start)
        if parsed is None:
            raise InvalidRequest(f"invalid start date: {start!r}")
        df = df.filter(F.col("ts") >= F.lit(parsed[0]))
    if end:
        parsed = smoment_parse(end)
        if parsed is None:
            raise InvalidRequest(f"invalid end date: {end!r}")
        df = df.filter(F.col("ts") < F.lit(smoment_stop_exclusive(parsed)))
    return df


def _ts_order(descending: bool) -> list:
    """The (ts, event_id) order of every time-mode page."""
    if descending:
        return [F.col("ts").desc(), F.col("event_id").desc()]
    return [F.col("ts"), F.col("event_id")]


def _ordered(df: DataFrame, descending: bool, limit_n: int) -> DataFrame:
    return df.orderBy(*_ts_order(descending)).limit(limit_n)


def get_payments(
    spark: SparkSession,
    sf_dir: str,
    currency: str | None = None,
    start: str | None = None,
    end: str | None = None,
    interval: str | None = None,
    limit: int | None = None,
    descending: bool = False,
) -> Page:
    """GET /v2/payments/{currency?} (api/routes/getPayments.js): raw
    payment list or hour/day rollup; limit cap 1000 (:108-109).
    ``currency`` is accepted as route contract; the synthetic events
    carry no currency, so it does not narrow the rows."""
    if interval is not None and interval not in ("hour", "day"):
        raise InvalidRequest(f"invalid interval: {interval}")
    limit_n = _clamp_limit(limit, MAX_LIMIT_GENERAL)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    e = _time_range(e, start, end)
    if interval:
        df = (
            e.groupBy(F.date_trunc(interval, "ts").alias("date"))
            .agg(
                F.count("*").alias("count"),
                dsum("value").alias("amount"),
                (dsum("value") / F.count("*")).alias("average"),
            )
            .orderBy(F.col("date").desc() if descending else F.col("date"))
            .limit(limit_n)
        )
        return Page(df, None)
    rows = e.select(
        "event_id", "ts", F.col("user_id").alias("source"),
        counterparty().alias("destination"), F.col("value").alias("amount"),
    )
    return Page(_ordered(rows, descending, limit_n), None)


def get_account_payments(
    spark: SparkSession,
    sf_dir: str,
    account: int,
    direction: str | None = None,
    start: str | None = None,
    end: str | None = None,
    limit: int | None = None,
    descending: bool = True,
) -> Page:
    """GET /v2/accounts/{address}/payments: the reference double-writes
    source and destination perspectives (data.js:2921-2924); here one
    predicate replaces the fan-out."""
    if direction is not None and direction not in ("sent", "received"):
        raise InvalidRequest(f"invalid type: {direction}")
    limit_n = _clamp_limit(limit, MAX_LIMIT_GENERAL)
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "ts", "value",
            F.col("user_id").alias("source"),
            counterparty().alias("destination"),
        )
    )
    if direction == "sent":
        e = e.filter(F.col("source") == account)
    elif direction == "received":
        e = e.filter(F.col("destination") == account)
    else:
        e = e.filter(
            (F.col("source") == account) | (F.col("destination") == account)
        )
    e = _time_range(e, start, end)
    return Page(_ordered(e, descending, limit_n), None)


def get_account_exchanges(
    spark: SparkSession,
    sf_dir: str,
    account: int,
    base: str | None = None,
    start: str | None = None,
    end: str | None = None,
    limit: int | None = None,
    descending: bool = True,
) -> Page:
    """GET /v2/accounts/{address}/exchanges[/{base}[/{counter}]]: the
    account_exchanges double-write becomes a predicate."""
    if base is not None and base not in TX_TYPES:
        raise InvalidRequest(f"invalid base: {base}")
    limit_n = _clamp_limit(limit, MAX_LIMIT_GENERAL)
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") == account)
    if base:
        e = e.filter(F.col("event_type") == base)
    e = _time_range(e, start, end)
    rows = e.select(
        "event_id", "ts", F.col("event_type").alias("pair"),
        F.col("user_id").alias("account"), "value",
    )
    return Page(_ordered(rows, descending, limit_n), None)


def get_account_balance_changes(
    spark: SparkSession,
    sf_dir: str,
    account: int,
    change_type: str | None = None,
    start: str | None = None,
    end: str | None = None,
    limit: int | None = None,
    descending: bool = True,
) -> Page:
    """GET /v2/accounts/{address}/balance_changes (routes/getChanges):
    signed ledger of the account -- debits for sent purchases, credits
    for received, mirroring parse_balance_mirror's two projections."""
    if change_type is not None and change_type not in (
        "payment_source", "payment_destination",
    ):
        raise InvalidRequest(f"invalid change type: {change_type}")
    limit_n = _clamp_limit(limit, MAX_LIMIT_GENERAL)
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "ts", "value",
            F.col("user_id").alias("source"), counterparty().alias("counterparty"),
        )
    )
    debits = e.filter(F.col("source") == account).select(
        "event_id", "ts",
        (-F.col("value")).alias("change"),
        F.lit("payment_source").alias("change_type"),
    )
    credits = e.filter(F.col("counterparty") == account).select(
        "event_id", "ts",
        F.col("value").alias("change"),
        F.lit("payment_destination").alias("change_type"),
    )
    changes = debits.unionByName(credits)
    if change_type:
        changes = changes.filter(F.col("change_type") == change_type)
    changes = _time_range(changes, start, end)
    return Page(_ordered(changes, descending, limit_n), None)


def get_account_reports(
    spark: SparkSession,
    sf_dir: str,
    account: int,
    start: str,
    end: str,
) -> Page:
    """GET /v2/accounts/{address}/reports: per-day buckets zero-filled
    over a generated date spine (data.js:331-451 enumerates keys and
    fabricates empty Buckets; here it's a left join to sequence())."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("user_id") == account)
        )
        .groupBy(F.date_trunc("day", "ts").alias("date"))
        .agg(F.count("*").alias("payments_sent"), dsum("value").alias("value_sent"))
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("timestamp"),
                F.lit(end).cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("date")
    )
    df = (
        spine.join(e, "date", "left")
        .select(
            "date",
            F.coalesce("payments_sent", F.lit(0)).alias("payments_sent"),
            F.coalesce("value_sent", F.lit(0.0)).alias("value_sent"),
        )
        .orderBy("date")
    )
    return Page(df, None)


def get_transactions(
    spark: SparkSession,
    sf_dir: str,
    tx_type: str | None = None,
    result: str | None = None,
    start: str | None = None,
    end: str | None = None,
    limit: int | None = None,
    descending: bool = False,
    binary: bool = True,
) -> Page:
    """GET /v2/transactions (data.js:2018-2058): time-range scan with
    type/result whitelist filters (the SingleColumnValueFilters).

    ``binary=False`` is the display-decode path (data.js:2083-2084): the
    opaque payload column is decoded to typed fields before returning --
    here the synthetic payload is the ``props`` JSON string, decoded
    JVM-side with from_json (the real-data analog decodes canonical
    binary hex: plans/xrpl_etl.decode_tx_display)."""
    if tx_type is not None and tx_type not in TX_TYPES:
        raise InvalidRequest(f"invalid type: {tx_type}")
    if result is not None and result not in TX_RESULTS:
        raise InvalidRequest(f"invalid result: {result}")
    limit_n = _clamp_limit(limit, MAX_LIMIT_GENERAL)
    e = load_table(spark, sf_dir, "events")
    if not binary:
        e = e.withColumn(
            "props_decoded", F.from_json("props", "k BIGINT")
        ).drop("props")
    if tx_type:
        e = e.filter(F.col("event_type") == tx_type)
    if result:  # synthetic: success = even event_id
        cond = (F.col("event_id") % 2 == 0) if result == "tesSUCCESS" else (
            F.col("event_id") % 2 == 1
        )
        e = e.filter(cond)
    e = _time_range(e, start, end)
    return Page(_ordered(e, descending, limit_n), None)


def get_ledger(
    spark: SparkSession,
    sf_dir: str,
    ledger_key: int | None = None,
    at: str | None = None,
) -> Page:
    """GET /v2/ledgers/{ledger_param?} (data.js:1856-1977): one table,
    three resolution predicates -- by key, by close-time, or latest."""
    o = load_table(spark, sf_dir, "orders")
    if ledger_key is not None:
        df = o.filter(F.col("o_orderkey") == ledger_key)
    elif at:
        df = (
            o.filter(F.col("o_orderdate") <= F.lit(at))
            .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
            .limit(1)
        )
    else:
        df = o.orderBy(
            F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
        ).limit(1)
    return Page(df, None)


def get_ledger_transactions(
    spark: SparkSession, sf_dir: str, ledger_key: int, expand: bool = True
) -> Page:
    """GET /v2/ledgers/{hash}?transactions=true (data.js:1886-1924):
    ledger -> its transactions, sorted by tx index."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") == ledger_key
    )
    if not expand:  # hashes only
        return Page(l.select("l_orderkey", "l_linenumber").orderBy("l_linenumber"), None)
    return Page(l.orderBy("l_linenumber"), None)


def get_active_accounts(spark: SparkSession, sf_dir: str, base: str) -> Page:
    """GET /v2/active_accounts/{base}/{counter}."""
    if base not in TX_TYPES:
        raise InvalidRequest(f"invalid base: {base}")
    df = _q("active_accounts")(spark, sf_dir)
    return Page(df, None)


def get_exchange_rate(spark: SparkSession, sf_dir: str, base: str) -> Page:
    """GET /v2/exchange_rates/{base}/{counter}: dual-VWAP operator,
    identity pair -> 1 handled by the operator."""
    if base not in TX_TYPES:
        raise InvalidRequest(f"invalid base: {base}")
    df = _q("rate_dual_vwap")(spark, sf_dir).filter(F.col("pair") == base)
    return Page(df, None)


def normalize(
    spark: SparkSession, sf_dir: str, amount: float, base: str
) -> Page:
    """GET /v2/normalize: amount x rate via the rate operator."""
    if amount < 0:
        raise InvalidRequest("amount must be non-negative")
    rate = _q("rate_dual_vwap")(spark, sf_dir).filter(F.col("pair") == base)
    df = rate.select(
        F.lit(amount).alias("amount"),
        F.col("rate"),
        (F.lit(amount) * F.col("rate")).alias("converted"),
    )
    return Page(df, None)


def get_metric(
    spark: SparkSession,
    sf_dir: str,
    metric: str,
    live: str | None = None,
) -> Page:
    """GET /v2/network/{exchange_volume,payment_volume,issued_value}
    (data.js:791-941): interval rows from the components rollup, or
    'live' rolling rows re-anchored at the newest data."""
    if metric not in METRICS:
        raise InvalidRequest(f"invalid metric: {metric}")
    if live is not None:
        if f"{live}day" not in ("1day", "3day", "7day", "30day") and live not in (
            "1day", "3day", "7day", "30day",
        ):
            raise InvalidRequest(f"invalid live period: {live}")
        return Page(_q("read_live_rolling_metric")(spark, sf_dir), None)
    # API emits the typed components[] array shape, not the exploded
    # driver-registered relation.
    from ..operators.reports import metric_components_nested

    df = _rollup(
        spark, sf_dir, "metric_components_nested",
        lambda: metric_components_nested(spark, sf_dir),
    )
    return Page(df, None)


def get_network_fees(
    spark: SparkSession, sf_dir: str, interval: str = "day"
) -> Page:
    """GET /v2/network/fees (aggregation/fees.js)."""
    if interval not in ("ledger", "hour", "day"):
        raise InvalidRequest(f"invalid interval: {interval}")
    name = "agg_fee_per_ledger" if interval == "ledger" else "agg_fee_daily"
    return Page(_q(name)(spark, sf_dir), None)


def get_fee_stats(spark: SparkSession, sf_dir: str) -> Page:
    """GET /v2/network/fee_stats (scripts/feeStats.js read side)."""
    return Page(_q("agg_fee_stats_quantiles")(spark, sf_dir), None)


def get_top_markets(
    spark: SparkSession, sf_dir: str, date: str | None = None
) -> Page:
    """GET /v2/network/top_markets/{date?} (data.js:1052-1141): ranked
    rows for the date, or for the latest date when omitted."""
    df = _q("top_markets_daily")(spark, sf_dir)
    if date:
        df = df.filter(F.col("date") == F.lit(date).cast("timestamp"))
    else:
        latest = df.agg(F.max("date").alias("date"))
        df = df.join(F.broadcast(latest), "date")
    return Page(df, None)


def get_top_currencies(
    spark: SparkSession, sf_dir: str, date: str | None = None
) -> Page:
    """GET /v2/network/top_currencies/{date?}."""
    return get_top_markets(spark, sf_dir, date)


def get_validator_reports(
    spark: SparkSession, sf_dir: str, validator: int | None = None
) -> Page:
    """GET /v2/network/validator_reports (topology.js:230-297)."""
    df = _q("validator_reports")(spark, sf_dir)
    if validator is not None:
        df = df.filter(F.col("validator") == validator)
    return Page(df, None)


def get_manifests(
    spark: SparkSession,
    sf_dir: str,
    pubkey: str,
    limit: int | None = None,
    descending: bool = False,
    marker: str | None = None,
) -> Page:
    """GET /v2/network/validators/{pubkey}/manifests
    (api/routes/network/getManifests.js + manifests.js:202-266): prefix
    scan of the by-validator table for one master key, ordered by
    sequence -- the padded-rowkey range scan becomes an equality filter
    + ORDER BY that Catalyst pushes to the scan.  Marker pagination is
    the sequence keyset (the reference's rowkey marker), with the same
    limit+1 probe as the other paged routes."""
    limit_n = _clamp_limit(limit, MAX_LIMIT_GENERAL)
    df = _q("manifests_by_validator")(spark, sf_dir).filter(
        F.col("master_public_key") == pubkey
    )
    if marker is not None:
        try:
            m_seq = int(marker)
        except ValueError:
            raise InvalidRequest(f"invalid marker: {marker}") from None
        df = df.filter(
            F.col("sequence") < m_seq if descending else F.col("sequence") > m_seq
        )
    order = F.col("sequence").desc() if descending else F.col("sequence")
    return _paginate(
        spark, df, [order], limit_n, lambda last: str(last.sequence)
    )


def get_topology_nodes(spark: SparkSession, sf_dir: str) -> Page:
    """GET /v2/network/topology/nodes (topology.js:99-161)."""
    return Page(_q("graph_node_degrees")(spark, sf_dir), None)


def get_topology_links(spark: SparkSession, sf_dir: str) -> Page:
    """GET /v2/network/topology/links (topology.js:623-627)."""
    return Page(_q("graph_reciprocal_links")(spark, sf_dir), None)


def get_last_validated(spark: SparkSession, sf_dir: str) -> Page:
    """GET /v2/last_validated (control-table read): newest closed
    ledger -- orderBy desc limit 1."""
    o = load_table(spark, sf_dir, "orders")
    return Page(
        o.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(1)
        .select("o_orderkey", "o_orderdate"),
        None,
    )


def get_health(
    spark: SparkSession, sf_dir: str, now: str, threshold_s: int = 60
) -> Page:
    """GET /v2/health/{aspect?}: importer freshness -- seconds between
    `now` and the newest event, scored against a threshold.  `now` is a
    parameter (not wall clock) so the check is deterministic."""
    e = load_table(spark, sf_dir, "events")
    df = e.agg(F.max("ts").alias("last_ts")).select(
        "last_ts",
        (F.lit(now).cast("timestamp").cast("long") - F.col("last_ts").cast("long")).alias("lag_s"),
    ).select(
        "last_ts", "lag_s",
        F.when(F.col("lag_s") <= threshold_s, "healthy").otherwise("stale").alias("status"),
    )
    return Page(df, None)


def get_accounts(
    spark: SparkSession,
    sf_dir: str,
    start: str | None = None,
    end: str | None = None,
    interval: str | None = None,
    limit: int | None = None,
    descending: bool = False,
) -> Page:
    """GET /v2/accounts (accounts created: list or interval rollup,
    data.js:2403-2495)."""
    if interval is not None and interval not in ("hour", "day", "week"):
        raise InvalidRequest(f"invalid interval: {interval}")
    limit_n = _clamp_limit(limit, MAX_LIMIT_GENERAL)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    e = _time_range(e, start, end)
    if interval:
        df = (
            e.groupBy(F.date_trunc(interval, "ts").alias("date"))
            .agg(F.count("*").alias("count"))
            .orderBy(F.col("date").desc() if descending else F.col("date"))
            .limit(limit_n)
        )
        return Page(df, None)
    rows = e.select(
        "event_id", "ts", F.col("user_id").alias("account"),
        F.col("value").alias("balance"),
    )
    return Page(_ordered(rows, descending, limit_n), None)


def get_account(spark: SparkSession, sf_dir: str, account: int) -> Page:
    """GET /v2/accounts/{address} (api/routes/getAccount.js): point
    lookup of the account's creation row -- genesis/creation time,
    parent, initial balance; empty result maps to the route's 404."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "signup") & (F.col("user_id") == account))
        .select(
            F.col("user_id").alias("account"),
            F.col("ts").alias("inception"),
            F.col("value").alias("initial_balance"),
            "event_id",
        )
        .limit(1)
    )
    return Page(e, None)


def get_account_stats(
    spark: SparkSession, sf_dir: str, account: int, family: str = "type"
) -> Page:
    """GET /v2/accounts/{address}/stats/{family}: per-account daily
    counters by family (agg_account_stats, data.js:76-110)."""
    if family not in STATS_FAMILIES:
        raise InvalidRequest(f"invalid family: {family}")
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") == account)
    df = (
        e.groupBy(
            F.date_trunc("day", "ts").alias("date"),
            F.col("event_type").alias("metric"),
        )
        .agg(F.count("*").alias("value"))
        .select(F.lit(family).alias("family"), "date", "metric", "value")
        .orderBy("date", "metric")
    )
    return Page(df, None)


def get_account_escrows(
    spark: SparkSession, sf_dir: str, account: int, limit: int | None = None
) -> Page:
    """GET /v2/accounts/{address}/escrows."""
    limit_n = _clamp_limit(limit, MAX_LIMIT_GENERAL)
    df = (
        _q("parse_escrows")(spark, sf_dir)
        .filter(F.col("account") == account)
        .limit(limit_n)
    )
    return Page(df, None)


def get_account_payment_channels(
    spark: SparkSession, sf_dir: str, account: int, limit: int | None = None
) -> Page:
    """GET /v2/accounts/{address}/payment_channels: the account's
    channels (channel id = md5(source:destination), the
    parse_payment_channels derivation) with per-channel rollups."""
    limit_n = _clamp_limit(limit, MAX_LIMIT_GENERAL)
    e = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "signup") & (F.col("user_id") == account)
        )
        .select("event_id", "ts", "value", counterparty().alias("counterparty"))
    )
    channel = F.md5(
        F.concat(
            F.lit(str(account)), F.lit(":"), F.col("counterparty").cast("string")
        ).cast("binary")
    )
    df = (
        e.select("event_id", "ts", "value", channel.alias("channel"))
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_amount"),
            F.max("ts").alias("last_activity"),
        )
        .orderBy("channel")
        .limit(limit_n)
    )
    return Page(df, None)
