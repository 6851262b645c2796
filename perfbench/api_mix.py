"""The ``api_mix`` workload: a seeded closed-loop request mix over the
routes of ``plans.api``, every response checked against a DuckDB
reference of the same request by row count plus an order-aware hash.

A request is ``(route, params)``; an exchanges marker walk is expanded
into one request per page, each page sent only after the previous one
returned.  Accounts are drawn Zipf-skewed over the generated user ids.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import random
import threading
import time
from dataclasses import dataclass

LOOKUP, ROLLUP = "lookup", "rollup"
PAIRS = ["purchase", "click", "view", "signup", "error"]
ZIPF_S = 1.1
WALK_LIMIT = 50

EVENT_COLS = "event_id, ts, user_id, event_type, value, props"


def _counterparty(col: str = "user_id") -> str:
    return f"(({col} + event_id % 7 + 1) % 15)"


def _oracle(name: str, where: str = "") -> str:
    from rippled_historical_database_spark.plans.registry import REGISTRY

    sql = REGISTRY[name].oracle
    return f"SELECT * FROM ({sql}) AS o {where}"


@dataclass(frozen=True)
class Route:
    kind: str
    ordered: bool
    call: callable     # (api, spark, sf_dir, params, marker) -> Page
    reference: callable  # (params, page_no) -> DuckDB SQL


ROUTES: dict[str, Route] = {
    "account_transactions": Route(
        LOOKUP, True,
        lambda api, s, d, p, m: api.get_account_transactions(s, d, p["account"], limit=20),
        lambda p, n: f"SELECT {EVENT_COLS} FROM events WHERE user_id = {p['account']} "
                     "ORDER BY ts DESC, event_id DESC LIMIT 20"),
    "account_transaction_by_seq": Route(
        LOOKUP, True,
        lambda api, s, d, p, m: api.get_account_transaction_by_seq(s, d, p["account"], p["seq"]),
        lambda p, n: f"SELECT {EVENT_COLS} FROM events WHERE user_id = {p['account']} "
                     f"AND event_id = {p['seq']}"),
    "account_payments": Route(
        LOOKUP, True,
        lambda api, s, d, p, m: api.get_account_payments(s, d, p["account"], limit=20),
        lambda p, n: "SELECT event_id, ts, value, user_id AS source, "
                     f"{_counterparty()} AS destination FROM events "
                     f"WHERE event_type = 'purchase' AND (user_id = {p['account']} "
                     f"OR {_counterparty()} = {p['account']}) "
                     "ORDER BY ts DESC, event_id DESC LIMIT 20"),
    "account_balances": Route(
        LOOKUP, False,
        lambda api, s, d, p, m: api.get_account_balances(s, d, p["account"]),
        lambda p, n: "SELECT user_id AS account, "
                     "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS balance, "
                     "MAX(ts) AS as_of, COUNT(*) AS n_changes FROM events "
                     f"WHERE user_id = {p['account']} GROUP BY user_id"),
    "ledger_transactions": Route(
        LOOKUP, True,
        lambda api, s, d, p, m: api.get_ledger_transactions(s, d, p["ledger"]),
        lambda p, n: f"SELECT * FROM lineitem WHERE l_orderkey = {p['ledger']} "
                     "ORDER BY l_linenumber"),
    "exchanges_page": Route(
        LOOKUP, True,
        lambda api, s, d, p, m: api.get_exchanges(s, d, p["base"], limit=WALK_LIMIT, marker=m),
        lambda p, n: "SELECT event_id, ts, user_id AS taker, value FROM events "
                     f"WHERE event_type = '{p['base']}' ORDER BY ts, event_id "
                     f"LIMIT {WALK_LIMIT} OFFSET {n * WALK_LIMIT}"),
    "exchanges_interval": Route(
        ROLLUP, True,
        lambda api, s, d, p, m: api.get_exchanges(s, d, p["base"], interval=p["interval"]),
        lambda p, n: "SELECT CAST(DATE_TRUNC('{u}', ts) AS TIMESTAMP) AS start, "
                     "MAX(value) AS high, MIN(value) AS low, "
                     "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS base_volume, "
                     "COUNT(*) AS count FROM events WHERE event_type = '{b}' "
                     "GROUP BY 1 ORDER BY 1 LIMIT 200".format(
                         u=p["interval"][1:], b=p["base"])),
    "network_fees": Route(
        ROLLUP, False,
        lambda api, s, d, p, m: api.get_network_fees(s, d, "day"),
        lambda p, n: _oracle("agg_fee_daily")),
    "fee_stats": Route(
        ROLLUP, False,
        lambda api, s, d, p, m: api.get_fee_stats(s, d),
        lambda p, n: _oracle("agg_fee_stats_quantiles")),
    "validator_reports": Route(
        ROLLUP, False,
        lambda api, s, d, p, m: api.get_validator_reports(s, d, p["account"]),
        lambda p, n: _oracle("validator_reports", f"WHERE validator = {p['account']}")),
    "topology_links": Route(
        ROLLUP, False,
        lambda api, s, d, p, m: api.get_topology_links(s, d),
        lambda p, n: _oracle("graph_reciprocal_links")),
    "live_metric": Route(
        ROLLUP, False,
        lambda api, s, d, p, m: api.get_metric(s, d, "exchange_volume", live="1day"),
        lambda p, n: _oracle("read_live_rolling_metric")),
}

# One block of the mix: 9 lookup items (two of them marker walks) and 6
# rollups.  Walk lengths cycle through 1-5 pages and intervals alternate,
# so a block sends 13 lookup and 6 rollup requests on average and every
# run sees the same composition; the seed draws the parameters.
BLOCK = [
    "account_transactions", "exchanges_interval", "account_transaction_by_seq",
    "account_payments", "network_fees", "account_balances",
    "exchanges_walk", "validator_reports", "ledger_transactions",
    "account_transactions", "fee_stats", "account_transaction_by_seq",
    "topology_links", "exchanges_walk", "live_metric",
]


@dataclass(frozen=True)
class Item:
    """One mix entry: a request, or a marker walk of ``pages`` requests."""
    route: str
    params: tuple
    pages: int = 1


def make_mix(seed: int, blocks: int, users: int, ledgers: int,
             event_users: list[int]) -> list[Item]:
    """The seeded request list: the same seed always yields the same list.
    ``event_users[i]`` is the account of event ``i``, so a point read by
    sequence asks for an event the account really has."""
    rng = random.Random(seed)
    by_account: dict[int, list[int]] = {}
    for event_id, user in enumerate(event_users):
        by_account.setdefault(user, []).append(event_id)
    ranked = list(range(users))
    rng.shuffle(ranked)  # which account is hottest is seeded too
    cum, total = [], 0.0
    for r in range(users):
        total += 1.0 / (r + 1) ** ZIPF_S
        cum.append(total)

    items, walks, intervals = [], 0, 0
    for route in BLOCK * blocks:
        account = ranked[rng.choices(range(users), cum_weights=cum)[0]]
        params: dict = {"account": account}
        if route == "exchanges_walk":
            walks += 1
            items.append(Item("exchanges_page", (("base", rng.choice(PAIRS)),),
                              1 + walks % 5))
            continue
        if route == "account_transaction_by_seq":
            if account not in by_account:  # an account without events
                account = event_users[rng.randrange(len(event_users))]
            params = {"account": account, "seq": rng.choice(by_account[account])}
        elif route == "ledger_transactions":
            params = {"ledger": rng.randrange(ledgers)}
        elif route == "exchanges_interval":
            intervals += 1
            params = {"base": rng.choice(PAIRS), "interval": ("1day", "1hour")[intervals % 2]}
        elif ROUTES[route].kind == ROLLUP and route != "validator_reports":
            params = {}
        items.append(Item(route, tuple(sorted(params.items()))))
    return items


# ---------------------------------------------------------------------------
# Fingerprints
# ---------------------------------------------------------------------------

def _canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return repr(float(v))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "asDict"):
        return sorted((k, _canon(x)) for k, x in v.asDict().items())
    if isinstance(v, dict):
        return sorted((str(k), _canon(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return repr(v)


def fingerprint(columns: list[str], rows, ordered: bool) -> tuple[int, str]:
    """(row count, hash of the rows); row order counts when ``ordered``.
    Columns are matched by name, not position."""
    names = [c.lower() for c in columns]
    idx = sorted(range(len(names)), key=names.__getitem__)
    canon = [json.dumps([_canon(r[i]) for i in idx]) for r in rows]
    if not ordered:
        canon.sort()
    h = hashlib.sha1(json.dumps(sorted(names)).encode())
    for c in canon:
        h.update(c.encode())
        h.update(b"\n")
    return len(canon), h.hexdigest()


def count_failures(observed, reference: dict) -> list[str]:
    """Describe every observed (key, fingerprint) that is missing from or
    differs from the reference; one entry per failed response."""
    bad = []
    for key, fp in observed:
        want = reference.get(key)
        if fp != want:
            bad.append(f"{key}: got {fp} want {want}")
    return bad


def references(con, keys) -> dict:
    """DuckDB fingerprint per (route, params, page) key."""
    out = {}
    for key in keys:
        route, params, page = key
        r = ROUTES[route]
        res = con.execute(r.reference(dict(params), page))
        cols = [d[0] for d in res.description]
        out[key] = fingerprint(cols, res.fetchall(), r.ordered)
    return out


# ---------------------------------------------------------------------------
# Driving the mix
# ---------------------------------------------------------------------------

@dataclass
class Sample:
    kind: str
    key: tuple
    latency_s: float
    fingerprint: tuple | None
    error: str | None = None


class Runner:
    """Sends mix items through the routes, one client per thread."""

    def __init__(self, spark, sf_dir, tracer, api_module):
        self.spark, self.sf_dir, self.tracer, self.api = spark, sf_dir, tracer, api_module
        self.lock = threading.Lock()
        self.samples: list[Sample] = []
        self._n = 0

    def _request(self, phase: str, route: str, params: tuple, page: int, marker):
        """One timed request; returns the next-page marker."""
        r = ROUTES[route]
        with self.lock:
            self._n += 1
            rid = f"{phase}.api.{self._n}"
        traced = self.tracer.enabled
        if traced:
            self.spark.sparkContext.setJobGroup(rid, route)
        fp, err, next_marker = None, None, None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("request", request=rid, route=route):
                page_obj = r.call(self.api, self.spark, self.sf_dir, dict(params), marker)
                with self.tracer.span("materialize"):
                    if traced:
                        with self.tracer.span("spark.plan"):
                            page_obj.df._jdf.queryExecution().executedPlan()
                    with self.tracer.span("spark.exec"):
                        rows = page_obj.df.collect()
            latency = time.perf_counter() - t0
            next_marker = page_obj.marker
            fp = fingerprint(page_obj.df.columns, rows, r.ordered)
        except Exception as exc:  # noqa: BLE001 -- a failed request is a sample
            latency = time.perf_counter() - t0
            err = f"{type(exc).__name__}: {exc}"
        with self.lock:
            self.samples.append(Sample(r.kind, (route, params, page), latency, fp, err))
        return next_marker, err

    def run_item(self, phase: str, item: Item) -> None:
        marker = None
        for page in range(item.pages):
            if page and marker is None:
                return
            marker, err = self._request(phase, item.route, item.params, page, marker)
            if err:
                return

    def closed_loop(self, items: list[Item], clients: int, seconds: float,
                    min_blocks: int, cap: float) -> float:
        """Each client walks its share of ``items`` in whole blocks of the
        mix: at least ``min_blocks`` and until ``seconds`` have passed, but
        no block starts after ``cap`` seconds.  Returns the loop's wall."""
        start = time.perf_counter()
        block = len(BLOCK)

        def client(share):
            for n, item in enumerate(share):
                if n % block == 0:
                    elapsed = time.perf_counter() - start
                    if elapsed > cap or (n >= min_blocks * block and elapsed > seconds):
                        return
                self.run_item("T", item)

        threads = [threading.Thread(target=client, args=(items[c::clients],))
                   for c in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - start
