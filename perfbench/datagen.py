"""Seeded generator for the engine's input tables.

Writes one parquet file per table in ``sources.catalog.TABLES`` with the
same column names, physical types and value domains as the synthetic
TPC-H-ish star schema plus ``events``/``documents``/``embeddings`` that the
engine's tests run on.  Row counts follow the scale factor ``sf``:

    customer 150k*sf   supplier 10k*sf    part 200k*sf
    orders   1.5M*sf   lineitem 6M*sf     events 1M*sf (15k*sf users)
    documents max(500, 50k*sf)            embeddings max(500, 20k*sf)

The same (seed, sf) always yields byte-identical values, so a benchmark
run is reproducible from its ``--seed`` alone.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["small", "red", "blue", "green", "large", "steel", "brass",
            "black", "white", "tiny", "huge", "shiny", "matte"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["purchase", "click", "view", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a the fast slow big small data spark query table row column key "
         "value join sort merge hash scan filter group agg window order "
         "batch stream line part customer vector").split()

_US = 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * _US


def _days(rng, n: int, start: tuple, end: tuple) -> np.ndarray:
    lo, hi = _epoch_us(*start) // (86400 * _US), _epoch_us(*end) // (86400 * _US)
    return rng.integers(lo, hi + 1, n) * 86400 * _US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(seed: int, sf: float, users: int | None = None) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = users or max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    # Line items land on random orders (1..~13 lines each); the line
    # number counts within its order in generation order.
    l_order = rng.integers(0, n_ord, n_line)
    order_idx = np.argsort(l_order, kind="stable")
    sorted_keys = l_order[order_idx]
    first = np.searchsorted(sorted_keys, sorted_keys, side="left")
    lineno = np.empty(n_line, np.int64)
    lineno[order_idx] = np.arange(n_line) - first + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, n_line, (1995, 1, 2), (2001, 11, 4))),
    })
    ev_start = _epoch_us(2024, 1, 1)
    ev_ts = np.sort(rng.integers(ev_start, ev_start + 30 * 86400 * _US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # About 5% of documents are near-duplicates of an earlier document
    # (its text plus a trailing "dup"), so the dedup operators find pairs.
    texts: list[str] = []
    lengths = rng.integers(10, 100, n_docs)
    dup = rng.random(n_docs) < 0.05
    for i in range(n_docs):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, lengths[i])))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write(out_dir: str, seed: int, sf: float, users: int | None = None) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts by table
    and the number of distinct users as ``users``."""
    os.makedirs(out_dir, exist_ok=True)
    generated = tables(seed, sf, users)
    counts = {"users": users or max(15, int(15_000 * sf))}
    for name, table in generated.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
