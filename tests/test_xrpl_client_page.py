"""The escrow / payment-channel routes' client join over tiny synthetic
silver tables (no reference ledgers needed): the page joins its client
strings exactly, and a request leaves no cached relation behind."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from rippled_historical_database_spark.plans.xrpl_etl import (
    ESCROW_PAGE_COLS,
    PAYCHAN_PAGE_COLS,
    get_account_escrows_xrpl,
    get_account_payment_channels_xrpl,
    page_account_escrows_xrpl,
)

ACCOUNT = "rGhDCgik9CwiNpcNnYHkEHcMgw2dkLgtNB"
OTHER = "rUeXUxaMTH1pELvD2EkiHTRcM9FsH3v4d7"

_TYPES = {
    "destination_tag": "BIGINT", "source_tag": "BIGINT",
    "amount": "DECIMAL(38,6)", "balance": "DECIMAL(38,6)",
    "fee": "DECIMAL(38,6)", "cancel_after": "BIGINT",
    "finish_after": "BIGINT", "expiration": "BIGINT", "settle": "BIGINT",
    "create_tx_seq": "BIGINT", "executed_time": "TIMESTAMP",
    "ledger_index": "BIGINT", "tx_index": "INT", "flags": "BIGINT",
}


def _row(cols: tuple[str, ...], i: int) -> dict:
    """One synthetic silver row: even rows are the account's own, odd
    rows are addressed to it (the dual-key read covers both)."""
    values = {
        "account": ACCOUNT, "owner": ACCOUNT if i % 2 == 0 else OTHER,
        "source": ACCOUNT if i % 2 == 0 else OTHER,
        "destination": OTHER if i % 2 == 0 else ACCOUNT,
        "destination_tag": i, "source_tag": None,
        "amount": Decimal(i) / 4, "balance": Decimal(i),
        "fee": Decimal("0.000012"),
        "executed_time": dt.datetime(2018, 1, 1) + dt.timedelta(hours=i),
        "ledger_index": 1000 + i, "tx_index": i % 3, "flags": 0,
        "tx_hash": f"H{i:03d}", "tx_type": "EscrowCreate",
    }
    return {c: values.get(c) for c in cols}


@pytest.fixture
def warehouse(spark, tmp_path):
    from pyspark.sql.types import StructType

    for table, cols in (
        ("silver_escrows", ESCROW_PAGE_COLS),
        ("silver_payment_channels", PAYCHAN_PAGE_COLS),
    ):
        cols = tuple(c for c in cols if c != "client")
        ddl = ", ".join(f"{c} {_TYPES.get(c, 'STRING')}" for c in cols)
        rows = [tuple(_row(cols, i).values()) for i in range(12)]
        spark.createDataFrame(rows, StructType.fromDDL(ddl)).write.parquet(
            str(tmp_path / table)
        )
    # every third transaction carries a client string
    spark.createDataFrame(
        [(f"H{i:03d}", f"client-{i}") for i in range(0, 12, 3)],
        "tx_hash STRING, client STRING",
    ).write.parquet(str(tmp_path / "silver_tx_client"))
    return str(tmp_path)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_client_join_is_exact_and_caches_nothing(spark, warehouse):
    before = _persistent_rdds(spark)
    for route, cols in (
        (get_account_escrows_xrpl, ESCROW_PAGE_COLS),
        (get_account_payment_channels_xrpl, PAYCHAN_PAGE_COLS),
    ):
        rows = route(spark, warehouse, ACCOUNT, descending=True, limit=5)
        got = [r.asDict() for r in rows.collect()]
        want = [
            {
                **_row(cols, i),
                "client": f"client-{i}" if i % 3 == 0 else None,
            }
            for i in range(11, 6, -1)
        ]
        assert got == want
    served, marker = page_account_escrows_xrpl(
        spark, warehouse, ACCOUNT, limit=4
    )
    assert [r.tx_hash for r in served] == ["H000", "H001", "H002", "H003"]
    assert [r.client for r in served] == ["client-0", None, None, "client-3"]
    assert marker is not None
    assert _persistent_rdds(spark) == before
