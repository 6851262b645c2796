"""Endpoint battery tests (api/server.js:66-128 parity): validation,
caps, resolution modes, and cross-endpoint consistency laws."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rippled_historical_database_spark.plans import api
from rippled_historical_database_spark.sources.catalog import load_table

ACCOUNT = 3


def test_payments_interval_whitelist(spark, sf_dir):
    with pytest.raises(api.InvalidRequest):
        api.get_payments(spark, sf_dir, interval="minute")


def test_payments_rollup_counts_match_raw(spark, sf_dir):
    raw = api.get_payments(spark, sf_dir, limit=1000).df
    rolled = api.get_payments(spark, sf_dir, interval="day", limit=1000).df
    n_raw = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert rolled.agg(F.sum("count")).first()[0] == n_raw
    assert raw.count() == min(n_raw, 1000)


def test_account_payments_directions_partition(spark, sf_dir):
    """sent + received == all (minus self-payments counted once each
    direction -- the synthetic counterparty can equal the account)."""
    sent = api.get_account_payments(spark, sf_dir, ACCOUNT, "sent", limit=1000).df
    recv = api.get_account_payments(spark, sf_dir, ACCOUNT, "received", limit=1000).df
    both = api.get_account_payments(spark, sf_dir, ACCOUNT, None, limit=1000).df
    ids_sent = {r.event_id for r in sent.collect()}
    ids_recv = {r.event_id for r in recv.collect()}
    ids_both = {r.event_id for r in both.collect()}
    assert ids_sent | ids_recv == ids_both


def test_account_payments_direction_whitelist(spark, sf_dir):
    with pytest.raises(api.InvalidRequest):
        api.get_account_payments(spark, sf_dir, ACCOUNT, "teleported")


def test_balance_changes_sign_convention(spark, sf_dir):
    page = api.get_account_balance_changes(spark, sf_dir, ACCOUNT, limit=1000)
    for r in page.df.collect():
        if r.change_type == "payment_source":
            assert r.change <= 0
        else:
            assert r.change >= 0


def test_account_reports_zero_filled_spine(spark, sf_dir):
    page = api.get_account_reports(
        spark, sf_dir, ACCOUNT, "2024-01-01", "2024-01-10"
    )
    rows = page.df.collect()
    assert len(rows) == 10  # every day present, missing days zero-filled
    assert all(r.payments_sent >= 0 for r in rows)


def test_transactions_whitelists(spark, sf_dir):
    with pytest.raises(api.InvalidRequest):
        api.get_transactions(spark, sf_dir, tx_type="mint")
    with pytest.raises(api.InvalidRequest):
        api.get_transactions(spark, sf_dir, result="tecKITCHEN_SINK")
    ok = api.get_transactions(
        spark, sf_dir, tx_type="purchase", result="tesSUCCESS", limit=50
    ).df.collect()
    assert ok and all(r.event_id % 2 == 0 for r in ok)


def test_manifests_endpoint(spark, sf_dir):
    rows = api.get_manifests(spark, sf_dir, "nHU3").df.collect()
    assert rows and all(r.master_public_key == "nHU3" for r in rows)
    seqs = [r.sequence for r in rows]
    assert seqs == sorted(seqs)
    # every sequence merged: count sums the sightings, first <= last
    assert all(r["count"] >= 1 and r.first_datetime <= r.last_datetime for r in rows)
    desc = api.get_manifests(spark, sf_dir, "nHU3", descending=True).df.collect()
    assert [r.sequence for r in desc] == sorted(seqs, reverse=True)
    # active key = highest sequence's ephemeral key
    active = {
        r.master_public_key: r
        for r in api._q("manifests_active_key")(spark, sf_dir).collect()
    }
    assert active["nHU3"].sequence == max(seqs)
    assert active["nHU3"].ephemeral_public_key == desc[0].ephemeral_public_key
    # marker pagination: pages concatenate to the full unpaged list
    page1 = api.get_manifests(spark, sf_dir, "nHU3", limit=2)
    assert page1.marker is not None
    page2 = api.get_manifests(spark, sf_dir, "nHU3", limit=200, marker=page1.marker)
    paged = [r.sequence for r in page1.df.collect()] + [
        r.sequence for r in page2.df.collect()
    ]
    assert paged == seqs and page2.marker is None
    with pytest.raises(api.InvalidRequest):
        api.get_manifests(spark, sf_dir, "nHU3", marker="garbage")


def test_transactions_binary_false_decodes_payload(spark, sf_dir):
    # binary=true: opaque payload string; binary=false: decoded fields
    raw = api.get_transactions(spark, sf_dir, limit=5).df.collect()
    assert all(isinstance(r.props, str) for r in raw)
    dec = api.get_transactions(spark, sf_dir, limit=5, binary=False).df.collect()
    assert "props" not in dec[0].asDict()
    assert all(r.props_decoded.k is not None for r in dec)


def test_ledger_resolution_modes_agree(spark, sf_dir):
    latest = api.get_ledger(spark, sf_dir).df.first()
    by_key = api.get_ledger(spark, sf_dir, ledger_key=latest.o_orderkey).df.first()
    assert by_key.o_orderkey == latest.o_orderkey
    at = api.get_ledger(
        spark, sf_dir, at=str(latest.o_orderdate)
    ).df.first()
    assert at.o_orderkey == latest.o_orderkey


def test_ledger_transactions_sorted_by_index(spark, sf_dir):
    ledger = api.get_ledger(spark, sf_dir).df.first()
    txs = api.get_ledger_transactions(
        spark, sf_dir, ledger.o_orderkey
    ).df.collect()
    idx = [t.l_linenumber for t in txs]
    assert idx == sorted(idx)


def test_exchange_rate_requires_known_pair(spark, sf_dir):
    with pytest.raises(api.InvalidRequest):
        api.get_exchange_rate(spark, sf_dir, "DOGE")


def test_normalize_converts(spark, sf_dir):
    page = api.normalize(spark, sf_dir, 100.0, "purchase")
    row = page.df.first()
    if row is not None and row.rate is not None:
        assert abs(row.converted - 100.0 * row.rate) < 1e-9
    with pytest.raises(api.InvalidRequest):
        api.normalize(spark, sf_dir, -1.0, "purchase")


def test_metric_validation_and_live_mode(spark, sf_dir):
    with pytest.raises(api.InvalidRequest):
        api.get_metric(spark, sf_dir, "vibes_volume")
    live = api.get_metric(spark, sf_dir, "payment_volume", live="7day").df
    assert "total_7day" in live.columns


def test_network_fees_intervals(spark, sf_dir):
    with pytest.raises(api.InvalidRequest):
        api.get_network_fees(spark, sf_dir, interval="century")
    per_ledger = api.get_network_fees(spark, sf_dir, "ledger").df
    daily = api.get_network_fees(spark, sf_dir, "day").df
    assert "ledger_index" in per_ledger.columns
    assert "date" in daily.columns
    # same fee stream, so grand totals agree across groupings
    t1 = per_ledger.agg(F.sum("total")).first()[0]
    t2 = daily.agg(F.sum("total")).first()[0]
    assert abs(t1 - t2) < 1e-6


def test_top_markets_default_is_latest_date(spark, sf_dir):
    page = api.get_top_markets(spark, sf_dir).df.collect()
    assert page
    dates = {r.date for r in page}
    assert len(dates) == 1


def test_validator_reports_filter(spark, sf_dir):
    all_rows = api.get_validator_reports(spark, sf_dir).df
    v = all_rows.first().validator
    one = api.get_validator_reports(spark, sf_dir, validator=v).df.collect()
    assert one and all(r.validator == v for r in one)


def test_health_status_thresholds(spark, sf_dir):
    fresh = api.get_health(spark, sf_dir, "2024-01-31 00:00:00", threshold_s=10**9)
    assert fresh.df.first().status == "healthy"
    stale = api.get_health(spark, sf_dir, "2025-01-01 00:00:00", threshold_s=60)
    assert stale.df.first().status == "stale"


def test_accounts_created_rollup(spark, sf_dir):
    with pytest.raises(api.InvalidRequest):
        api.get_accounts(spark, sf_dir, interval="minute")
    n_signups = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .count()
    )
    rolled = api.get_accounts(spark, sf_dir, interval="day", limit=1000).df
    assert rolled.agg(F.sum("count")).first()[0] == n_signups


def test_account_stats_family(spark, sf_dir):
    with pytest.raises(api.InvalidRequest):
        api.get_account_stats(spark, sf_dir, ACCOUNT, family="mood")
    rows = api.get_account_stats(spark, sf_dir, ACCOUNT).df.collect()
    assert rows and all(r.family == "type" for r in rows)


def test_account_escrows_and_channels(spark, sf_dir):
    esc = api.get_account_escrows(spark, sf_dir, ACCOUNT).df
    assert all(r.account == ACCOUNT for r in esc.collect())
    chans = api.get_account_payment_channels(spark, sf_dir, ACCOUNT).df.collect()
    # every channel id is the md5 of this account and some counterparty
    assert all(len(r.channel) == 32 for r in chans)


def test_account_exchanges_filters_orders_and_limits(spark, sf_dir):
    with pytest.raises(api.InvalidRequest):
        api.get_account_exchanges(spark, sf_dir, ACCOUNT, base="barter")
    rows = api.get_account_exchanges(spark, sf_dir, ACCOUNT, limit=1000).df
    rows = rows.collect()
    assert rows and all(r.account == ACCOUNT for r in rows)
    keys = [(r.ts, r.event_id) for r in rows]
    assert keys == sorted(keys, reverse=True)
    base = rows[0].pair
    based = api.get_account_exchanges(
        spark, sf_dir, ACCOUNT, base=base, limit=1000
    ).df.collect()
    assert based and all(
        r.account == ACCOUNT and r.pair == base for r in based
    )
    assert based == [r for r in rows if r.pair == base]
    top = api.get_account_exchanges(spark, sf_dir, ACCOUNT, limit=3).df
    assert top.collect() == rows[:3]


def test_last_validated_is_newest(spark, sf_dir):
    last = api.get_last_validated(spark, sf_dir).df.first()
    o = load_table(spark, sf_dir, "orders")
    assert last.o_orderdate == o.agg(F.max("o_orderdate")).first()[0]
