"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import decimal
from types import SimpleNamespace

import pytest

from perfbench import api_mix, datagen, stats, trace, workloads


# -- percentile picker ------------------------------------------------------

def test_percentile_needs_ten_samples_beyond_it():
    assert stats.needed(50) == 20
    assert stats.needed(90) == 100
    assert stats.needed(95) == 200
    values = [float(i) for i in range(1, 101)]
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile(values, 50) == 50.0
    with pytest.raises(ValueError):
        stats.percentile(values, 95)
    with pytest.raises(ValueError):
        stats.percentile(values[:19], 50)


def test_highest_percentile_names_only_supported_ones():
    assert stats.highest_percentile(19) is None
    assert stats.highest_percentile(20) == 50
    assert stats.highest_percentile(99) == 75
    assert stats.highest_percentile(100) == 90
    assert stats.highest_percentile(1000) == 99
    for n in (20, 40, 100, 200, 1000, 10000):
        assert stats.samples_beyond(n, stats.highest_percentile(n)) >= stats.MIN_BEYOND


# -- request mix --------------------------------------------------------------

EVENT_USERS = [(7 * i) % 1499 for i in range(10000)]  # account 1499 has no events


def _mix(seed):
    return api_mix.make_mix(seed, 40, users=1500, ledgers=15000, event_users=EVENT_USERS)


def test_same_seed_same_mix_other_seed_other_mix():
    assert _mix(7) == _mix(7)
    assert _mix(7) != _mix(8)


def test_mix_shape():
    items = _mix(1)
    assert {i.route for i in items} == set(api_mix.ROUTES)
    requests = sum(i.pages for i in items)
    lookups = sum(i.pages for i in items if api_mix.ROUTES[i.route].kind == api_mix.LOOKUP)
    assert 0.65 < lookups / requests < 0.72
    assert sorted({i.pages for i in items}) == [1, 2, 3, 4, 5]
    # Two clients taking every other item each see every block position.
    block = len(api_mix.BLOCK)
    assert [i.route for i in items[0::2][:block]] != [i.route for i in items[1::2][:block]]
    assert sorted(i.route for i in items[0::2][:block]) == sorted(
        i.route for i in items[:block])
    # Zipf skew: the hottest account is drawn far more often than average.
    accounts = [dict(i.params)["account"] for i in items if "account" in dict(i.params)]
    top = max(accounts.count(a) for a in set(accounts))
    assert top > 10 * len(accounts) / 1500
    # A point read by sequence names an event of its own account.
    seq_reads = [dict(i.params) for i in items if i.route == "account_transaction_by_seq"]
    assert seq_reads and all(EVENT_USERS[p["seq"]] == p["account"] for p in seq_reads)


# -- fingerprints and failure counting ---------------------------------------

ROWS = [(1, dt.datetime(2024, 1, 1, 0, 0, 1), 2.5, "a"),
        (2, dt.datetime(2024, 1, 1, 0, 0, 2), 3.25, "b")]
COLS = ["event_id", "ts", "value", "props"]


def test_fingerprint_is_order_aware_only_for_ordered_routes():
    assert api_mix.fingerprint(COLS, ROWS, True) != api_mix.fingerprint(COLS, ROWS[::-1], True)
    assert api_mix.fingerprint(COLS, ROWS, False) == api_mix.fingerprint(COLS, ROWS[::-1], False)


def test_fingerprint_matches_by_column_name_and_numeric_value():
    swapped = [(r[2], r[0], r[1], r[3]) for r in ROWS]
    as_ints = [(1.0, *ROWS[0][1:]), (2.0, *ROWS[1][1:])]
    want = api_mix.fingerprint(COLS, ROWS, True)
    assert api_mix.fingerprint(["value", "event_id", "ts", "props"], swapped, True) == want
    assert api_mix.fingerprint(COLS, as_ints, True) == want


@pytest.mark.parametrize("corrupt", [
    lambda rows: rows[:1],                                   # a row lost
    lambda rows: [rows[0], (2, rows[1][1], 3.2500001, "b")],  # a value off
    lambda rows: rows[::-1],                                 # order broken
    lambda rows: [rows[0], (2, rows[1][1].replace(tzinfo=dt.timezone.utc), 3.25, "b")],
])
def test_a_corrupted_response_counts_as_failed(corrupt):
    key = ("account_transactions", (("account", 5),), 0)
    reference = {key: api_mix.fingerprint(COLS, ROWS, True)}
    good = (key, api_mix.fingerprint(COLS, ROWS, True))
    bad = (key, api_mix.fingerprint(COLS, corrupt(list(ROWS)), True))
    assert api_mix.count_failures([good, good], reference) == []
    assert len(api_mix.count_failures([good, bad, good], reference)) == 1


class _Result:
    """A collected result in the shape the oracle check reads."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def _bump(v):
    return v + 1 if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool) else v


def test_a_corrupted_batch_result_counts_as_failed(tmp_path):
    from rippled_historical_database_spark.plans.registry import all_queries
    from tests.oracle import duckdb_connection

    registry = all_queries()
    datagen.write(str(tmp_path), 5, 0.001)
    name = "q1_pricing_summary"
    con = duckdb_connection(str(tmp_path))
    res = con.execute(registry[name].oracle)
    cols, rows = [d[0] for d in res.description], res.fetchall()
    con.close()
    assert rows
    bad = [tuple(_bump(v) for v in rows[0])] + rows[1:]
    ctx = SimpleNamespace(sf_dir=str(tmp_path), registry=registry)
    assert workloads._oracle_check(ctx, {name: _Result(cols, rows)}) == []
    assert len(workloads._oracle_check(ctx, {name: _Result(cols, bad)})) == 1
    assert len(workloads._oracle_check(ctx, {name: _Result(cols, rows[1:])})) == 1


def test_a_response_without_reference_counts_as_failed():
    key = ("ledger_transactions", (("ledger", 1),), 0)
    assert len(api_mix.count_failures([(key, (0, "x"))], {})) == 1


# -- spans ----------------------------------------------------------------------

def _span(i, name, start, end, parent=None):
    return trace.Span(i, name, start, end, parent, "T.1")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, "request", 0.0, 10.0),
        _span(2, "plans.api.call", 1.0, 4.0, 1),
        _span(3, "sources.catalog.load_table", 1.5, 2.0, 2),
        _span(4, "materialize", 5.0, 9.0, 1),
        _span(5, "spark.plan", 5.0, 6.0, 4),
        _span(6, "spark.exec", 5.5, 8.5, 4),   # overlaps spark.plan
        _span(7, "late", 9.5, 12.0, 1),        # runs past its parent
    ]
    got = trace.self_times(spans)
    assert got[1] == pytest.approx(10 - 3 - 4 - 0.5)
    assert got[2] == pytest.approx(3 - 0.5)
    assert got[3] == pytest.approx(0.5)
    assert got[4] == pytest.approx(4 - 3.5)
    assert got[6] == pytest.approx(3.0)


def test_tracer_records_parent_and_request():
    t = trace.Tracer(True)
    with t.span("request", request="T.9"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert inner.parent == outer.id and inner.request == "T.9"
    off = trace.Tracer(False)
    with off.span("request", request="T.9"):
        off.count("x")
    assert off.spans == [] and off.counters == {}


def test_job_accounting_groups_tasks_by_job_group():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "T.a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "C.b"}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
         "Task Metrics": {"Executor Run Time": 100, "Executor CPU Time": 5 * 10**7,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                          "Peak Execution Memory": sid}}
        for sid in (0, 1, 1, 2)
    ]
    acc = trace.job_accounting(events)
    assert acc["T.a"]["jobs"] == 1 and acc["T.a"]["stages"] == 2
    assert acc["T.a"]["tasks"] == 3 and acc["T.a"]["task_s"] == pytest.approx(0.3)
    assert acc["T.a"]["executor_cpu_s"] == pytest.approx(0.15)
    assert acc["T.a"]["shuffle_write_bytes"] == 30
    assert acc["C.b"]["tasks"] == 1 and acc["C.b"]["submit_times"] == [2.0]


# -- inputs ---------------------------------------------------------------------

def test_generated_tables_follow_the_seed():
    a, b, c = (datagen.tables(s, 0.001) for s in (3, 3, 4))
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["events"].equals(c["events"])
    assert a["lineitem"].num_rows == 4 * a["orders"].num_rows
