"""The stateful-fold harness (streaming/memory_sink.py) behind the 17
per-key streaming twins.

Laws pinned here:
  * split invariance: for every twin's fold, feeding a key's rows as
    one micro-batch or as two (cut on an ``order`` boundary, state
    carried across) emits the same rows and leaves the same state, one
    value per field of the fold's declared state schema;
  * a twin run leaves no replay files behind (the harness and the
    key-heavy account-bucket twin delete their temp trees after the
    drain, and a twin streaming a single-file table through
    ``catalog.stream_table`` makes none);
  * a twin's state partition count is on the session's conf only
    around ``start()``, not during the drain;
  * bench.py records a failed ETL build instead of dropping it.
"""

from __future__ import annotations

import math
import os
import tempfile

import pytest

from rippled_historical_database_spark.streaming import rsi_stream
from rippled_historical_database_spark.streaming.memory_sink import Fold

TWINS = [
    "stream_rsi_wilder",
    "stream_candle_gap_alerts",
    "stream_atr_wilder",
    "stream_cusum_alerts",
    "stream_heikin_ashi",
    "stream_ichimoku",
    "stream_bollinger_bands",
    "stream_stochastic_oscillator",
    "stream_keltner_channels",
    "stream_macd",
    "stream_obv",
    "stream_rsi_cutler",
    "stream_max_drawdown",
    "stream_donchian_channels",
    "stream_rolling_zscore",
    "stream_gap_interpolation",
    "stream_dollar_bars",
]

# Update-mode twins re-emit a revision per micro-batch; the served
# answer is the last revision per (key, revision id).
_REVISION_ID = {"stream_max_drawdown": [], "stream_dollar_bars": ["bar_id"]}


class FakeState:
    exists = False

    def __init__(self):
        self.stored = None

    @property
    def get(self):
        return self.stored

    def update(self, v):
        self.stored = v
        self.exists = True


class _Captured(Exception):
    pass


def _fold_input(monkeypatch, spark, sf_dir, name):
    """The (batch source, fold) the twin's launcher hands the harness."""
    seen = {}

    def capture(source, query_name, spec):
        seen.update(source=source, spec=spec)
        raise _Captured

    monkeypatch.setattr(rsi_stream, "stateful_fold", capture)
    with pytest.raises(_Captured):
        getattr(rsi_stream, name)(spark, sf_dir)
    return seen["source"], seen["spec"]


def _rows(df, subset):
    if subset is not None:
        df = df.drop_duplicates(subset=subset, keep="last")
    return [
        tuple(None if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in df.itertuples(index=False, name=None)
    ]


def test_every_twin_is_a_fold():
    folds = [v for v in vars(rsi_stream).values() if isinstance(v, Fold)]
    assert len(folds) == len(TWINS) == 17


@pytest.mark.parametrize("name", TWINS)
def test_fold_is_split_invariant(spark, sf_dir, monkeypatch, name):
    import pandas as pd

    source, spec = _fold_input(monkeypatch, spark, sf_dir, name)
    assert isinstance(spec, Fold)
    pdf = source.toPandas()
    subset = None
    if spec.output_mode == "update":
        subset = [spec.key] + _REVISION_ID[name]
    n_split = 0
    for k, group in pdf.groupby(spec.key, sort=True):
        key = (k,)
        ordered = group.sort_values(spec.order, ignore_index=True)
        assert not ordered.duplicated(spec.order).any(), (name, key)

        whole = FakeState()
        (one,) = spec(key, iter([group]), whole)

        half = len(ordered) // 2
        if half == 0:
            continue
        split = FakeState()
        (first,) = spec(key, iter([ordered.iloc[:half]]), split)
        (second,) = spec(key, iter([ordered.iloc[half:]]), split)
        two = pd.concat([first, second], ignore_index=True)

        assert list(one.columns) == spec.output_schema.fieldNames()
        assert _rows(one, subset) == _rows(two, subset), (name, key)
        assert split.stored == whole.stored, (name, key)
        assert len(whole.stored) == len(spec.state_schema.fields)
        n_split += 1
    assert n_split > 0, name


def test_stream_runs_leave_no_temp_files(spark, sf_dir, tmp_path, monkeypatch):
    from rippled_historical_database_spark.streaming.candles_stream import (
        stream_candles_hourly,
    )
    from rippled_historical_database_spark.streaming.stateful_buckets import (
        stream_stateful_account_buckets,
    )

    assert not os.path.isdir(os.path.join(sf_dir, "events.parquet"))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert rsi_stream.stream_macd(spark, sf_dir).count() > 0
    assert stream_stateful_account_buckets(spark, sf_dir).count() > 0
    assert stream_candles_hourly(spark, sf_dir).count() > 0
    assert os.listdir(tmp_path) == []


def test_state_partitions_are_scoped_to_start(spark, sf_dir, monkeypatch):
    """``run_to_memory`` sets ``spark.sql.shuffle.partitions`` for the
    stream's start only: while the stream drains, a query planned on
    the same session (from another thread) sees the session's own
    value, and the drained rows do not change."""
    from pyspark.sql.streaming import StreamingQuery

    session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "3")
    expected = sorted(rsi_stream.stream_rsi_wilder(session, sf_dir).collect(), key=repr)

    seen = []
    drain = StreamingQuery.processAllAvailable

    def recording_drain(self, *args, **kwargs):
        seen.append(session.conf.get("spark.sql.shuffle.partitions"))
        return drain(self, *args, **kwargs)

    monkeypatch.setattr(StreamingQuery, "processAllAvailable", recording_drain)
    got = sorted(rsi_stream.stream_rsi_wilder(session, sf_dir).collect(), key=repr)
    assert seen == ["3"]
    assert got == expected


def test_bench_records_etl_failure(tmp_path, monkeypatch):
    import bench
    from rippled_historical_database_spark.plans import xrpl_etl

    def broken_build(spark, ledger_paths, warehouse):
        raise ValueError("bad ledger")

    monkeypatch.setattr(xrpl_etl, "build_warehouse", broken_build)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ledgers = tmp_path / "ledgers"
    ledgers.mkdir()
    (ledgers / "1.json").write_text("{}")
    assert bench.etl_fields(None, str(ledgers)) == {
        "etl_error": "ValueError: bad ledger"
    }
    assert bench.etl_fields(None, str(tmp_path / "absent")) == {}
