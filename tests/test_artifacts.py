"""functions/artifacts.py: atomic publish semantics for train-once
artifacts (quant ranges, golden warehouse)."""

from __future__ import annotations

import os

from rippled_historical_database_spark.functions.artifacts import (
    build_once,
    source_key,
)


def _builder(calls):
    def build(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "data"), "w") as f:
            f.write("v")
        calls.append(tmp)

    return build


def test_builds_once_then_reuses(tmp_path):
    path = str(tmp_path / "art")
    calls: list[str] = []
    assert build_once(path, "_OK", _builder(calls)) == path
    assert build_once(path, "_OK", _builder(calls)) == path
    assert len(calls) == 1
    assert os.path.exists(os.path.join(path, "_OK"))
    assert os.path.exists(os.path.join(path, "data"))
    # no temp leftovers
    assert [p for p in os.listdir(tmp_path) if ".tmp." in p] == []


def test_stale_half_built_dir_is_replaced(tmp_path):
    # A crashed pre-atomic writer left a directory without the marker:
    # it must be rebuilt, not trusted.
    path = str(tmp_path / "art")
    os.makedirs(path)
    with open(os.path.join(path, "partial"), "w") as f:
        f.write("junk")
    calls: list[str] = []
    build_once(path, "_OK", _builder(calls))
    assert len(calls) == 1
    assert os.path.exists(os.path.join(path, "_OK"))
    assert not os.path.exists(os.path.join(path, "partial"))


def test_loser_of_publish_race_uses_winner(tmp_path):
    # Simulate a concurrent winner: the build itself publishes the final
    # path (as a racing process would have) before our rename runs.
    path = str(tmp_path / "art")

    def build(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data"), "w") as f:
            f.write("loser")
        os.makedirs(path)
        for name in ("data", "_OK"):
            with open(os.path.join(path, name), "w") as f:
                f.write("winner")

    build_once(path, "_OK", build)
    with open(os.path.join(path, "data")) as f:
        assert f.read() == "winner"
    assert [p for p in os.listdir(tmp_path) if ".tmp." in p] == []


def test_marker_stamped_when_builder_does_not(tmp_path):
    path = str(tmp_path / "art")
    build_once(path, "_BUILT", lambda tmp: os.makedirs(tmp))
    assert os.path.exists(os.path.join(path, "_BUILT"))


def test_source_key_follows_rewrites_and_tolerates_missing(tmp_path):
    src = tmp_path / "embeddings.parquet"
    missing = source_key(str(src))  # no file yet: keys as mtime 0
    src.write_bytes(b"v1")
    k1 = source_key(str(src))
    assert k1 == source_key(str(src)) != missing
    # a rewrite (new mtime) keys a new artifact
    st = os.stat(src)
    src.write_bytes(b"v2")
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert source_key(str(src)) != k1
