"""Bounded persist scope for registered query paths (guide section 5).

Registered query functions persist intermediates that the SAME query's
multiple evaluation passes reuse (eager normalizer jobs, two-pass
numbering, band joins).  Spark's CacheManager keys cached relations by
canonicalized logical plan, so RE-invocations of one query map to one
entry and reuse its blocks (the measured note at dedup.py:303) -- but a
long-lived session running many DIFFERENT queries accumulates one
entry per distinct persisted plan forever (VERDICT r14 item 6).

``scoped_persist`` keeps both properties: every persist through this
helper is tracked in an insertion-ordered registry keyed by the plan's
semantic hash; re-persisting the same plan refreshes its slot instead
of duplicating; and when the registry exceeds its budget the OLDEST
entries are unpersisted (non-blocking).  The budget (16 entries) is
far above any single query's persist count (max observed: 4), so
within-query and repeat-run reuse are untouched -- only a multi-query
session's total cache footprint is now bounded instead of growing
without limit.

A semantic-hash collision merely skips one persist (the query
recomputes that relation; results unchanged).  Eviction uses the
stored handle, so dropping a DataFrame reference never leaks an entry.

``memoize_local`` is the serving-side counterpart: a rollup that a
request path re-reads (the ``plans.api`` routes over registry queries)
is computed once per input-data version and kept as a driver-local
relation (``local_df``, an Arrow-backed ``LocalTableScan``), so a repeat
request scans it on the driver with no plan build and no Spark job --
the reference's REST layer likewise only range-scans tables its
aggregation daemons keep up to date.  The memo is per ``SparkSession``
and held weakly (another session never sees a session's relations, and
they go when it does), LRU-bounded at ``MEMO_MAX_ROWS`` rows per
session, and a result over that cap is served lazily instead, as before.
"""

from __future__ import annotations

import threading
import weakref
from collections import Counter, OrderedDict
from dataclasses import dataclass
from typing import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

from .localrel import local_df

_BUDGET = 16
_LOCK = threading.Lock()
_TRACKED: "OrderedDict[int, DataFrame]" = OrderedDict()


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() with session-bounded lifetime (see module doc)."""
    key = df.semanticHash()
    with _LOCK:
        if key in _TRACKED:
            # Same canonicalized plan: the CacheManager already holds
            # (or will rebuild) one shared entry; just refresh LRU
            # position.  Not re-calling persist() avoids the
            # "already cached" churn on the shared entry.
            _TRACKED.move_to_end(key)
            return df
        df.persist()
        _TRACKED[key] = df
        evict = []
        while len(_TRACKED) > _BUDGET:
            _, old = _TRACKED.popitem(last=False)
            evict.append(old)
    for old in evict:
        try:
            old.unpersist(blocking=False)
        except Exception:  # session already stopped: nothing to free
            pass
    return df


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and replace its plan with a scan of the
    blocks (the iterative-algorithm lineage discipline).

    r15 (VERDICT r14 item 8): ``localCheckpoint`` blocks live on
    executor LOCAL storage, so at cluster scale an executor loss makes
    the truncated lineage unrecoverable mid-query.  When the session
    has a reliable checkpoint directory configured (set
    ``SPARK_GRAFT_CHECKPOINT_DIR`` before get_spark, or call
    ``sc.setCheckpointDir``), this uses a RELIABLE ``checkpoint``
    instead -- recoverable across executor loss at the cost of one
    write to shared storage per truncation.  On the local harness
    (no directory configured) it keeps localCheckpoint's zero-I/O
    behavior; both paths yield the same truncated RDD-scan plan shape
    the tests pin, and identical results.
    """
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def tracked_count() -> int:
    """Number of live scoped persists (test/probe hook)."""
    with _LOCK:
        return len(_TRACKED)


def reset_scope() -> None:
    """Unpersist everything tracked (test hook; never in query paths)."""
    with _LOCK:
        entries = list(_TRACKED.values())
        _TRACKED.clear()
    for df in entries:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass


# Rows memoized per session, over all entries.  Holds every rollup the
# routes read at sf0.1 (largest: agg_fee_per_ledger, ~147k rows; all
# of them ~215k), a few tens of MB of JVM-side rows.
MEMO_MAX_ROWS = 250_000


@dataclass
class _Memo:
    version: Hashable
    # The JVM Dataset only: a Python DataFrame would reference the session
    # and keep its weak key alive.  None: over the cap, served lazily.
    jdf: object | None
    rows: int


_MEMOS: "weakref.WeakKeyDictionary[SparkSession, OrderedDict]" = (
    weakref.WeakKeyDictionary()
)
_MEMO_STATS: Counter = Counter()


def memoize_local(
    spark: SparkSession,
    key: Hashable,
    version: Hashable,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """``build()``'s result as a driver-local relation, computed once per
    (``spark``, ``key``, ``version``).

    A hit returns the stored relation.  An entry under the same key with
    another ``version`` is stale (the inputs changed) and is dropped; the
    miss then builds, collects and stores the result, evicting the least
    recently used entries past ``MEMO_MAX_ROWS``.  A result over the cap
    is returned as ``build()``'s lazy DataFrame, and later calls at that
    version skip the collect.  Two concurrent misses may both compute;
    the last one stored wins.
    """
    with _LOCK:
        memo = _MEMOS.setdefault(spark, OrderedDict())
        entry = memo.get(key)
        if entry is not None and entry.version != version:
            del memo[key]
            entry = None
        if entry is not None:
            memo.move_to_end(key)
            if entry.jdf is not None:
                _MEMO_STATS["hits"] += 1
                return DataFrame(entry.jdf, spark)
            _MEMO_STATS["oversize"] += 1
    df = build()
    if entry is not None:  # known to be over the cap at this version
        return df
    rows = df.collect()
    if len(rows) > MEMO_MAX_ROWS:
        local, n = None, 0
    else:
        local, n = local_df(spark, rows, df.schema), len(rows)
    with _LOCK:
        memo = _MEMOS.setdefault(spark, OrderedDict())
        memo[key] = _Memo(version, None if local is None else local._jdf, n)
        memo.move_to_end(key)
        total = sum(e.rows for e in memo.values())
        while total > MEMO_MAX_ROWS:
            _, old = memo.popitem(last=False)
            total -= old.rows
        _MEMO_STATS["misses"] += 1
        if local is None:
            _MEMO_STATS["oversize"] += 1
    return df if local is None else local


def memo_stats() -> dict[str, int]:
    """Memo hits, misses, over-cap (lazy) serves and the rows held now,
    over all live sessions (test/probe hook)."""
    with _LOCK:
        held = sum(e.rows for memo in _MEMOS.values() for e in memo.values())
        return {
            "hits": _MEMO_STATS["hits"],
            "misses": _MEMO_STATS["misses"],
            "oversize": _MEMO_STATS["oversize"],
            "rows": held,
        }
