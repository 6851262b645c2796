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

``memoize_plan`` keeps the plan, not the rows: ``Query.spark`` builds
each registered query once per session, data directory and data
version, and every later call starts from the stored analyzed plan.
Building a query is Python plan construction over py4j (for the 16
headline queries at sf0.01, a traced pass spent 3.0 s of self time
building them and 7.4 s executing them) plus any job the builder runs,
such as a codebook collect or a schema read; execution still runs in
full on every action.  Both memos share one per-session store and its
staleness rule.
"""

from __future__ import annotations

import threading
import weakref
from collections import Counter, OrderedDict
from dataclasses import dataclass, field
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
    """Unpersist everything tracked and drop every session's memoized
    plans, so the next registry call builds (test hook; never in query
    paths)."""
    with _LOCK:
        entries = list(_TRACKED.values())
        _TRACKED.clear()
        for memo in _MEMOS.values():
            memo.plans.clear()
    for df in entries:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass


# Rows memoized per session, over all entries.  Holds every rollup the
# routes read at sf0.1 (largest: agg_fee_per_ledger, ~147k rows; all
# of them ~215k), a few tens of MB of JVM-side rows.
MEMO_MAX_ROWS = 250_000

# Built plans memoized per session (``memoize_plan``).  Sized from the
# measured working set of a long-lived session: the 16 ``bench=True``
# headline queries plus the 12 registry queries the ``plans.api`` routes
# read (``_q``), 28 plans per data directory, plus a little headroom.
# An entry is an analyzed JVM plan of a few KB, but it keeps alive what
# the plan references: local relations (bounded by ``MEMO_MAX_ROWS``
# rows over all plans, as ``memoize_local``) and the blocks of a
# truncated lineage (``truncate_lineage``).
PLAN_MEMO_ENTRIES = 32


@dataclass
class _Memo:
    version: Hashable
    # A JVM object only (a Dataset or a logical plan): a Python DataFrame
    # would reference the session and keep its weak key alive.  None:
    # over the row cap, served lazily.
    jvm: object | None
    rows: int


@dataclass
class _SessionMemo:
    """One session's memo entries, each OrderedDict in LRU order."""

    local: OrderedDict = field(default_factory=OrderedDict)  # memoize_local
    plans: OrderedDict = field(default_factory=OrderedDict)  # memoize_plan


_MEMOS: "weakref.WeakKeyDictionary[SparkSession, _SessionMemo]" = (
    weakref.WeakKeyDictionary()
)
_MEMO_STATS: Counter = Counter()


def _current(entries: OrderedDict, key: Hashable, version: Hashable) -> _Memo | None:
    """The entry under ``key`` at ``version``, made most recent; None if
    absent.  An entry of another version is stale (the inputs changed)
    and is dropped.  Call under ``_LOCK``."""
    entry = entries.get(key)
    if entry is not None and entry.version != version:
        del entries[key]
        return None
    if entry is not None:
        entries.move_to_end(key)
    return entry


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
        entry = _current(_MEMOS.setdefault(spark, _SessionMemo()).local, key, version)
        if entry is not None:
            if entry.jvm is not None:
                _MEMO_STATS["hits"] += 1
                return DataFrame(entry.jvm, spark)
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
        memo = _MEMOS.setdefault(spark, _SessionMemo()).local
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


def memoize_plan(
    spark: SparkSession,
    key: Hashable,
    version: Hashable,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """A new DataFrame over ``build()``'s analyzed plan, which is built
    once per (``spark``, ``key``, ``version``).

    A hit skips ``build()``: its Python plan construction (py4j round
    trips) and any job it runs, such as a collect, a schema read or an
    eager checkpoint.  Every call, the miss included, returns a new
    Dataset over the stored plan, so no two callers share a
    QueryExecution, and each action plans and executes in full; the memo
    never holds an executed plan, its AQE stages or its shuffle files.
    Staleness, concurrent misses and per-session lifetime follow
    ``memoize_local``.  At most ``PLAN_MEMO_ENTRIES`` plans and
    ``MEMO_MAX_ROWS`` local-relation rows are kept per session (LRU); a
    plan whose local relations alone are over the row cap is not kept,
    and every call builds it.
    """
    with _LOCK:
        entry = _current(_MEMOS.setdefault(spark, _SessionMemo()).plans, key, version)
        if entry is not None:
            _MEMO_STATS["plan_hits"] += 1
    if entry is not None:
        plan = entry.jvm
    else:
        # Dataset.logicalPlan: the analyzed plan, with any command in it
        # already run -- what the built Dataset's own transformations use.
        plan = build()._jdf.logicalPlan()
        rows = _local_rows(plan)
        with _LOCK:
            _MEMO_STATS["plan_misses"] += 1
            if rows > MEMO_MAX_ROWS:
                _MEMO_STATS["plan_oversize"] += 1
            else:
                plans = _MEMOS.setdefault(spark, _SessionMemo()).plans
                plans[key] = _Memo(version, plan, rows)
                plans.move_to_end(key)
                total = sum(e.rows for e in plans.values())
                while len(plans) > PLAN_MEMO_ENTRIES or total > MEMO_MAX_ROWS:
                    _, old = plans.popitem(last=False)
                    total -= old.rows
    jvm = spark._jvm
    # A new root per call: a Dataset adds its id to a mutable set tagged
    # on its plan's root (Dataset.DATASET_ID_TAG, read by the ambiguous
    # self-join check), which on the stored plan would grow with every
    # hit and be written by concurrent callers.
    root = jvm.org.apache.spark.sql.catalyst.plans.logical.Project(plan.output(), plan)
    dataset = jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, root)
    return DataFrame(dataset, spark)


def _local_rows(plan) -> int:
    """Rows held by the local relations among ``plan``'s leaves."""
    leaves = plan.collectLeaves().iterator()
    rows = 0
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LocalRelation":
            rows += leaf.data().size()
    return rows


def memo_stats() -> dict[str, int]:
    """Memo hits, misses, over-cap (lazy) serves and the rows held now,
    then the plan memo's hits, misses, over-cap (unkept) builds and plans
    held now, over all live sessions (test/probe hook)."""
    with _LOCK:
        memos = list(_MEMOS.values())
        return {
            "hits": _MEMO_STATS["hits"],
            "misses": _MEMO_STATS["misses"],
            "oversize": _MEMO_STATS["oversize"],
            "rows": sum(e.rows for m in memos for e in m.local.values()),
            "plan_hits": _MEMO_STATS["plan_hits"],
            "plan_misses": _MEMO_STATS["plan_misses"],
            "plan_oversize": _MEMO_STATS["plan_oversize"],
            "plans": sum(len(m.plans) for m in memos),
        }
