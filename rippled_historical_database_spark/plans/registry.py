"""Query registry: every implemented operator from SURVEY.md section 2
registers here as (name, spark callable, duckdb oracle SQL).

The registry is the single source of truth consumed by:
  * ``__spark_entry__.py``  -- the driver's correctness gate,
  * ``tests/``              -- local spark-vs-duckdb comparison,
  * ``bench.py``            -- headline timing queries.

An operator without an oracle (genuinely non-SQL-expressible: MinHash
banding, streaming state) registers ``oracle=None`` and gets a weaker
rows-only check -- keep those rare.

``Query.spark`` builds its query once per (session, name,
``realpath(sf_dir)``, oracle-verify mode,
``sources.catalog.data_version(sf_dir)``) through
``functions.caching.memoize_plan``; a later call returns a new
DataFrame over the stored plan.  Verify mode
(``functions.dispatch.verify_mode``) is in the key because a build
reads it: under it a size-dispatched query raises instead of serving
its unpinned form.  ``register()`` returns the undecorated function, so
calls inside a module, and tests that patch a module constant and call
the module function, build every time.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    spark: SparkFn
    oracle: str | None
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    # Rotation tier of the __spark_entry__ gate: queries sort by
    # (rotation_group, name), so queries added mid-round register with
    # group 1 to queue BEHIND entries still awaiting their first gate
    # row -- the gate truncates at 50.  Name order, not registration
    # order, keeps the sort independent of which module a process
    # happened to import first.
    rotation_group: int = 0


REGISTRY: dict[str, Query] = {}


def _memoized(name: str, fn: SparkFn) -> SparkFn:
    """``fn`` behind the plan memo (module docstring).  Keeps ``fn``'s
    ``__module__`` and ``__name__``, which per-module timings read."""

    @functools.wraps(fn)
    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Deferred so `import plans.registry` stays cheap.
        from ..functions.caching import memoize_plan
        from ..functions.dispatch import verify_mode
        from ..sources.catalog import data_version

        key = (name, os.path.realpath(sf_dir), verify_mode())
        return memoize_plan(spark, key, data_version(sf_dir), lambda: fn(spark, sf_dir))

    return spark_fn


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = False,
    rotation_group: int = 0,
) -> Callable[[SparkFn], SparkFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query plan."""

    def deco(fn: SparkFn) -> SparkFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name, spark=_memoized(name, fn), oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            bench=bench, rotation_group=rotation_group,
        )
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Import every operator module (side-effect: registration) and
    return the populated registry."""
    # Imports deferred so `import plans.registry` stays cheap.
    from ..operators import (  # noqa: F401
        anomaly,
        candles,
        cdc,
        dedup,
        funnels,
        golden,
        graph,
        joins,
        layout,
        lifecycle,
        multimodal,
        parsers,
        pipeline,
        profiling,
        rates,
        readers,
        reports,
        rollups,
        sampling,
        scan,
        sessions,
        sketches,
        similarity,
        text_analysis,
        topk,
        tpch,
        xrpl_topology,
    )
    from ..operators import corpus_ml  # noqa: F401
    from ..sources import jsonl, wet  # noqa: F401
    from . import curate  # noqa: F401
    from ..streaming import (  # noqa: F401
        candles_stream,
        documents_stream,
        hll_stream,
        rsi_stream,
        sessions_stream,
        stateful_buckets,
    )

    # Ordering is fully structural: (rotation_group, name).  Registration
    # order is import-order-dependent -- a test that imported an operator
    # module before the first all_queries() call would move everything
    # that module registers, which made the COVERAGE.md freshness table
    # (and any in-process tiebreak) differ between a bare interpreter and
    # a full pytest run.  Name order is identical in every process;
    # rotation_group still queues mid-round additions behind earlier
    # tiers (tests/test_rotation.py).
    ordered = sorted(REGISTRY.values(), key=lambda q: (q.rotation_group, q.name))
    return {q.name: q for q in ordered}
