"""A warm pass of the headline queries compiles no generated class.

Spark keeps compiled whole-stage/expression classes in one JVM-wide
cache (``spark.sql.codegen.cache.maxEntries``).  At Spark's default of
100 entries a pass of the 16 ``bench=True`` queries (~200 classes)
evicted its own classes, so every warm pass recompiled all of them with
Janino; ``session.CODEGEN_CACHE_ENTRIES`` sizes the cache to the
registry's working set.  The count comes from Spark's codegen metrics:
one compile per cache miss.
"""

from __future__ import annotations

from rippled_historical_database_spark.functions import caching
from rippled_historical_database_spark.plans.registry import all_queries
from rippled_historical_database_spark.session import codegen_stats


def _pass(spark, sf_dir, queries) -> dict[str, int]:
    """Build and evaluate every query into the noop sink; returns each
    query's compile count (compiles run during the action)."""
    deltas = {}
    for q in queries:
        before, _ = codegen_stats(spark)
        q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        deltas[q.name] = codegen_stats(spark)[0] - before
    return deltas


def test_warm_pass_compiles_nothing(spark, sf_dir):
    # Both passes plan against a cache that only these queries populate:
    # a relation an earlier test left persisted would change the plans
    # between the passes.
    caching.reset_scope()
    spark.catalog.clearCache()
    queries = [q for q in all_queries().values() if q.bench]
    assert len(queries) == 16
    cold = sum(_pass(spark, sf_dir, queries).values())
    warm_by_query = _pass(spark, sf_dir, queries)
    warm = sum(warm_by_query.values())
    culprits = {name: n for name, n in warm_by_query.items() if n}
    assert warm == 0, (
        f"warm pass recompiled {warm} classes (cold pass: {cold}); "
        f"per query: {culprits}"
    )
