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

from rippled_historical_database_spark.plans.registry import all_queries
from rippled_historical_database_spark.session import codegen_stats


def _pass(spark, sf_dir, queries) -> int:
    """Build and evaluate every query into the noop sink; compiles run."""
    before, _ = codegen_stats(spark)
    for q in queries:
        q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return codegen_stats(spark)[0] - before


def test_warm_pass_compiles_nothing(spark, sf_dir):
    queries = [q for q in all_queries().values() if q.bench]
    assert len(queries) == 16
    cold = _pass(spark, sf_dir, queries)
    warm = _pass(spark, sf_dir, queries)
    assert warm == 0, f"warm pass recompiled {warm} classes (cold pass: {cold})"
