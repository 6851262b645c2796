"""SparkSession construction.

Tuned for the test harness (local[N], single JVM) but every setting is
cluster-safe: AQE handles runtime re-planning (skew joins, partition
coalescing) on a real cluster; shuffle partitions default to the local
core count and should be raised to ~2-3x total cores on a cluster.

UTC session timezone is load-bearing: the reference stores all times as
UTC strings (``lib/smoment.js:11``) and the DuckDB oracle uses UTC-naive
timestamps, so Spark must not apply a local-zone shift.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's JVM-wide cache of compiled generated classes
# (``spark.sql.codegen.cache.maxEntries``, a static conf read once per
# JVM; Spark's default is 100).  Sized from the measured working set:
# the 259 non-golden, non-streaming registry queries at sf0.01 compile
# ~3,250 distinct classes (mean bytecode ~3 KB; JVM metaspace +139 MB
# over the sweep, no "CodeCache is full"), and one pass of the 16
# ``bench=True`` queries compiles ~200.  At 100 entries every warm pass
# of that set recompiled all ~200 with Janino (16.8 ms mean per compile,
# 4-core host); at 4096 the whole registry fits, so a long-lived session
# compiles each generated class once.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app_name: str = "rippled-historical-database-spark") -> SparkSession:
    # Python workers deserialize package-level UDFs by importing this package,
    # so the repo root must be on the workers' PYTHONPATH regardless of the
    # driver's cwd (local mode inherits the driver process environment).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off: a port and its threads per session, and nothing reads it.
        .config("spark.ui.enabled", "false")
        # Spark has no TIMESTAMP(NANOS) parquet type; read nanos columns
        # (events.ts, when the testdata generation emits nanos) as long and
        # convert in the catalog loader -- which checks the parquet footer
        # and only applies the shim to genuine TIMESTAMP(NANOS) columns.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write micros (not legacy INT96) so DuckDB/pyarrow/our own footer
        # sniffer see the same timestamp semantics Spark does.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # PySpark's call-site capture (pyspark.errors.utils._with_origin)
        # adds py4j round trips (a conf read, the JVM origin's set and
        # clear) and a Python stack walk to every F.col/F.lit call: one
        # F.col took 1.8-4.6 ms with it and 0.4 ms without, and building
        # the 16 headline queries 3.1-3.6 s vs 2.3-2.5 s (sf0.01, 4-core
        # host).  Off, a runtime error loses only its Python call site;
        # the error class, message and JVM stack stay.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Reliable checkpoint dir (optional): when set, iterative operators
    # truncate lineage with recoverable checkpoints instead of
    # executor-local ones (functions/caching.truncate_lineage).  On a
    # cluster this should point at shared storage; unset (the local
    # harness default) keeps zero-I/O localCheckpoint behavior.
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt and not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined():
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, mean compile ms) since the JVM started.

    The count is exact: one sample per Janino compile, i.e. per miss of
    the generated-class cache.  The mean comes from the histogram's
    decaying reservoir snapshot, so it weighs recent compiles more."""
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return int(timer.getCount()), float(timer.getSnapshot().getMean())
