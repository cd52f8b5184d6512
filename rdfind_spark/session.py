"""The one Spark session profile of every harness (bench, tests, CLI,
scripts) and the one cache drop between measured runs.

Reads ``$SPARK_GRAFT_CPUS`` (unset: the cores this process may run on).
Imports nothing from ``rdfind_spark``, so a harness can load this file
by path without importing the package (``scripts/ab_bench.py`` does, to
keep the package it measures the snapshot's own).
"""

from __future__ import annotations

import gc
import os

from pyspark.sql import SparkSession


MAX_HEAP_MB = 48 * 1024


def default_driver_memory(total_bytes: int | None = None) -> str:
    """The default driver heap: half of the machine's memory
    (``total_bytes``, unset: this machine's physical memory), at most
    48g.  In local mode the driver JVM is the executor, so a heap that
    fits the machine is what keeps the OS from killing the process; the
    other half covers the JVM's memory beyond the heap (code cache,
    metaspace, direct buffers: a 12g heap measured 13.3 GB resident)
    and the Python driver."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(MAX_HEAP_MB, total_bytes // 2 // (1024 * 1024))}m"


def spark_session(
    app_name: str,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = default_driver_memory(),
    ui: bool = False,
) -> SparkSession:
    """Start (or get) the session.  ``master`` defaults to
    ``local[<cores>]``, ``shuffle_partitions`` to 4 × cores,
    ``driver_memory`` to ``default_driver_memory()`` (``None`` keeps
    Spark's default heap), and ``ui=True`` keeps the web UI with 3000
    retained jobs and stages."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 4 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.maxPlanStringLength", "1000000")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Generated-class retention across a long session: the codegen
        # class cache holds 100 entries by default, so by query ~40 of
        # bench.py the classes compiled by the warmup and the early
        # heavies are evicted and late queries re-pay janino compilation
        # and C2 warmup on timed data (measured: cind_zipf_skew 271.7 s
        # as bench query #43 vs 65.7 s as query #7 of a short session,
        # same tree and machine).
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # The default 240 MB JIT code cache silently flushes compiled
        # code under the same churn (UseCodeCacheFlushing prints no
        # warning).
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        # events.parquet may hold TIMESTAMP(NANOS), which Spark cannot
        # read without it
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", str(ui).lower())
    )
    if ui:
        builder = builder.config("spark.ui.retainedJobs", "3000").config(
            "spark.ui.retainedStages", "3000"
        )
    if driver_memory is not None:
        builder = builder.config("spark.driver.memory", driver_memory)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def drop_cached(spark: SparkSession) -> None:
    """Release everything cached or persisted, then force a Python and a
    JVM GC.  Run between measured queries, outside the timers: a leaked
    persisted table eats executor memory and slows the next query
    (observed: capture_supports 1.3 s → 14 s after a query that leaked
    its persisted prefix), and broadcast and localCheckpoint blocks are
    reclaimed by the ContextCleaner only after a driver GC notices the
    dropped references (heavy queries ran ~2× their isolated time by
    the middle of a 25-query session without it)."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
