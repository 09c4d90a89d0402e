"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` but every knob here is chosen so the
same code runs unchanged on a 1000-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for the Python
boundary, UTC session timezone so results are oracle-comparable, and a
shuffle-partition count that callers can override per deployment.
The codegen cache holds a whole rebuild's generated classes, so a warm
re-run in a long-lived session compiles (almost) nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Entries of the JVM-wide whole-stage-codegen class cache (a static conf,
# so it must be set before the session starts). Spark's default of 100
# is smaller than this engine's working set: counted with
# CodegenMetrics.METRIC_COMPILATION_TIME().getCount() on a 4-vCPU host
# (local[4], sf0.001), one nightly rebuild (perfbench pos_batch) compiles 166
# distinct classes and one serving round (pos_serve: a stream refresh
# plus eight plans.* calls) about 177. At 100 entries the LRU evicts
# every class before its next use, so each re-run recompiled all of
# them: 159 compiles per rebuild and 17.7 per serving call. At 200 a
# serving round still missed (4.0 per call). At 300 (as at 500 and
# 1000) a rebuild compiles 1.3 classes and a serving call 1.7-1.8; the
# latter are the 14-18 new classes each stream refresh generates, which
# no cache size can reuse.
CODEGEN_CACHE_ENTRIES = 300


def get_spark(
    app_name: str = "pos_pipeline_core_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster, pass ``master=None`` and let spark-submit supply
    the master URL; locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    builder = builder.master(master)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Scale-adaptive shuffle sizing: start reduce stages WIDE and let
        # AQE coalesce down to the advisory size. Small inputs coalesce to
        # a handful of partitions (same plans as before); large inputs
        # keep enough partitions that one agg partition never outgrows a
        # core's hash table. Measured at the 100x bench notch: the
        # 60M-row ticket mart drops 18.0 s (32 fixed partitions) ->
        # 11.8 s with zero per-query tuning; sf0.1 unchanged within
        # noise. On a 1000-executor cluster raise initialPartitionNum
        # with cluster width, nothing else changes.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # the synthetic events table stores TIMESTAMP(NANOS); read as long
        # and convert in the catalog (sources.tables) — Spark has no nanos type
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # local mode: one JVM; keep UI off for headless runs
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_cache_key(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Key of a session-scoped cache entry built from ``sf_dir``.

    The application id names this session, so a later session never
    reads an earlier one's dead checkpoint blocks (``id(spark)`` values
    are reused once a session is collected), and the absolute path makes
    a relative and an absolute spelling of one directory the same key.
    """
    return (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
