"""SparkSession factory.

One place to encode the engine's execution posture (SURVEY.md §4):
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow on (vectorized Python exchange), UTC session time
zone (oracle comparability), shuffle partitions sized for the local
rig but overridable for cluster deploys via ``SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

WINDOW_EXEC_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"


def get_spark(app_name: str = "cassowary_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local-mode defaults; on a real cluster the master/memory settings
    come from spark-submit and everything else here still applies.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime re-planning — dynamic coalescing, skew-join
        # splitting, broadcast conversion once real sizes are known.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle width: match local cores (not the 200 default).
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # UTC so timestamp semantics match the DuckDB oracle exactly.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every Python<->JVM exchange (pandas_udf, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Let Python DataSources (sources/sstable) receive pushed filters.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Cap plan-string rendering (SQL-listener events re-render the
        # physical plan per execution): an iterative job whose rounds
        # each embed a wide upstream tree can otherwise OOM the driver
        # INSIDE explainString — observed at sf10 before the CC
        # edge-frame checkpoint landed. 8 MB keeps explain() useful
        # while bounding the allocation.
        .config("spark.sql.maxPlanStringLength", str(8 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec warns once per unpartitioned window per execution;
    # plancheck.sp_windows_total already counts those windows from the
    # plan text, so the lines only bury the rest of the log.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        WINDOW_EXEC_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark
