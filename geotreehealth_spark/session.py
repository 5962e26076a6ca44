"""SparkSession factory with scale-oriented defaults.

Every entry point (tests, bench, driver contract) builds its session here so the
whole engine runs with one consistent config: Arrow transport across the
Python boundary (pandas UDFs, mapInPandas, applyInPandas, toPandas), AQE
with skew-join splitting (north_rule: "salted repartitioning on H3 cell keys
plus AQE skew-join splitting"), and shuffle parallelism tied to core count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "geotreehealth-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local parallelism (defaults to $SPARK_GRAFT_CPUS or all cores).
    shuffle_partitions: defaults to 2x cores — small enough that sf0.1-scale
    local runs don't drown in empty tasks, large enough for skew headroom; at
    cluster scale this is expected to be overridden (AQE coalesces anyway).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # Arrow everywhere: pandas UDFs, mapInPandas and applyInPandas always
        # move Arrow batches (sized below); this flag also puts toPandas and
        # createDataFrame(pandas) on Arrow.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime coalescing, skew-join splitting (dense forest cells).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # our rows are tiny (ids + coords + ~90B WKB) but the per-row work is
        # NOT — size-based coalescing packs millions of such rows into a
        # handful of partitions and strands the other cores (measured 4.2x on
        # the crown-stem join at 32 cores). parallelismFirst makes AQE
        # coalesce only down to the cluster parallelism, never below.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic session timezone for date-derived columns.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
