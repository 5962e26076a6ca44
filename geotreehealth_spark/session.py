"""SparkSession factory with scale-oriented defaults.

Every entry point (tests, bench, driver contract) builds its session here so the
whole engine runs with one consistent config: Arrow batches of a fixed size
across the Python boundary (arrow UDFs, mapInArrow, applyInArrow), AQE
with skew-join splitting (north_rule: "salted repartitioning on H3 cell keys
plus AQE skew-join splitting"), shuffle parallelism tied to core count, and a
generated-code class cache that holds the engine's whole working set.

Spark compiles each whole-stage-codegen pipeline and generated projection to a
Java class and keeps the classes in one JVM-wide cache, keyed on the code text
(and the loading thread's class loader, so a stage compiled on the driver is
compiled again for the executor's tasks). The default of 100 entries is far
below what the engine reuses: with it, a warm call recompiles most of its
code. CODEGEN_CACHE_ENTRIES says how the size was measured.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries, a static conf: the JVM-wide
# CodeGenerator cache reads it once, when it is built. Measured with an
# unbounded cache (CodegenMetrics' compilation count, local[4]): one sweep of
# all 54 queries() compiles 708-715 classes at sf0.001 and 697 at sf0.01; the
# warm-up pass of perfbench's `docs_zonal` compiles about 200 and that of
# `spatial_join` about 160. With Spark's default of 100, every warm pass
# compiled again: 193 classes per `docs_zonal` pass and 216-226 per
# `spatial_join` pass; with 2048, 0 from the second timed pass on. 2048 is
# about 2.9x a full sweep: headroom for AQE's plan variants (a repeat call
# whose stages AQE created in another order compiles a renumbered copy once)
# and for queries to come.
CODEGEN_CACHE_ENTRIES = 2048


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
        # The engine's Python boundary is Arrow-native (arrow UDFs,
        # mapInArrow, applyInArrow) and moves batches of the size below. This
        # flag puts callers' toPandas and createDataFrame(pandas) on Arrow.
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
