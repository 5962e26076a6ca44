"""Batch-incremental checkpointing: per-partition lineage + metrics + resume.

north_rule: "resumable from checkpoint with per-partition lineage + metrics".
The reference is batch-only (SURVEY.md §2.8) so this maps to stage-level
incremental recompute, not Structured Streaming:

- every pipeline stage writes its output parquet PARTITIONED BY a stable
  `part_key` (e.g. coarse cell id or tile id);
- alongside, a lineage table records (stage, part_key, input_fingerprint,
  row_count, wall_ms, completed_at_ns);
- a restarted job anti-joins its input partitions against completed lineage
  rows and recomputes ONLY missing/stale partitions, then unions with the
  checkpointed output.

The input_fingerprint is a deterministic hash of the partition's input rows
(xor-aggregated row hashes — order-independent), so a changed input partition
is detected and recomputed, which is exactly Iceberg-snapshot semantics
expressed over plain parquet (SURVEY.md §7 hazard 5: Iceberg jar unavailable
in the sandbox; the catalog module keeps the swap one line).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geotreehealth_spark.catalog import Catalog

LINEAGE_DIR = "_lineage"


def partition_fingerprints(df: DataFrame, part_key: str) -> DataFrame:
    """(part_key, input_fingerprint, input_rows) — order-independent,
    multiset-safe fingerprint.

    bit_xor alone cancels duplicate rows (h^h=0): a partition gaining or
    losing an EVEN number of copies of one row would keep its xor (ADVICE.md
    round 1). Pairing xor with the wrap-around SUM of the same hashes (sum
    changes by k*h for k extra copies) plus the row count makes duplicate-
    count changes visible; all three participate in the staleness key.
    """
    hashed = df.withColumn("__h", F.xxhash64(*[F.col(c) for c in df.columns]))
    # sum of 31-bit residues: multiset-sensitive, and bounded by 2^31 * rows
    # so it cannot overflow int64 under ANSI arithmetic
    return hashed.groupBy(part_key).agg(
        F.expr(
            "concat(cast(bit_xor(__h) as string), ':', "
            "cast(sum(pmod(__h, 2147483647)) as string))"
        ).alias("input_fingerprint"),
        F.count("*").alias("input_rows"),
    )


def _lineage_table(stage: str) -> str:
    return os.path.join(LINEAGE_DIR, stage)


def read_lineage(spark: SparkSession, base: str, stage: str) -> DataFrame | None:
    return Catalog(base).read(spark, _lineage_table(stage))


def run_stage(
    spark: SparkSession,
    stage: str,
    inputs: DataFrame,
    part_key: str,
    compute,
    base: str,
) -> DataFrame:
    """Run `compute(partition_subset_df) -> DataFrame` incrementally.

    Returns the full stage output (checkpointed parts + newly computed parts).
    compute must be deterministic per partition (all engine operators are).
    """
    cat = Catalog(base)
    fps = partition_fingerprints(inputs, part_key)
    done = read_lineage(spark, base, stage)
    if done is not None:
        fresh = fps.join(
            done.select(part_key, "input_fingerprint", "input_rows"),
            [part_key, "input_fingerprint", "input_rows"],
            "left_anti",
        )
    else:
        fresh = fps
    fresh_keys = [r[0] for r in fresh.select(part_key).collect()]

    if fresh_keys:
        t0 = time.time()
        subset = inputs.join(
            F.broadcast(fresh.select(part_key)), part_key, "left_semi"
        )
        result = compute(subset)
        cat.overwrite_partitions(result, stage, part_key)
        wall_ms = int((time.time() - t0) * 1000)
        out_now = cat.read(spark, stage).join(
            F.broadcast(fresh.select(part_key)), part_key, "left_semi"
        )
        counts = out_now.groupBy(part_key).agg(F.count("*").alias("row_count"))
        # the per-call values ride a one-row inline table (a local relation:
        # rows, not code), not F.lit: a numeric literal is inlined into the
        # generated class, so every call would compile a new one. An inline
        # table, unlike createDataFrame(list), starts no Python worker.
        run = spark.sql(
            f"SELECT * FROM VALUES ({wall_ms}, {time.time_ns()}L) AS run(wall_ms, completed_at_ns)"
        )
        lineage_rows = (
            fresh.join(counts, part_key, "left")
            .withColumn("row_count", F.coalesce(F.col("row_count"), F.lit(0)))
            .withColumn("stage", F.lit(stage))
            .crossJoin(run)
        )
        cat.append(lineage_rows, _lineage_table(stage))
    return cat.read(spark, stage)
