"""Per-group class filtering and rebalance-to-min (SURVEY.md A3/A4).

Reference semantics (tree_health_detection/main.py:162-176):
- keep only (site, status) classes with count > min_count (value_counts > 10);
- downsample every surviving class to the size of the smallest surviving class
  (`sample(n=min)`). The reference samples WITHOUT a seed (main.py:173) — a
  nondeterminism we replace with a pinned order (documented deviation,
  SURVEY.md §7 hazard 2): rows are ranked by `order_col` inside each class and
  the first `min_count` survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def class_filter_rebalance(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Filter classes with count <= 10, then downsample all to the min.

    Single-pass plan: one shuffle on group_cols computes counts (broadcast back
    — the class dimension is tiny), one window ranks rows within classes.
    """
    counts = df.groupBy(*group_cols).agg(F.count("*").alias("__cnt")).where(
        F.col("__cnt") > 10
    )
    # min surviving class size: scalar, computed on the tiny counts table
    target = counts.agg(F.min("__cnt").alias("__target"))
    w = Window.partitionBy(*group_cols).orderBy(F.col(order_col).asc())
    return (
        df.join(F.broadcast(counts.select(*group_cols)), group_cols, "left_semi")
        .withColumn("__rn", F.row_number().over(w))
        .crossJoin(F.broadcast(target))
        .where(F.col("__rn") <= F.col("__target"))
        .drop("__rn", "__target")
    )


def stratified_split(
    df: DataFrame,
    strata_cols: list[str],
    order_cols: list,
) -> DataFrame:
    """70/15/15 stratified split on the strata columns (main.py:187-189
    train_test_split(stratify=Status x SiteID)).

    The reference uses sklearn's RNG; the engine pins a deterministic order
    (pass a pseudo-random integer-hash expression plus a unique tie-break as
    order_cols — documented deviation, SURVEY.md §7 hazard 2). Per stratum of
    size n: rows ranked 1..n, rank <= ceil(0.7*n) → 'train', <= ceil(0.85*n)
    → 'val', else 'test', in column `split`. One shuffle; both windows share
    it.
    """
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    w = Window.partitionBy(*strata_cols).orderBy(*[c.asc() for c in order])
    w_all = Window.partitionBy(*strata_cols)
    ranked = df.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(w_all)
    )
    split = (
        F.when(F.col("__rn") <= F.ceil(F.lit(0.7) * F.col("__n")), F.lit("train"))
        .when(F.col("__rn") <= F.ceil(F.lit(0.85) * F.col("__n")), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return ranked.withColumn("split", split).drop("__rn", "__n")
