"""Group-wise selection and zonal aggregation operators (SURVEY.md A1-A10).

Reference semantics:
- best-per-key: one primitive for every per-key pick — keep-max-DBH /
  keep-latest-Year (P9, batch_sam.py:741,765), group-first after a multi-key
  sort (A1, delineation_utils.py:453), the median pick, argmins and top-k. The reference leans on pandas sort stability for
  ties (SURVEY.md §7 hazard 2); every caller pins an explicit total order.
- median-pick (A2): per StemTag, keep the crown whose area CA is closest to
  the group median (batch_sam.py:158-178). Median = interpolated middle
  ((lo+hi)/2 for even groups), like np.median; tie-break (|CA-med|, crown_id).
- zonal lidar stats (A7): per-crown mean of z for points in the crown bbox
  (delineation_utils.py:356-364); height percentiles are the engine's CHM
  generalization. Percentiles here are RANK-BASED (value at ceil(q*n), ties by
  (z, point_id)) so results are exact doubles — reproducible across engines
  with no interpolation drift.
- factorize (P12): pd.factorize(labels) → dense ints (main.py:179-180), made
  deterministic via dense_rank over the sorted distinct values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geotreehealth_spark.operators.caching import owned


def best_per_key(
    df: DataFrame,
    keys: str | list[str],
    order: list[str | Column],
    k: int = 1,
    rank_col: str | None = None,
) -> DataFrame:
    """Per key, the first ``k`` rows under ``order`` — every keep-best,
    group-first, argmin and top-k pick in the engine.

    ``order`` is the caller's total order: column names (ascending) or sort
    Columns, with the tie-break and NULL placement spelled out. One
    ``row_number`` window filtered to ``<= k``; Spark plans a partial
    WindowGroupLimit before the exchange, so each key collapses to k rows
    map-side. The rank column is kept only when ``rank_col`` names it.
    """
    keys = [keys] if isinstance(keys, str) else keys
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() if isinstance(c, str) else c for c in order]
    )
    rn = rank_col or "__rn"
    out = df.withColumn(rn, F.row_number().over(w)).where(F.col(rn) <= k)
    return out if rank_col else out.drop(rn)


def median_pick(
    df: DataFrame, key: str, value: str, id_col: str
) -> DataFrame:
    """A2: per key, the row whose `value` is nearest the group median.

    One shuffle on `key`; median computed with two windows (no second shuffle —
    same partitioning reused by Catalyst). r6: the input lineage feeds both
    the median derivation and the final pick join — persist it once (kept:
    the returned plan reads it).
    """
    with owned() as o:
        df = o.keep(o.persist(df))
    w_order = Window.partitionBy(key).orderBy(F.col(value).asc(), F.col(id_col).asc())
    w_all = Window.partitionBy(key)
    ranked = df.withColumn("__rn", F.row_number().over(w_order)).withColumn(
        "__n", F.count("*").over(w_all)
    )
    # interpolated median = mean of the middle one-or-two values
    mid = ranked.where(
        (F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
        | (F.col("__rn") == F.ceil((F.col("__n") + 1) / 2))
    )
    med = mid.groupBy(key).agg(((F.min(value) + F.max(value)) / F.lit(2.0)).alias("__med"))
    pick = [F.abs(F.col(value) - F.col("__med")).asc(), id_col]
    return best_per_key(df.join(med, key), key, pick).drop("__med")


def rank_percentile(
    df: DataFrame,
    key: str,
    value: str,
    tie_col: str,
    quantiles: dict[str, float],
) -> DataFrame:
    """A7: exact rank-based percentiles per group, one output column per q.

    value at row_number == max(1, ceil(q * n)) under (value, tie_col) order.
    Single shuffle on `key`; both windows share its partitioning.
    """
    w_order = Window.partitionBy(key).orderBy(F.col(value).asc(), F.col(tie_col).asc())
    w_all = Window.partitionBy(key)
    ranked = df.withColumn("__rn", F.row_number().over(w_order)).withColumn(
        "__n", F.count("*").over(w_all)
    )
    aggs = []
    for name, q in quantiles.items():
        target = F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("__n")))
        aggs.append(F.max(F.when(F.col("__rn") == target, F.col(value))).alias(name))
    return ranked.groupBy(key).agg(*aggs)


def _kth_smallest(df: DataFrame, col: str, k: int) -> DataFrame:
    """1-row frame with the k-th smallest value of `col` (multiset rank).

    sort+limit(k)+max — Spark plans this as a TakeOrderedAndProject (per-
    partition top-k then merge of k-row heaps), NOT a global sort: scale-safe
    for any k that fits one executor."""
    return df.select(F.col(col)).orderBy(F.col(col).asc()).limit(k).agg(
        F.max(col).alias("__kth")
    )


def percentile_stretch(df: DataFrame, cols: list[str]) -> DataFrame:
    """A8 percentile stretch (main.py:53-61, store_data_structures.py:84-88):
    per column, clip-scale values to [0,1] between the rank-based 2nd/98th
    percentiles (value at max(1, ceil(q*n)) of the sorted multiset — exact,
    interpolation-free, so the SQL oracle reproduces it bit-for-bit).

    Adds `{col}_stretch` per input column. Degenerate hi == lo → 0.0.
    """
    import math

    n = df.count()
    out = df
    for c in cols:
        k_lo = max(1, math.ceil(0.02 * n))
        k_hi = max(1, math.ceil(0.98 * n))
        bounds = (
            _kth_smallest(df, c, k_lo)
            .withColumnRenamed("__kth", "__lo")
            .crossJoin(_kth_smallest(df, c, k_hi).withColumnRenamed("__kth", "__hi"))
        )
        out = out.crossJoin(F.broadcast(bounds)).withColumn(
            f"{c}_stretch",
            F.when(F.col("__hi") == F.col("__lo"), F.lit(0.0)).otherwise(
                F.least(
                    F.greatest(
                        (F.col(c) - F.col("__lo")) / (F.col("__hi") - F.col("__lo")),
                        F.lit(0.0),
                    ),
                    F.lit(1.0),
                )
            ),
        ).drop("__lo", "__hi")
    return out


def drop_smallest_fraction(df: DataFrame, key: str, value: str) -> DataFrame:
    """§2.6 percent-rank filter: per key, drop rows in the smallest 10% of
    `value` (as the reference drops the smallest-10% crown areas). Keeps rows
    with percent_rank >= 0.1; rank ties share a percent_rank, exactly like SQL
    PERCENT_RANK in both engines."""
    w = Window.partitionBy(key).orderBy(F.col(value).asc())
    return (
        df.withColumn("__pr", F.percent_rank().over(w))
        .where(F.col("__pr") >= 0.1)
        .drop("__pr")
    )


def distinct_count(df: DataFrame, key: str, value: str) -> DataFrame:
    """A9: COUNT(DISTINCT value) per key, as n_distinct."""
    return df.groupBy(key).agg(F.countDistinct(value).alias("n_distinct"))


def factorize(df: DataFrame, col: str) -> DataFrame:
    """P12: deterministic label encode — distinct values sorted → dense
    0..n-1 ids in `label_id`."""
    w = Window.orderBy(F.col(col).asc())
    return (
        df.select(col)
        .distinct()
        .withColumn("label_id", F.dense_rank().over(w) - 1)
    )
