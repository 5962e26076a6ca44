"""aggregates.best_per_key against a Python sort-and-slice, exactly.

Random rows over two key columns with ties on the first order column and
NULLs in both non-id order columns; each case mixes directions and NULL
placements (Spark's defaults: asc is NULLs first, desc is NULLs last) and
ends on the unique id, so the expected rows are fully determined.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from geotreehealth_spark.operators.aggregates import best_per_key

SCHEMA = StructType([
    StructField("g1", LongType()),
    StructField("g2", LongType()),
    StructField("a", LongType()),
    StructField("b", DoubleType()),
    StructField("id", LongType()),
])

# (Spark order, [(column, descending, nulls_first)] for the Python sort);
# lambdas because Columns need a live SparkContext
ORDERS = {
    "a_desc_nulls_first": (
        lambda: [F.col("a").desc_nulls_first(), "b", F.col("id").desc()],
        [("a", True, True), ("b", False, True), ("id", True, False)],
    ),
    "a_asc_nulls_last": (
        lambda: [F.col("a").asc_nulls_last(), F.col("b").desc(), "id"],
        [("a", False, False), ("b", True, False), ("id", False, True)],
    ),
    "a_desc_default": (
        lambda: [F.col("a").desc(), F.col("b").asc_nulls_last(), F.col("id").asc()],
        [("a", True, False), ("b", False, False), ("id", False, True)],
    ),
}


def _rows(seed: int, n: int = 400) -> list[tuple]:
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        a = None if rng.random() < 0.2 else int(rng.integers(0, 4))
        b = None if rng.random() < 0.15 else float(rng.integers(0, 5)) / 4.0
        rows.append((int(rng.integers(0, 4)), int(rng.integers(0, 3)), a, b, i))
    return rows


def _sort_key(row: dict, spec) -> tuple:
    key = []
    for col, desc, nulls_first in spec:
        v = row[col]
        if v is None:
            key.append((0,) if nulls_first else (2,))
        else:
            key.append((1, -v if desc else v))
    return tuple(key)


def _expected(rows: list[tuple], spec, k: int) -> list[tuple]:
    groups: dict = {}
    for r in rows:
        d = dict(zip(SCHEMA.names, r))
        groups.setdefault((d["g1"], d["g2"]), []).append(d)
    out = []
    for members in groups.values():
        members.sort(key=lambda d: _sort_key(d, spec))
        for rank, d in enumerate(members[:k], start=1):
            out.append((*[d[c] for c in SCHEMA.names], rank))
    return sorted(out, key=repr)


@pytest.mark.parametrize("order_name", sorted(ORDERS))
@pytest.mark.parametrize("k", [1, 3])
def test_best_per_key_matches_sort_and_slice(spark, order_name, k):
    rows = _rows(seed=k * 10 + len(order_name))
    df = spark.createDataFrame(rows, SCHEMA)
    make_order, spec = ORDERS[order_name]
    order = make_order()
    want = _expected(rows, spec, k)

    ranked = best_per_key(df, ["g1", "g2"], order, k=k, rank_col="rk")
    assert ranked.columns == [*SCHEMA.names, "rk"]
    assert sorted((tuple(r) for r in ranked.collect()), key=repr) == want

    plain = best_per_key(df, ["g1", "g2"], order, k=k)
    assert plain.columns == SCHEMA.names
    assert sorted((tuple(r) for r in plain.collect()), key=repr) == sorted(
        (w[:-1] for w in want), key=repr
    )


def test_single_key_string_and_ties_across_keys(spark):
    """A string key, and every row tied on the first order column: the pick
    falls through to the id, per key."""
    rows = [(g, 0, 7, None, i) for i, g in enumerate([0, 1, 0, 1, 2, 0])]
    df = spark.createDataFrame(rows, SCHEMA)
    got = best_per_key(df, "g1", [F.col("a").desc(), F.col("id").desc()], k=2, rank_col="r")
    assert sorted(tuple(r) for r in got.select("g1", "id", "r").collect()) == [
        (0, 2, 2), (0, 5, 1), (1, 1, 2), (1, 3, 1), (2, 4, 1),
    ]
