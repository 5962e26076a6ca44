"""EP4 field-data alignment: broadcast-model pandas-UDF offset regression.

Reference: field_data_alignment/utils.py:99-119 — a fitted GBM/RF ensemble
predicts per-stem (dx, dy) GPS offsets from field covariates and the stem
geometries are rewritten. Model *training/inference* is out of engine scope
(SURVEY.md §2.9), but the engine seam it needs is first-class here: any
fitted model whose ``predict(X)`` is a pure function of a feature matrix
travels to executors once via ``sparkContext.broadcast`` and runs inside an
Arrow-vectorized pandas UDF — batch matrix math, never per-row Python. The
deterministic ``LinearOffsetModel`` stand-in lets tests parity-check the
distributed path bit-exactly against a local numpy application
(tests/test_alignment.py); a pickled sklearn ensemble drops into the same
call unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class LinearOffsetModel:
    """predict(X: (n, n_feat)) -> (n, 2) offsets; deterministic stand-in for
    the reference's GBM/RF ensemble (picklable, so broadcastable)."""

    def __init__(self, coef, intercept):
        self.coef = np.asarray(coef, dtype=np.float64)  # (2, n_feat)
        self.intercept = np.asarray(intercept, dtype=np.float64)  # (2,)

    def predict(self, X: np.ndarray) -> np.ndarray:
        return X @ self.coef.T + self.intercept


def align_points(
    points: DataFrame,
    model,
    feature_cols: list[str],
) -> DataFrame:
    """EP4: rewrite point geometry by a broadcast model's predicted offset.

    Output: input columns + ``x_aligned`` / ``y_aligned``. The model is
    shipped once per executor (broadcast), features cross into Python as one
    Arrow batch per partition slice, and predict() runs on the whole batch.
    """
    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(model)

    @F.pandas_udf("array<double>")
    def offsets(*cols: pd.Series) -> pd.Series:
        X = np.column_stack([c.to_numpy(dtype=np.float64) for c in cols])
        d = bc.value.predict(X)
        return pd.Series(d.tolist())

    out = points.withColumn("__off", offsets(*[F.col(c) for c in feature_cols]))
    return (
        out.withColumn("x_aligned", F.col("x") + F.col("__off").getItem(0))
        .withColumn("y_aligned", F.col("y") + F.col("__off").getItem(1))
        .drop("__off")
    )
