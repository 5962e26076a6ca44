"""Directory / multi-file sources with schema contracts (SURVEY.md S2/S3).

Reference semantics: loop a directory of per-tile GPKG files, skip empties,
concat (main.py:78-88); pd.read_csv + concat for labels (main.py:139-147).
Spark-first replacement: ONE glob scan — the list-files/skip-empty/union loop
is what a parquet/Iceberg directory scan already does, with partition pruning
and parallel listing for free. Schema drift across files (the reference's
defensive renames, delineation_pipeline.py:107-108, batch_sam.py:745-758)
becomes an explicit contract: rename map + typed casts applied once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def scan_parquet(
    spark: SparkSession,
    paths: str | list[str],
    renames: dict[str, str] | None = None,
    schema: dict[str, str] | None = None,
) -> DataFrame:
    """Scan one or many parquet paths/globs as a single DataFrame.

    renames: defensive column renames applied first (reference's
    `rename(columns={'status': 'Status'})` pattern).
    schema: {column: spark_type} contract — columns are cast and SELECTED in
    this order; missing columns become typed nulls (the reference's
    skip-empty-file concat tolerates missing frames; we tolerate missing
    columns explicitly instead).
    """
    if isinstance(paths, str):
        paths = [paths]
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    return _apply_contract(df, renames, schema)


def scan_csv(
    spark: SparkSession,
    paths: str | list[str],
    schema: dict[str, str] | None = None,
) -> DataFrame:
    """CSV directory scan (labels / field survey, S3); files carry a header."""
    if isinstance(paths, str):
        paths = [paths]
    df = spark.read.option("header", "true").csv(paths)
    return _apply_contract(df, None, schema)


def _apply_contract(
    df: DataFrame, renames: dict[str, str] | None, schema: dict[str, str] | None
) -> DataFrame:
    for old, new in (renames or {}).items():
        if old in df.columns:
            df = df.withColumnRenamed(old, new)
    if schema:
        cols = []
        for name, typ in schema.items():
            if name in df.columns:
                cols.append(F.col(name).cast(typ).alias(name))
            else:
                cols.append(F.lit(None).cast(typ).alias(name))
        df = df.select(*cols)
    return df
