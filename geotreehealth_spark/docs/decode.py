"""Decode typed entity views from the interleaved docs table.

docs → filter by meta routing span → project attr/geom/lidar spans into typed
columns (SURVEY.md §1.3: "docs → explode(spans) → pivot by kind → typed
table"). Span access uses JVM-side array/struct expressions (F.filter /
element_at) — the only Python is the vectorized WKB decode.

The decoded views are the engine's working tables; parity with the original
synth derivations is asserted in tests/test_docs.py (exact row equality), and
span-sequence equality of a rebuilt doc vs its input is asserted via
spans.doc_fingerprint.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from geotreehealth_spark.docs.generator import ATTR_FIELDS
from geotreehealth_spark.geo import wkb
from geotreehealth_spark.operators.udfs import list_column


@F.arrow_udf(ArrayType(DoubleType()))
def point_xy_udf(geom: pa.Array) -> pa.Array:
    xs, ys = wkb.decode_points(geom.to_pylist())
    return list_column(np.stack([xs, ys], axis=1))


def _span_of_kind(kind: str):
    """First span of the given kind (JVM expression, no shuffle)."""
    return F.element_at(F.filter("spans", lambda s: s.kind == F.lit(kind)), 1)


def _attr_fields():
    """The attr span split into its CSV fields, the empty field read as NULL
    (the generator's _attr_csv writes NULL as '') before any cast."""
    return F.transform(
        F.split(_span_of_kind("attr").text, ","), lambda f: F.nullif(f, F.lit(""))
    )


def _attr_columns(table: str) -> list:
    """The table's attr fields as typed columns, in ATTR_FIELDS order."""
    attr = _attr_fields()
    return [
        (attr.getItem(i) if t is None else attr.getItem(i).cast(t)).alias(name)
        for i, (name, t) in enumerate(ATTR_FIELDS[table])
    ]


def _meta_table():
    return F.regexp_extract(_span_of_kind("meta").text, r"table=([a-z]+);", 1)


def decode_stems(docs: DataFrame) -> DataFrame:
    """docs → stems view (stem_tag, x, y, dbh, year, status, crown_position,
    fad, site_id)."""
    d = docs.where(_meta_table() == "stems")
    geom = F.unhex(_span_of_kind("geom").media_ref)
    d = d.select(
        *_attr_columns("stems"),
        F.regexp_extract(_span_of_kind("meta").text, r"site=(.+)$", 1).alias("site_id"),
        point_xy_udf(geom).alias("__xy"),
    )
    return (
        d.withColumn("x", F.col("__xy")[0]).withColumn("y", F.col("__xy")[1]).drop("__xy")
    )


def decode_lidar(docs: DataFrame) -> DataFrame:
    """docs → LiDAR tile manifest with laz:// media_ref + point count, ready
    for media.load_lidar_points (S6 scan path)."""
    d = docs.where(_meta_table() == "lidar")
    span = _span_of_kind("lidar")
    return d.select(
        *_attr_columns("lidar"),
        span.media_ref.alias("media_ref"),
        F.regexp_extract(span.text, r"n=(\d+)", 1).cast("int").alias("n_points"),
    )
