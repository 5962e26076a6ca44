"""Deterministic interleaved-docs generator (FIXTURES.md §1 span conventions).

Builds the docs table FROM the synth-derived entity views with pure DataFrame
ops: attribute payloads become an `attr` span (header-free CSV fragment, like
the reference's labels CSV rows, store_data_structures.py:174-183), stem
points become a `geom` span carrying hex WKB in media_ref (reference GPKG
geometries, delineation_pipeline.py:64,177), LiDAR tiles become `lidar` spans
with laz:// media refs (reference LAZ paths, store_data_structures.py:176-178).
A `meta` span routes rows to tables.

crowns_with_geometry gives crowns irregular convex polygons generated
deterministically from crown_key (star vertices → convex hull) — exercising
the real WKB path that the box-based SQL oracles cannot.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, StructField, StructType

from geotreehealth_spark import media
from geotreehealth_spark.geo import kernels, wkb

SPAN_SCHEMA = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

# The attr span's CSV layout per doc table: (column, Spark type) in field
# order. _attr_csv writes it and decode reads it back; a None type keeps the
# field a string.
ATTR_FIELDS = {
    "stems": (
        ("stem_tag", None), ("dbh", "double"), ("year", "int"),
        ("status", None), ("crown_position", "int"), ("fad", None),
    ),
    "lidar": (
        ("tile_id", None), ("txmin", "double"), ("tymin", "double"),
        ("txmax", "double"), ("tymax", "double"),
    ),
}


def _span(kind, text, media_ref, offset: int):
    return F.struct(
        F.lit(kind).alias("kind") if isinstance(kind, str) else kind.alias("kind"),
        (F.lit(text) if isinstance(text, str) else text).alias("text"),
        (F.lit(media_ref) if isinstance(media_ref, str) else media_ref).alias("media_ref"),
        F.lit(offset).cast("int").alias("offset"),
    )


def _attr_csv(table: str):
    """attr span text: the table's ATTR_FIELDS columns as CSV fields, a NULL
    written as the empty field (bare concat_ws skips NULLs, shifting every
    later field) — decode._attr_fields reads it back as NULL."""
    return F.concat_ws(
        ",", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c, _ in ATTR_FIELDS[table]]
    )


def crown_polygon_ring(key: int, cx: float, cy: float, radius: float) -> np.ndarray:
    """Deterministic convex crown polygon around (cx, cy).

    Star vertices at n=6..12 angles with per-vertex radius jitter derived from
    integer hashing of (key, vertex) — then convex-hulled. Pure arithmetic, no
    RNG state: reproducible everywhere.
    """
    n = 6 + (key % 7)
    j = np.arange(n, dtype=np.int64)
    phase = (key % 997) * (2.0 * np.pi / 997.0)
    ang = phase + 2.0 * np.pi * j / n
    jitter = ((key * 2654435761 + (j + 1) * 40503) % 1000) / 1000.0
    r = radius * (0.70 + 0.30 * jitter)
    pts = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    return kernels.convex_hull(pts)


_BOUNDS = ("xmin", "ymin", "xmax", "ymax")


# one combined UDF: polygon WKB + bounds in a single pass, so Catalyst cannot
# inline-and-recompute the expensive polygon build once per derived column
@F.arrow_udf(
    StructType([StructField("wkb", BinaryType()), *(StructField(c, DoubleType()) for c in _BOUNDS)])
)
def crown_geo_udf(key: pa.Array, cx: pa.Array, cy: pa.Array, radius: pa.Array) -> pa.Array:
    rings = [
        crown_polygon_ring(int(k), float(x), float(y), float(r))
        for k, x, y, r in zip(*(np.asarray(c) for c in (key, cx, cy, radius)))
    ]
    bounds = np.array([[*r.min(axis=0), *r.max(axis=0)] for r in rings]).reshape(-1, 4)
    return pa.StructArray.from_arrays(
        [pa.array([wkb.encode_polygon(r) for r in rings], pa.binary()), *map(pa.array, bounds.T)],
        names=["wkb", *_BOUNDS],
    )


@F.arrow_udf(BinaryType())
def two_rect_mask_udf(
    ar0: pa.Array, ac0: pa.Array, ah: pa.Array, aw: pa.Array,
    br0: pa.Array, bc0: pa.Array, bh: pa.Array, bw: pa.Array,
) -> pa.Array:
    """100x100 boolean mask = union of two integer rectangles, packed bits.

    Deterministic synthetic SAM-mask stand-in for the polygonize driver query:
    the rect params are pure int arithmetic on keys, so component count and
    union pixel count have closed forms the SQL oracle reproduces."""
    out = []
    for a_r, a_c, a_h, a_w, b_r, b_c, b_h, b_w in zip(
        *(np.asarray(c) for c in (ar0, ac0, ah, aw, br0, bc0, bh, bw))
    ):
        m = np.zeros((100, 100), dtype=np.uint8)
        m[int(a_r):int(a_r + a_h), int(a_c):int(a_c + a_w)] = 1
        m[int(b_r):int(b_r + b_h), int(b_c):int(b_c + b_w)] = 1
        out.append(np.packbits(m).tobytes())
    return pa.array(out, pa.binary())


@F.arrow_udf(BinaryType())
def two_box_multi_udf(
    x0: pa.Array, y0: pa.Array, x1: pa.Array, y1: pa.Array,
    u0: pa.Array, v0: pa.Array, u1: pa.Array, v1: pa.Array,
) -> pa.Array:
    """MultiPolygon WKB of two axis-aligned boxes (P8 explode fixtures)."""
    out = []
    for a0, b0, a1, b1, c0, d0, c1, d1 in zip(
        *(np.asarray(c) for c in (x0, y0, x1, y1, u0, v0, u1, v1))
    ):
        out.append(wkb.encode_multipolygon(
            [kernels.box_ring(a0, b0, a1, b1), kernels.box_ring(c0, d0, c1, d1)]
        ))
    return pa.array(out, pa.binary())


@F.arrow_udf(BinaryType())
def point_wkb_udf(x: pa.Array, y: pa.Array) -> pa.Array:
    return pa.array(wkb.encode_points(np.asarray(x), np.asarray(y)), pa.binary())


def crowns_with_geometry(crowns: DataFrame) -> DataFrame:
    """Attach polygon WKB + true polygon bounds to the synth crown table.

    One combined UDF evaluation per row (WKB + bounds together), then field
    projection — Catalyst caches the struct per row instead of re-running the
    polygon build for every derived column.
    """
    # spread the polygon-build UDF across all cores: the upstream aggregate is
    # bytes-tiny so AQE coalesces it, but the per-row Python cost is not tiny
    spark = crowns.sparkSession
    crowns = crowns.repartition(spark.sparkContext.defaultParallelism)
    out = crowns.withColumn(
        "__g",
        crown_geo_udf(F.col("crown_key"), F.col("cx"), F.col("cy"), F.col("radius")),
    )
    return (
        out.withColumn("geometry_wkb", F.col("__g.wkb"))
        .withColumn("gxmin", F.col("__g.xmin"))
        .withColumn("gymin", F.col("__g.ymin"))
        .withColumn("gxmax", F.col("__g.xmax"))
        .withColumn("gymax", F.col("__g.ymax"))
        .drop("__g")
    )


def stems_to_docs(stems: DataFrame) -> DataFrame:
    """One doc per stem: meta + attr(CSV) + geom(point WKB hex) spans."""
    attr_csv = _attr_csv("stems")
    geom_hex = F.lower(F.hex(point_wkb_udf(F.col("x"), F.col("y"))))
    return stems.select(
        F.concat(F.lit("stem-"), F.col("stem_tag")).alias("doc_id"),
        F.array(
            _span(F.lit("meta"), F.concat(F.lit("table=stems;site="), F.col("site_id")), "", 0),
            _span(F.lit("attr"), attr_csv, "", 1),
            _span(F.lit("geom"), "", geom_hex, 2),
        ).alias("spans"),
    )


def lidar_to_docs(tiles: DataFrame) -> DataFrame:
    """One doc per LiDAR tile: meta + attr(bounds CSV) + lidar(laz:// ref,
    1000 points) span (the S6 media_ref path; the reference keeps per-tile
    point-cloud paths in its labels CSV, store_data_structures.py:174-183)."""
    attr_csv = _attr_csv("lidar")
    return tiles.select(
        F.concat(F.lit("laz-"), F.col("tile_id")).alias("doc_id"),
        F.array(
            _span(F.lit("meta"), F.lit("table=lidar;site=ALL"), "", 0),
            _span(F.lit("attr"), attr_csv, "", 1),
            _span(
                F.lit("lidar"),
                F.lit("n=1000;fmt=xyz"),
                F.concat(F.lit(media.LAZ_PREFIX), F.col("tile_key").cast("string")),
                2,
            ),
        ).alias("spans"),
    )
