"""Raster→vector operators: mask→polygons and per-group geometric union.

Reference semantics:
- polygonize_masks: rasterio.features.shapes over binary masks → one polygon
  per 4-connected component (get_polygons.py:75-111 mask_to_polygons;
  batch_sam.py:496-548). Golden: 50x50 square mask → Polygon area 2500
  containing the seed (reference tests/get_polygons_tests.py:13-33).
- geometric_union: shapely unary_union of each group's polygons
  (from_mask_to_polygons.py:34-41, golden-tested in the reference's
  tests/from_mask_to_polygons_tests.py:10-24). The engine computes the union
  on the PIXEL GRID (rasterize each member at the group's resolution, OR the
  masks, polygonize back) — exact for grid-aligned geometry (the reference's
  own polygons ARE mask-derived, so the grid is their native domain) and a
  faithful approximation otherwise; SURVEY.md §7-style documented deviation.

Physical plan: polygonize_masks is a mapInArrow over mask batches and
geometric_union an applyInArrow per group — the payload (mask bytes / member
rings) never leaves the Arrow batch, output is slim rows (ids, counts, areas,
part WKBs). Groups are the parallelism unit; salt upstream if group
cardinality is skewed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType

from geotreehealth_spark import media
from geotreehealth_spark.geo import kernels, wkb
from geotreehealth_spark.geo import polygonize as pz
from geotreehealth_spark.operators.udfs import arrow_schema, map_rows


def _parts_schema(key_col: str) -> str:
    return f"{key_col} string, part_idx int, n_px long, area double, geometry_wkb binary"


def _parts(mask: np.ndarray, txmin: float, tymax: float) -> tuple:
    """(part_idx, n_px, area, geometry_wkb) columns of a mask of unit pixels:
    one row per 4-connected mask component, part_idx in polygonize's
    first-pixel (row-major) order — the one emitter behind every mask→parts
    operator."""
    polys = pz.polygonize(mask, txmin=txmin, tymax=tymax)
    return (
        np.arange(len(polys)),
        np.array([p["n_px"] for p in polys], dtype=np.int64),
        np.array([p["area"] for p in polys], dtype=np.float64),
        np.array([wkb.encode_polygon(p["ring"]) for p in polys], dtype=object),
    )


def _grid(mn: np.ndarray, mx: np.ndarray):
    """(gx0, gy1, empty mask) of the unit pixel grid covering the (x, y)
    bounds mn..mx padded by one unit, its origin snapped to integers (so
    integer-aligned inputs rasterize exactly)."""
    lo = mn - 1.0
    hi = mx + 1.0
    gx0 = np.floor(lo[0])
    gy1 = np.ceil(hi[1])
    w = int(np.ceil(hi[0] - gx0))
    h = int(np.ceil(gy1 - lo[1]))
    return gx0, gy1, np.zeros((h, w), dtype=bool)


def polygonize_masks(masks: DataFrame) -> DataFrame:
    """One row per 4-connected mask component: (mask_id, part_idx, n_px,
    area, geometry_wkb). mask_bits carries np.packbits bytes of the
    height x width boolean mask (row-major) at unit resolution, its top-left
    corner at (txmin, tymax).

    part_idx orders components by their first pixel (row-major scan), the
    same order rasterio.features.shapes emits them.
    """

    def parts(row) -> tuple:
        h, w = row["height"], row["width"]
        bits = np.unpackbits(np.frombuffer(row["mask_bits"], dtype=np.uint8), count=h * w)
        return _parts(bits.astype(bool).reshape(h, w), float(row["txmin"]), float(row["tymax"]))

    return map_rows(masks, "mask_id", parts, _parts_schema("mask_id"))


def geometric_union(
    polys: DataFrame, group_col: str, wkb_col: str | None = "geometry_wkb"
) -> DataFrame:
    """A5: per group, the union of member polygons on the group's unit pixel
    grid.

    Output: (group_col, part_idx, n_px, area, geometry_wkb) — one row per
    connected part of the union. The grid origin snaps to integers around
    the group bbox (so integer-aligned inputs are unioned EXACTLY), padded by
    one unit on each side.

    wkb_col=None (r6): box members are their (x0, y0, x1, y1) rectangles —
    the rings are built from the four bound columns inside the batch
    (vertex-identical to the encoded boxes), skipping the WKB encode UDF and
    the per-row decode, like zonal_raster_stats/pip_join's box conventions.
    """
    bounds_cols = ("x0", "y0", "x1", "y1")
    ddl = _parts_schema(group_col)
    schema = arrow_schema(ddl)

    def per_group(table: pa.Table) -> pa.Table:
        if wkb_col is None:
            bx0, by0, bx1, by1 = (np.asarray(table[c], dtype=float) for c in bounds_cols)
            rings = [kernels.box_ring(*b) for b in zip(bx0, by0, bx1, by1)]
        else:
            rings = [wkb.decode_polygon(b) for b in table[wkb_col].to_pylist()]
        mn = np.array([r.min(axis=0) for r in rings]).min(axis=0)
        mx = np.array([r.max(axis=0) for r in rings]).max(axis=0)
        gx0, gy1, mask = _grid(mn, mx)
        for ring in rings:
            rr, cc, ok = media.rasterize_mask(ring, gx0, gy1, *mask.shape, 1.0, 1.0)
            if ok:
                mask[rr, cc] = True
        cols = _parts(mask, gx0, gy1)
        key = pa.repeat(table[group_col][0], len(cols[0]))
        return pa.Table.from_arrays([key, *cols], schema=schema)

    cols = [group_col, *bounds_cols] if wkb_col is None else [group_col, wkb_col]
    return polys.select(*cols).groupBy(group_col).applyInArrow(per_group, ddl)


# ---------------------------------------------------------------------------
# P8: geometry-type filter + Multi→single explode
# ---------------------------------------------------------------------------

def geometry_type_col(wkb_col) -> "F.Column":
    """JVM-side WKB geometry-type extraction (no Python): type code is the
    little-endian uint32 at offset 1; for codes < 256 the first byte suffices.
    1=Point, 3=Polygon, 6=MultiPolygon, 7=GeometryCollection.

    Big-endian WKB (byte-order marker 0x00) raises instead of silently
    misreading the high byte as a type code and dropping the row — matching
    wkb.geometry_type's loud failure (ADVICE.md round 2)."""
    c = F.col(wkb_col) if isinstance(wkb_col, str) else wkb_col
    byte_order = F.conv(F.hex(F.substring(c, 1, 1)), 16, 10).cast("int")
    gtype = F.conv(F.hex(F.substring(c, 2, 1)), 16, 10).cast("int")
    return F.when(byte_order == 1, gtype).otherwise(
        F.raise_error(F.lit("big-endian WKB not supported"))
    )


@F.arrow_udf(ArrayType(BinaryType()))
def _multi_parts_udf(buf: pa.Array) -> pa.Array:
    return pa.array([wkb.split_multipolygon(b) for b in buf.to_pylist()], pa.list_(pa.binary()))


def explode_multi(df: DataFrame) -> DataFrame:
    """P8 Multi→single explode (delineation_utils.py:93-104 gdf.explode()):
    one output row per Polygon part of geometry_wkb, as (part_idx, part_wkb)
    with `part_idx` ordering parts as stored.
    Plain Polygons pass through as their own single part. Point rows should be
    filtered out beforehand with geometry_type_col (the reference's
    geometry-type filter, delineation_utils.py:258-272)."""
    return df.select(
        "*", F.posexplode(_multi_parts_udf(F.col("geometry_wkb"))).alias("part_idx", "part_wkb")
    )
