"""Tile grid generation and tile assignment (SURVEY.md S5/J12/P7).

Reference semantics:
- split_raster produces overlapping windows (batch_sam.py:359, buffer
  get_polygons.py:603-615, config.py:42); a crown belongs to every tile whose
  window its bbox overlaps (get_polygons.py:625-639).
- boundary filter: drop polygons whose bbox comes within 0.5 m of the tile
  window edge (batch_sam.py:563-568, 645-648) — dedups the overlap zone when
  compositing per-tile outputs (batch_sam.py:629-662).

Physical plan: the tile manifest is tiny (grid rows) → broadcast nested-loop
range join; zero shuffle of the big side. At 10^12-doc scale the manifest stays
small relative to data (tiles ~ extent²/tile_size²) and Iceberg partitioning on
tile_id turns downstream per-tile work into partition-pruned scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotreehealth_spark.synth import EXTENT


def tile_grid(spark, overlap: float = 10.0) -> DataFrame:
    """Deterministic manifest of the site frame's 100 m tiles: row-major ids,
    overlap-buffered windows (txmin..tymax) plus the OWNED core window
    (cxmin..cymax) that zonal ops use for exactly-once pixel coverage when
    overlap > 0."""
    tile_size = 100.0
    n = int(EXTENT / tile_size)
    return spark.sql(
        f"""
        SELECT CAST(i AS STRING) AS tile_id,
               i AS tile_key,
               (i % {n}) * {tile_size}e0 - {overlap}e0 AS txmin,
               CAST(FLOOR(i / {n}) AS BIGINT) * {tile_size}e0 - {overlap}e0 AS tymin,
               (i % {n}) * {tile_size}e0 + {tile_size + overlap}e0 AS txmax,
               CAST(FLOOR(i / {n}) AS BIGINT) * {tile_size}e0 + {tile_size + overlap}e0 AS tymax,
               (i % {n}) * {tile_size}e0 AS cxmin,
               CAST(FLOOR(i / {n}) AS BIGINT) * {tile_size}e0 AS cymin,
               (i % {n}) * {tile_size}e0 + {tile_size}e0 AS cxmax,
               CAST(FLOOR(i / {n}) AS BIGINT) * {tile_size}e0 + {tile_size}e0 AS cymax
        FROM (SELECT explode(sequence(0, {n * n - 1})) AS i)
        """
    )


def assign_tiles(
    df: DataFrame,
    tiles: DataFrame,
    bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
) -> DataFrame:
    """J12: rows × overlapping tiles (bbox strict-overlap against the tile
    window txmin..tymax, broadcast join)."""
    x0, y0, x1, y1 = bounds
    pred = (
        (F.col(x0) < F.col("txmax"))
        & (F.col(x1) > F.col("txmin"))
        & (F.col(y0) < F.col("tymax"))
        & (F.col(y1) > F.col("tymin"))
    )
    return df.join(F.broadcast(tiles), pred)


def translate_to_window(
    df: DataFrame,
    x: str,
    y: str,
    origin_x: str,
    top_y: str,
) -> DataFrame:
    """P6: world → window-frame coordinates with the raster y-flip
    (get_polygons.py:540-548, 626-628; full_image_sam.py:19-27):
    wx = x - window_left, wy = window_top - y. Pure column arithmetic."""
    return df.withColumn("wx", F.col(x) - F.col(origin_x)).withColumn(
        "wy", F.col(top_y) - F.col(y)
    )


def boundary_filter(assigned: DataFrame) -> DataFrame:
    """P7: keep rows whose bbox (xmin..ymax) stays 0.5 m inside the tile
    window (txmin..tymax)."""
    margin = 0.5
    return assigned.where(
        (F.col("xmin") >= F.col("txmin") + margin)
        & (F.col("ymin") >= F.col("tymin") + margin)
        & (F.col("xmax") <= F.col("txmax") - margin)
        & (F.col("ymax") <= F.col("tymax") - margin)
    )
