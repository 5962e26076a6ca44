"""JVM-side grid-cell expressions — the zero-Python spatial index.

Round 1 encoded cells inside pandas UDFs (Morton bit-twiddling in numpy,
geo/cells.py history); profiling showed those UDF stages were the joins'
bottleneck at high parallelism — every candidate row crossed the Python
boundary just to compute a join key. Under HASH partitioning the key needs no
spatial locality, so Morton interleaving buys nothing in the join path; the
key here is plain `gx * STRIDE + gy`, computed entirely in Catalyst
(whole-stage codegen, no Python workers):

- point_cell:      cell key of a point
- covering_cells:  explode a bbox to its covering cells (sequence x sequence)
- ring_cells:      explode a point to its (2r+1)^2 ring cells

Locality for FILE layout (Iceberg sort keys) is a separate concern from join
keys; a Morton/H3 transform can still be applied at write time.

Two grid conventions share the key:

- the site grid (``origin=None``; pip_join, overlap, tiling): floor-division
  cells, negative coordinates clamped to cell 0 — the site frame is
  [0, extent) by construction (FIXTURES.md §2), matching the retired numpy
  versions exactly;
- the origin grid (kNN): cells keyed to an origin, the candidate bounds' min
  corner, with NO clamp. Every candidate lands in 0 <= g <= g_max
  (``grid_max``), so any frame — negative, UTM-sized — gets the same grid,
  and ring neighbours outside that range are dropped (they hold no
  candidate).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# gx/gy < 2^22 cells (~4 000 km at 1 m cells): key fits int64 with headroom
CELL_STRIDE = 1 << 22


def offsets(x: Column, y: Column, origin: tuple[float, float]) -> tuple[Column, Column]:
    """A point's offsets from the origin-grid origin."""
    return x - F.lit(float(origin[0])), y - F.lit(float(origin[1]))


def _gxy(
    x: Column,
    y: Column,
    cell_size: float,
    origin: tuple[float, float] | None = None,
) -> tuple[Column, Column]:
    """Grid coords of a point: the site grid, or the origin grid when
    ``origin`` is given. knn._dir_reach derives its completeness proofs from
    these same coords (and the same offsets ``x - ox``), so the proof and the
    join key share one definition."""
    if origin is None:
        gx = F.greatest(F.floor(x / F.lit(cell_size)), F.lit(0)).cast("long")
        gy = F.greatest(F.floor(y / F.lit(cell_size)), F.lit(0)).cast("long")
        return gx, gy
    u, v = offsets(x, y, origin)
    return F.floor(u / F.lit(cell_size)), F.floor(v / F.lit(cell_size))


def grid_max(bounds: tuple[float, float, float, float], cell_size: float) -> tuple[int, int]:
    """(gx_max, gy_max) of the origin grid over ``bounds`` = (x0, x1, y0, y1),
    origin (x0, y0): the same IEEE ops as ``_gxy``, so every point inside the
    bounds has 0 <= gx <= gx_max and 0 <= gy <= gy_max. Raises when an axis
    spans CELL_STRIDE or more cells — such keys would alias."""
    x0, x1, y0, y1 = bounds
    gmax = (math.floor((x1 - x0) / cell_size), math.floor((y1 - y0) / cell_size))
    if max(gmax) + 1 >= CELL_STRIDE:
        raise ValueError(
            f"cell_size {cell_size} gives a {gmax[0] + 1} x {gmax[1] + 1} cell grid "
            f"over the data bounds; each axis must span fewer than {CELL_STRIDE} cells"
        )
    return gmax


def cell_key(gx: Column, gy: Column) -> Column:
    return gx * F.lit(CELL_STRIDE) + gy


def point_cell(
    x: Column, y: Column, cell_size: float, origin: tuple[float, float] | None = None
) -> Column:
    """Cell key of a point — pure Catalyst expression."""
    gx, gy = _gxy(x, y, cell_size, origin)
    return cell_key(gx, gy)


def with_covering_cells(
    df: DataFrame,
    bounds: tuple[str, str, str, str],
    cell_size: float,
    cell_col: str = "__cell",
    gx_col: str | None = None,
    gy_col: str | None = None,
) -> DataFrame:
    """One output row per (input row, covering cell) — nested JVM explodes.

    Optionally materializes the cell's grid coords (gx_col/gy_col) for
    reporting-cell dedup arithmetic downstream.
    """
    x0, y0, x1, y1 = (F.col(c) for c in bounds)
    gx0, gy0 = _gxy(x0, y0, cell_size)
    gx1, gy1 = _gxy(x1, y1, cell_size)
    out = df.withColumn("__cgx", F.explode(F.sequence(gx0, gx1))).withColumn(
        "__cgy", F.explode(F.sequence(gy0, gy1))
    )
    out = out.withColumn(cell_col, cell_key(F.col("__cgx"), F.col("__cgy")))
    if gx_col:
        out = out.withColumn(gx_col, F.col("__cgx"))
    if gy_col:
        out = out.withColumn(gy_col, F.col("__cgy"))
    return out.drop("__cgx", "__cgy")


def with_ring_cells(
    df: DataFrame,
    x: str,
    y: str,
    cell_size: float,
    ring: int,
    origin: tuple[float, float],
    g_max: tuple[int, int],
    cell_col: str = "__cell",
) -> DataFrame:
    """One output row per (input row, ring cell) on the origin grid: cells
    within `ring` grid steps of the point's cell, those outside
    [0, g_max] dropped (they hold no candidate, and dropping them keeps
    every key below the stride)."""
    gx, gy = _gxy(F.col(x), F.col(y), cell_size, origin)
    out = (
        df.withColumn("__rgx", F.explode(F.sequence(gx - ring, gx + ring)))
        .where(F.col("__rgx").between(0, g_max[0]))
        .withColumn("__rgy", F.explode(F.sequence(gy - ring, gy + ring)))
        .where(F.col("__rgy").between(0, g_max[1]))
        .withColumn(cell_col, cell_key(F.col("__rgx"), F.col("__rgy")))
    )
    return out.drop("__rgx", "__rgy")
