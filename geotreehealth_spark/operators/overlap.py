"""Spatial self-join on overlap (SURVEY.md J9/J10) — the R-tree replacement.

Reference semantics: R-tree candidate pairs then exact intersects/IoU tests
(from_mask_to_polygons.py:11-32; get_polygons.py:806-816;
delineation_utils.py:119-131, 293-326; batch_sam.py:224-258).

Physical plan: both sides explode to their bbox-covering grid cells
(geo/cellexprs.py) and equi-join on the cell key. Duplicate pairs (bboxes
sharing several cells) are eliminated WITHOUT a distinct-shuffle by the
canonical reporting-cell trick: a pair is emitted only from the cell that
contains the min corner of the bbox intersection — every overlapping pair has
exactly one such cell. AQE skew-join splits dense cells (north_rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotreehealth_spark.geo import cellexprs

# the bbox columns every overlap operator reads
BOX_COLS = ("xmin", "ymin", "xmax", "ymax")


def overlap_selfjoin(
    df: DataFrame, id_col: str, cell_size: float = 50.0, left_filter=None
) -> DataFrame:
    """Pairs of rows with strictly-overlapping BOX_COLS bboxes (a_id != b_id).

    Output columns: every input column twice, prefixed ``a_`` / ``b_``.
    ``left_filter``: optional Column predicate restricting the LEFT side (probe
    pattern); pairs are then (probe, any-other) and not symmetric-deduped.
    Without it, pairs are emitted once with a_id < b_id.
    """
    x0, y0, x1, y1 = BOX_COLS

    def prefixed(side: str, frame: DataFrame) -> DataFrame:
        sel = [F.col(c).alias(f"{side}_{c}") for c in frame.columns]
        return frame.select(*sel)

    # covering-cell explosion is pure Catalyst (geo/cellexprs.py): the whole
    # candidate pipeline — explode, equi-join, bbox predicate, reporting-cell
    # dedup — runs JVM-side with no Python boundary
    with_cells = cellexprs.with_covering_cells(
        df, BOX_COLS, cell_size, gx_col="__gx", gy_col="__gy"
    )
    left = with_cells.drop("__gx", "__gy")
    if left_filter is not None:
        left = left.where(left_filter)
    a = prefixed("a", left).withColumnRenamed("a___cell", "__cell")
    b = (
        prefixed("b", with_cells)
        .withColumnRenamed("b___cell", "__cell")
        .withColumnRenamed("b___gx", "__gx")
        .withColumnRenamed("b___gy", "__gy")
    )

    joined = a.join(b, "__cell")
    if left_filter is not None:
        joined = joined.where(F.col(f"a_{id_col}") != F.col(f"b_{id_col}"))
    else:
        joined = joined.where(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
    # strict bbox overlap
    joined = joined.where(
        (F.col(f"a_{x0}") < F.col(f"b_{x1}"))
        & (F.col(f"a_{x1}") > F.col(f"b_{x0}"))
        & (F.col(f"a_{y0}") < F.col(f"b_{y1}"))
        & (F.col(f"a_{y1}") > F.col(f"b_{y0}"))
    )
    # reporting cell = cell containing the intersection's min corner →
    # exactly-once emission; the exploded row carries the cell's grid coords,
    # and the corner's coords come from the same cellexprs formula
    gx, gy = cellexprs._gxy(
        F.greatest(F.col(f"a_{x0}"), F.col(f"b_{x0}")),
        F.greatest(F.col(f"a_{y0}"), F.col(f"b_{y0}")),
        cell_size,
    )
    joined = joined.where((gx == F.col("__gx")) & (gy == F.col("__gy")))
    return joined.drop("__cell", "__gx", "__gy")


def box_inter_cols():
    """Clamped intersection area of the a_/b_-prefixed boxes — the one term
    both box criteria (and NMS's polygon prune) are built from. Pure Catalyst."""
    x0, y0, x1, y1 = BOX_COLS
    iw = F.least(F.col(f"a_{x1}"), F.col(f"b_{x1}")) - F.greatest(
        F.col(f"a_{x0}"), F.col(f"b_{x0}")
    )
    ih = F.least(F.col(f"a_{y1}"), F.col(f"b_{y1}")) - F.greatest(
        F.col(f"a_{y0}"), F.col(f"b_{y0}")
    )
    return F.greatest(iw, F.lit(0.0)) * F.greatest(ih, F.lit(0.0))


def _box_area(prefix: str):
    x0, y0, x1, y1 = BOX_COLS
    return (F.col(f"{prefix}{x1}") - F.col(f"{prefix}{x0}")) * (
        F.col(f"{prefix}{y1}") - F.col(f"{prefix}{y0}")
    )


def box_iou_cols():
    """IoU of the a_/b_-prefixed boxes as a pure Catalyst expression."""
    inter = box_inter_cols()
    return inter / (_box_area("a_") + _box_area("b_") - inter)


def box_overlap_ratio_cols():
    """inter / max(area_a, area_b) of the a_/b_-prefixed axis-aligned boxes
    (get_polygons.py:806-816) as a pure Catalyst expression."""
    return box_inter_cols() / F.greatest(_box_area("a_"), _box_area("b_"))
