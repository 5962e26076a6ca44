"""Filter-refine point-in-polygon joins (SURVEY.md J3/J4).

Reference semantics:
- J3: ``gpd.sjoin(polys, points, predicate='contains')`` — polygon contains
  point (tree_delineation/delineation_utils.py:437).
- J4: ``assign_polygon_to_crown`` — among the stems a crown contains, pick the
  one with min distance to the crown *centroid*; tie-break deterministic
  (tree_health_detection/utils.py:310-339; the reference relies on argsort
  stability, we pin (dist, stem id) total order — SURVEY.md §7 hazard 2).

Physical plan (scale rationale):
- Polygons explode to their bbox-covering grid cells (small fan-out:
  bbox ≤ a few cells at a well-chosen resolution) — this is the distributed
  replacement for the reference's R-tree (get_polygons.py:806-812).
- Points carry a single cell key (geo/cellexprs.py, the same formula) → the
  spatial join becomes a shuffle equi-join on the key that AQE can skew-split
  (dense forest cells, north_rule).
- Exact PIP runs as a vectorized Arrow-batch refine on the joined candidates;
  each (point, polygon) candidate pair exists exactly once (a point lies in
  exactly one cell), so no post-dedup is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geotreehealth_spark.geo import cellexprs
from geotreehealth_spark.operators.aggregates import best_per_key
from geotreehealth_spark.operators.udfs import pip_udf


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    cell_size: float = 50.0,
    poly_wkb: str | None = "geometry_wkb",
    poly_bounds: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
) -> DataFrame:
    """Inner join of points (x, y) with the polygons containing them.

    ``polygons`` must carry bbox columns (poly_bounds). If ``poly_wkb`` is
    None the polygon is its bbox (axis-aligned, half-open [min, max) exactly
    like the ray-cast kernel's edge rule) and the refine is a pure Catalyst
    range predicate — no Python at all.
    Returns points columns + polygon columns of all containing polygons.
    """
    bx0, by0, bx1, by1 = poly_bounds
    # cell keys are pure Catalyst (geo/cellexprs.py): the candidate join runs
    # whole-stage-codegen end to end; Python appears only in the exact-PIP
    # refine when poly_wkb is given
    pts = points.withColumn("__cell", cellexprs.point_cell(F.col("x"), F.col("y"), cell_size))
    polys = cellexprs.with_covering_cells(polygons, poly_bounds, cell_size)

    joined = pts.join(polys, "__cell").drop("__cell")
    # coarse bbox refine first — pure Catalyst, prunes before the UDF runs
    joined = joined.where(
        (F.col("x") >= F.col(bx0))
        & (F.col("x") < F.col(bx1))
        & (F.col("y") >= F.col(by0))
        & (F.col("y") < F.col(by1))
    )
    if poly_wkb is not None:
        joined = joined.where(pip_udf(F.col(poly_wkb), F.col("x"), F.col("y")))
    return joined


def pip_assign_best(
    points: DataFrame,
    polygons: DataFrame,
    poly_id: str,
    point_id: str,
    cell_size: float = 50.0,
) -> DataFrame:
    """J4: per polygon, the single contained point (x, y) nearest the polygon
    center (cx, cy); polygons carry bbox columns (xmin, ymin, xmax, ymax),
    which are their footprints (polygon containment is ``pip_join`` with
    ``poly_wkb``).

    Reproduces assign_polygon_to_crown's selection semantics
    (tree_health_detection/utils.py:317: distance to crown centroid), with the
    deterministic tie-break (dist, point_id). Output: (poly_id, point_id,
    dist) — one row per polygon that contains at least one point.

    The pick is ``best_per_key`` on (dist asc, point_id asc), whose
    WindowGroupLimit collapses each polygon's candidates before the shuffle.
    """
    # slim the cell-join payload to ids + coords (VERDICT.md round 2 next 2):
    # the output needs only (poly_id, point_id, dist), so every attribute
    # column a caller left on either side would otherwise ride the candidate
    # shuffle for nothing — at dense-forest pair counts that traffic is the
    # join's bottleneck, not the hash probe
    pts_slim = points.select(point_id, "x", "y")
    polys_slim = polygons.select(poly_id, "xmin", "ymin", "xmax", "ymax", "cx", "cy")
    cands = pip_join(pts_slim, polys_slim, cell_size, None).withColumn(
        "dist", distance_expr(F.col("x"), F.col("y"), F.col("cx"), F.col("cy"))
    )
    return best_per_key(cands.select(poly_id, point_id, "dist"), poly_id, ["dist", point_id])


def distance_expr(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Euclidean distance as a pure Catalyst expression (get_polygons.py:328).

    Written as sqrt(dx*dx + dy*dy) — NOT pow(dx, 2) — so the arithmetic is
    bit-identical across engines (Math.pow is not guaranteed to equal x*x).
    """
    dx = x1 - x2
    dy = y1 - y2
    return F.sqrt(dx * dx + dy * dy)
