"""The one cell-grid convention (geo/cellexprs.py) under the site joins.

pip_join (bbox and WKB refine) and overlap_selfjoin (symmetric and
``left_filter``) are checked against a numpy brute force in three frames —
base, negative and UTM-sized — with boxes straddling x=0 and y=0 in each.
Coordinates are multiples of 2^-10 and the frame shifts multiples of the
cell size, so every shift is exact and moves the grid by whole cells.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotreehealth_spark.geo import cellexprs, kernels
from geotreehealth_spark.geo.wkb import encode_polygon
from geotreehealth_spark.operators.overlap import overlap_selfjoin
from geotreehealth_spark.operators.pip_join import pip_join

FRAMES = {"base": (0.0, 0.0), "negative": (-5000.0, -3000.0), "utm": (364_000.0, 4_305_000.0)}
CELL = 25.0
BOUNDS = ("xmin", "ymin", "xmax", "ymax")


def _q(v):
    return np.round(np.asarray(v) * 1024.0) / 1024.0


def _layout(seed: int = 0):
    """(points (n, 2), boxes (m, 4) as x0, y0, x1, y1) around the origin:
    random boxes up to 60 m wide (several cells each), some snapped to the
    cell lattice, and points uniform, on the lattice and on box edges."""
    rng = np.random.default_rng(seed)
    lo = _q(rng.uniform(-200, 200, (140, 2)))
    boxes = np.hstack([lo, lo + _q(rng.uniform(2, 60, (140, 2)))])
    lat = rng.integers(-8, 8, (20, 2)) * CELL
    boxes = np.vstack([boxes, np.hstack([lat, lat + rng.integers(1, 3, (20, 2)) * CELL])])
    pts = [
        _q(rng.uniform(-220, 220, (500, 2))),
        rng.integers(-9, 9, (60, 2)) * CELL,
        boxes[:40, [0, 1]],  # min corners: inside (half-open)
        boxes[40:80, [2, 1]],  # on the max-x edge: outside
    ]
    return np.vstack(pts), boxes


def _axis_straddlers():
    """Boxes across x=0 and y=0 of the absolute frame, and points near them."""
    boxes = np.array(
        [[-30, -5, 10, 40], [-10, -20, 20, -2], [-15, -15, 15, 15], [-60, -1, -1, 1],
         [-0.5, -70, 0.5, 70], [-26, -26, 26, 26]],
        float,
    )
    g = np.arange(-40.0, 41.0, 7.5)
    return np.array([(x, y) for x in g for y in g]), boxes


def _frame_inputs(frame: str):
    ox, oy = FRAMES[frame]
    pts, boxes = _layout()
    pts = pts + [ox, oy]
    boxes = boxes + [ox, oy, ox, oy]
    spts, sboxes = _axis_straddlers()
    return np.vstack([pts, spts]), np.vstack([boxes, sboxes])


def _rhombus(b):
    x0, y0, x1, y1 = b
    xm, ym = (x0 + x1) / 2, (y0 + y1) / 2
    return np.array([[x0, ym], [xm, y0], [x1, ym], [xm, y1], [x0, ym]])


def _points_df(spark, pts):
    return spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(pts), dtype=np.int64), "x": pts[:, 0], "y": pts[:, 1]})
    )


def _boxes_df(spark, boxes, wkb=False):
    pdf = pd.DataFrame({"bid": np.arange(len(boxes), dtype=np.int64)})
    for i, c in enumerate(BOUNDS):
        pdf[c] = boxes[:, i]
    if wkb:
        pdf["geometry_wkb"] = [encode_polygon(_rhombus(b)) for b in boxes]
    return spark.createDataFrame(pdf)


def _brute_pip(pts, boxes, wkb):
    px, py = pts[:, :1], pts[:, 1:]
    inside = (px >= boxes[:, 0]) & (px < boxes[:, 2]) & (py >= boxes[:, 1]) & (py < boxes[:, 3])
    if wkb:
        for j in range(len(boxes)):
            rows = np.flatnonzero(inside[:, j])
            ring = _rhombus(boxes[j])
            inside[rows, j] = kernels.points_in_polygon(pts[rows, 0], pts[rows, 1], ring)
    return sorted(zip(*(a.tolist() for a in np.nonzero(inside))))


def _brute_overlap(boxes):
    a, b = boxes[:, None, :], boxes[None, :, :]
    hit = (a[..., 0] < b[..., 2]) & (a[..., 2] > b[..., 0]) & (a[..., 1] < b[..., 3]) & (
        a[..., 3] > b[..., 1]
    )
    np.fill_diagonal(hit, False)
    return hit


@pytest.mark.parametrize("frame", sorted(FRAMES))
def test_pip_join_matches_brute_force(spark, frame):
    pts, boxes = _frame_inputs(frame)
    for wkb in (False, True):
        got = (
            pip_join(
                _points_df(spark, pts), _boxes_df(spark, boxes, wkb), CELL,
                poly_wkb="geometry_wkb" if wkb else None,
            )
            .select("pid", "bid")
            .toPandas()
        )
        want = _brute_pip(pts, boxes, wkb)
        assert len(want) > 300
        # sorted lists, not sets: each (point, polygon) pair exactly once
        assert sorted(zip(got.pid.tolist(), got.bid.tolist())) == want, (frame, wkb)


@pytest.mark.parametrize("frame", sorted(FRAMES))
def test_overlap_selfjoin_matches_brute_force(spark, frame):
    _, boxes = _frame_inputs(frame)
    df = _boxes_df(spark, boxes)
    hit = _brute_overlap(boxes)

    sym = overlap_selfjoin(df, "bid", CELL).select("a_bid", "b_bid").toPandas()
    want = sorted(zip(*(a.tolist() for a in np.nonzero(np.triu(hit)))))
    assert len(want) > 100
    assert sorted(zip(sym.a_bid.tolist(), sym.b_bid.tolist())) == want, frame

    probe = overlap_selfjoin(
        df, "bid", CELL, left_filter=F.col("bid") % 3 == 0
    ).select("a_bid", "b_bid").toPandas()
    hit[np.arange(len(boxes)) % 3 != 0, :] = False
    want = sorted(zip(*(a.tolist() for a in np.nonzero(hit))))
    assert sorted(zip(probe.a_bid.tolist(), probe.b_bid.tolist())) == want, frame


def test_negative_frame_keeps_the_base_grid(spark):
    """The layout moved into the positive quadrant, then shifted by whole
    cells by (-5000, -3000): the points fall into as many distinct cells as
    in the base frame, and the cell join yields as many candidates. A grid
    that clamps negative cells to 0 puts every point into one cell and the
    join degenerates to |points| x |boxes| candidates."""

    def grid(frame):
        ox, oy = np.add(FRAMES[frame], 10 * CELL)
        pts, boxes = _layout()
        p = _points_df(spark, pts + [ox, oy]).withColumn(
            "__cell", cellexprs.point_cell(F.col("x"), F.col("y"), CELL)
        )
        b = cellexprs.with_covering_cells(
            _boxes_df(spark, boxes + [ox, oy, ox, oy]), BOUNDS, CELL
        )
        return p.select("__cell").distinct().count(), p.join(b, "__cell").count()

    base_cells, base_cands = grid("base")
    assert grid("negative") == (base_cells, base_cands)
    assert base_cells > 100


def test_covering_cells_of_a_bbox(spark):
    # bbox0 spans cells (0..1, 0..1) = 4 cells; bbox1 (2..3, 0) = 2;
    # bbox2 (-2..-1, -1..0) = 4, below zero on both axes
    boxes = np.array([[10, 10, 60, 60], [140, 10, 160, 40], [-60, -10, -40, 10]], float)
    cov = cellexprs.with_covering_cells(_boxes_df(spark, boxes), BOUNDS, 50.0).toPandas()
    assert cov.groupby("bid").size().to_dict() == {0: 4, 1: 2, 2: 4}
    # a point inside a bbox lies in one of its covering cells
    pts = np.array([[55.0, 15.0], [-45.0, 5.0]])
    cells = (
        _points_df(spark, pts)
        .select(cellexprs.point_cell(F.col("x"), F.col("y"), 50.0).alias("c"))
        .toPandas()
        .c.tolist()
    )
    assert cells[0] in set(cov.loc[cov.bid == 0, "__cell"])
    assert cells[1] in set(cov.loc[cov.bid == 2, "__cell"])


def test_point_cell_locality(spark):
    # points in the same 50 m cell share a key; the neighbour cell differs
    pts = np.array([[10.0, 10.0], [49.0, 10.0], [51.0, 10.0], [-1.0, 10.0]])
    c = (
        _points_df(spark, pts)
        .select(cellexprs.point_cell(F.col("x"), F.col("y"), 50.0).alias("c"))
        .toPandas()
        .c.tolist()
    )
    assert c[0] == c[1] != c[2]
    assert len({c[0], c[2], c[3]}) == 3
