"""Randomized differential test: knn_join (k=1, k=4) and quadrant_knn_join
against a numpy brute force, over frames (base, negative, UTM-sized) and
input shapes (uniform, clustered density, probes at +-1 ULP of cell and
bounds edges, probes outside the candidate bounds).

Results must match exactly — ids, ranks, quadrants and float64 distances.
The brute force uses the engine's distance arithmetic, sqrt(dx*dx + dy*dy),
which numpy and the JVM both evaluate in correctly rounded IEEE doubles.

``KNN_RANDOM_SEEDS`` (default 2) sets the seeds per (frame, shape); the
default gives the 24 cases of the tier-1 run. Odd seeds give both sides an
extra attribute column, so the enrich joins that re-attach full rows run
too (even seeds: (id, x, y) sides, which need none).
"""

import os

import numpy as np
import pandas as pd
import pytest

from geotreehealth_spark.operators import knn

FRAMES = {"base": (0.0, 0.0), "negative": (-5000.0, -3000.0), "utm": (364_000.0, 4_305_000.0)}
SHAPES = ("uniform", "clustered", "edges", "outside")
SEEDS = range(int(os.environ.get("KNN_RANDOM_SEEDS", "2")))
EDGE_CELL = 4.0
K = 4
MIN_DIST = 3.0


def _ulp_jitter(rng, v):
    """Each value, or its float64 neighbour just below or just above."""
    step = rng.integers(-1, 2, size=v.shape)
    out = np.where(step < 0, np.nextafter(v, -np.inf), v)
    return np.where(step > 0, np.nextafter(v, np.inf), out)


def _inputs(frame: str, shape: str, seed: int):
    """(probes (n, 2), candidates (m, 2), cell_size or None), frame-shifted."""
    rng = np.random.default_rng([SHAPES.index(shape), seed])
    cell = None
    if shape == "uniform":
        cands = rng.uniform(0, 200, (300, 2))
        probes = rng.uniform(0, 200, (40, 2))
    elif shape == "clustered":
        centers = rng.uniform(0, 300, (3, 2))
        cands = np.vstack(
            [c + rng.normal(0, 3, (80, 2)) for c in centers] + [rng.uniform(0, 300, (8, 2))]
        )
        probes = rng.uniform(0, 300, (40, 2))
    elif shape == "outside":
        cands = rng.uniform(0, 100, (200, 2))
        probes = rng.uniform(-150, 250, (40, 2))
    else:  # edges: lattice points on the explicit cell grid, +-1 ULP
        cell = EDGE_CELL
        cands = rng.integers(0, 25, (250, 2)) * cell
        probes = rng.integers(0, 25, (30, 2)) * cell
    # shift into the frame first, so the edges are edges of the shifted
    # values (lattice points stay exact: integers below 2^53)
    cands = cands + FRAMES[frame]
    probes = probes + FRAMES[frame]
    if shape == "edges":
        lo, hi = cands.min(axis=0), cands.max(axis=0)
        rim = np.array(
            [[lo[0], lo[1]], [hi[0], hi[1]], [lo[0], hi[1]], [hi[0], lo[1]],
             [lo[0], (lo[1] + hi[1]) / 2], [(lo[0] + hi[0]) / 2, hi[1]]]
        )
        probes = _ulp_jitter(rng, np.vstack([probes, rim, rim]))
        cands = _ulp_jitter(rng, cands)
    return probes, cands, cell


def _ids(pids, cids, probes, cands):
    if pids is None:
        pids = [f"p{i}" for i in range(len(probes))]
    if cids is None:
        cids = [f"c{i:04d}" for i in range(len(cands))]
    return pids, np.array(cids)


def _frames(spark, probes, cands, wide):
    pids, cids = _ids(None, None, probes, cands)
    left = pd.DataFrame({"pid": pids, "x": probes[:, 0], "y": probes[:, 1]})
    right = pd.DataFrame({"cid": cids, "cx": cands[:, 0], "cy": cands[:, 1]})
    if wide:
        left["ptag"] = "t" + left["pid"]
        right["cw"] = np.arange(len(cands))
    return spark.createDataFrame(left), spark.createDataFrame(right)


def brute_knn(probes, cands, k, min_dist=None, pids=None, cids=None):
    pids, ids = _ids(pids, cids, probes, cands)
    out = []
    for pid, (x, y) in zip(pids, probes):
        dx, dy = x - cands[:, 0], y - cands[:, 1]
        d = np.sqrt(dx * dx + dy * dy)
        keep = np.ones(len(d), bool) if min_dist is None else d >= min_dist
        order = np.lexsort((ids[keep], d[keep]))[:k]
        out += [(pid, ids[keep][j], float(d[keep][j]), r + 1) for r, j in enumerate(order)]
    return sorted(out)


def brute_quadrant(probes, cands, min_dist, pids=None, cids=None):
    pids, ids = _ids(pids, cids, probes, cands)
    out = []
    for pid, (x, y) in zip(pids, probes):
        dx, dy = x - cands[:, 0], y - cands[:, 1]
        d = np.sqrt(dx * dx + dy * dy)
        east, north = cands[:, 0] >= x, cands[:, 1] >= y
        quad = np.where(east, np.where(north, "NE", "SE"), np.where(north, "NW", "SW"))
        for q in ("NE", "SE", "NW", "SW"):
            m = (quad == q) & (d >= min_dist)
            if m.any():
                j = np.lexsort((ids[m], d[m]))[0]
                out.append((pid, ids[m][j], q, float(d[m][j])))
    return sorted(out)


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("shape", SHAPES)
@pytest.mark.parametrize("frame", FRAMES)
def test_knn_matches_brute_force(spark, frame, shape, seed):
    probes, cands, cell = _inputs(frame, shape, seed)
    wide = seed % 2 == 1
    left, right = _frames(spark, probes, cands, wide)
    kw = dict(left_id="pid", right_id="cid", cell_size=cell)
    cols = ("pid", "cid", "dist", "knn_rank")
    outs = [knn.knn_join(left, right, k=1, **kw), knn.knn_join(left, right, k=K, **kw)]
    assert _rows(outs[0], cols) == brute_knn(probes, cands, 1)
    assert _rows(outs[1], cols) == brute_knn(probes, cands, K)
    outs.append(knn.quadrant_knn_join(left, right, min_dist=MIN_DIST, **kw))
    assert _rows(outs[2], ("pid", "cid", "quadrant", "dist")) == brute_quadrant(
        probes, cands, MIN_DIST
    )
    for out in outs:
        assert out.columns[:-2] == left.columns + right.columns
        if wide:  # the attribute columns belong to the matched rows
            for pid, ptag, cid, cw in out.select("pid", "ptag", "cid", "cw").collect():
                assert (ptag, cw) == ("t" + pid, int(cid[1:]))
