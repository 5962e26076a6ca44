"""Parity of distributed spatial operators vs sequential numpy oracles.

These cover the WKB-polygon paths that the SQL oracles can't express:
- filter-refine PIP join with irregular convex crowns (J3)
- greedy NMS vs the reference-order sequential oracle (W3) — including
  cross-cell borders (crowns straddle the 10 m NMS cells).
"""

import numpy as np
import pyspark.sql.functions as F
import pytest

from geotreehealth_spark import synth
from geotreehealth_spark.docs import generator
from geotreehealth_spark.geo import kernels, wkb
from geotreehealth_spark.operators import nms, pip_join
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def crowns_geo_pd(spark):
    crowns = synth.crowns(spark, SF_DIR)
    geo = generator.crowns_with_geometry(crowns)
    pdf = geo.select(
        "crown_id", "crown_key", "score", "geometry_wkb",
        "gxmin", "gymin", "gxmax", "gymax",
    ).toPandas()
    return pdf


def _nms_input(spark, pdf):
    """The crowns as greedy_nms reads them: polygon bboxes in xmin..ymax."""
    return spark.createDataFrame(
        pdf[["crown_id", "score", "geometry_wkb", "gxmin", "gymin", "gxmax", "gymax"]].rename(
            columns={"gxmin": "xmin", "gymin": "ymin", "gxmax": "xmax", "gymax": "ymax"}
        )
    )


def test_pip_polygon_parity(spark, crowns_geo_pd):
    stems = synth.stems(spark, SF_DIR)
    geo = spark.createDataFrame(crowns_geo_pd)
    got = (
        pip_join.pip_join(
            stems,
            geo,
            cell_size=25.0,
            poly_wkb="geometry_wkb",
            poly_bounds=("gxmin", "gymin", "gxmax", "gymax"),
        )
        .select("crown_id", "stem_tag")
        .toPandas()
    )
    got_pairs = set(zip(got.crown_id, got.stem_tag))

    stems_pd = stems.select("stem_tag", "x", "y").toPandas()
    px = stems_pd.x.to_numpy()
    py = stems_pd.y.to_numpy()
    tags = stems_pd.stem_tag.to_numpy()
    expected = set()
    for row in crowns_geo_pd.itertuples():
        # bbox prefilter then exact kernel — the oracle is the kernel itself
        m = (px >= row.gxmin) & (px < row.gxmax) & (py >= row.gymin) & (py < row.gymax)
        if not m.any():
            continue
        ring = wkb.decode_polygon(row.geometry_wkb)
        inside = kernels.points_in_polygon(px[m], py[m], ring)
        for t in tags[m][inside]:
            expected.add((row.crown_id, t))
    assert got_pairs == expected
    assert len(expected) > 100  # non-trivial fixture


def sequential_nms(pdf, threshold):
    """Reference-order greedy (get_polygons.py:798-816): score desc, id asc."""
    order = pdf.sort_values(["score", "crown_id"], ascending=[False, True])
    kept = []
    kept_rings = []
    kept_bounds = []
    selected = {}
    for row in order.itertuples():
        ring = wkb.decode_polygon(row.geometry_wkb)
        keep = True
        for kid, kring, kb in zip(kept, kept_rings, kept_bounds):
            if (
                row.gxmin < kb[2]
                and row.gxmax > kb[0]
                and row.gymin < kb[3]
                and row.gymax > kb[1]
            ):
                if kernels.polygon_overlap_ratio(ring, kring) > threshold:
                    keep = False
                    break
        selected[row.crown_id] = keep
        if keep:
            kept.append(row.crown_id)
            kept_rings.append(ring)
            kept_bounds.append((row.gxmin, row.gymin, row.gxmax, row.gymax))
    return selected


def test_greedy_nms_parity(spark, crowns_geo_pd):
    # subset dense enough for long suppression chains but tractable oracle
    pdf = crowns_geo_pd[crowns_geo_pd.gxmin < 200.0].reset_index(drop=True)
    assert len(pdf) > 1500
    expected = sequential_nms(pdf, threshold=nms.GREEDY_THRESHOLD)

    got = (
        nms.greedy_nms(
            _nms_input(spark, pdf), id_col="crown_id", score_col="score",
            wkb_col="geometry_wkb",
        )
        .select("crown_id", "selected")
        .toPandas()
    )
    got_map = dict(zip(got.crown_id, got.selected))
    assert len(got_map) == len(expected)
    diffs = {k for k in expected if bool(got_map[k]) != expected[k]}
    assert diffs == set(), f"{len(diffs)} NMS decisions differ, e.g. {list(diffs)[:5]}"
    # sanity: suppression actually happened
    n_suppressed = sum(1 for v in expected.values() if not v)
    assert n_suppressed > 50


def test_greedy_nms_distributed_fixpoint_matches_driver_path(
    spark, crowns_geo_pd, monkeypatch
):
    """_DRIVER_FIXPOINT_MAX=0 forces the join-based fixpoint; results must be
    identical to the driver-local numpy path (same subset as parity test)."""
    pdf = crowns_geo_pd[
        (crowns_geo_pd.gxmin < 60.0) & (crowns_geo_pd.gymin < 300.0)
    ].reset_index(drop=True)
    geo = _nms_input(spark, pdf)
    kwargs = dict(id_col="crown_id", score_col="score", wkb_col="geometry_wkb")
    a = nms.greedy_nms(geo, **kwargs).select("crown_id", "selected").toPandas()
    monkeypatch.setattr(nms, "_DRIVER_FIXPOINT_MAX", 0)
    b = nms.greedy_nms(geo, **kwargs).select("crown_id", "selected").toPandas()
    ma = dict(zip(a.crown_id, a.selected))
    mb = dict(zip(b.crown_id, b.selected))
    assert ma == mb and len(ma) == len(pdf)


def sequential_weighted_nms(pdf, threshold):
    """Python oracle of batch_sam.py:699-731 over boxes with the engine's
    quantized penalty (micro-units)."""
    import itertools

    def iou(a, b):
        iw = min(a.xmax, b.xmax) - max(a.xmin, b.xmin)
        ih = min(a.ymax, b.ymax) - max(a.ymin, b.ymin)
        inter = max(iw, 0.0) * max(ih, 0.0)
        aa = (a.xmax - a.xmin) * (a.ymax - a.ymin)
        ab = (b.xmax - b.xmin) * (b.ymax - b.ymin)
        return inter / (aa + ab - inter)

    rows = list(pdf.itertuples())
    pen = {r.crown_id: 0 for r in rows}
    for a, b in itertools.combinations(rows, 2):
        m = iou(a, b)
        if m > threshold:
            q = int(np.round(m * 1e6))
            pen[a.crown_id] += q
            pen[b.crown_id] += q
    score = {r.crown_id: r.priority - pen[r.crown_id] / 1e6 for r in rows}
    order = sorted(rows, key=lambda r: (-score[r.crown_id], r.crown_id))
    kept, selected = [], {}
    for r in order:
        ok = all(iou(r, k) <= threshold for k in kept)
        selected[r.crown_id] = ok
        if ok:
            kept.append(r)
    return selected, score


def test_weighted_nms_parity(spark):
    crowns = synth.crowns(spark, SF_DIR).where(F.col("crown_key") % 3 == 0)
    stems = synth.stems(spark, SF_DIR).select(
        "stem_tag", (F.col("crown_position").cast("double") + F.col("dbh")).alias("priority")
    )
    polys = crowns.join(stems, "stem_tag").select(
        "crown_id", "xmin", "ymin", "xmax", "ymax", "priority"
    )
    pdf = polys.toPandas()
    expected, exp_score = sequential_weighted_nms(pdf, threshold=nms.WEIGHTED_THRESHOLD)
    got = (
        nms.weighted_nms(polys, id_col="crown_id", priority_col="priority")
        .select("crown_id", "wscore", "selected")
        .toPandas()
    )
    got_sel = dict(zip(got.crown_id, got.selected))
    got_score = dict(zip(got.crown_id, got.wscore))
    assert len(got_sel) == len(expected)
    for cid in expected:
        assert abs(got_score[cid] - exp_score[cid]) < 1e-12, cid
        assert bool(got_sel[cid]) == expected[cid], cid
    assert sum(1 for v in expected.values() if not v) > 20


def _concave_star_ring(cx, cy, r_out, seed):
    """Deterministic concave (star) ring around (cx, cy) — the SAM-crown
    shape class the round-2 convex-only clip kernel couldn't intersect."""
    rng = np.random.RandomState(seed)
    n = 6
    base = np.arange(2 * n) * (np.pi / n)
    th = base + rng.uniform(-0.3, 0.3, 2 * n) * (np.pi / n)
    rr = np.where(np.arange(2 * n) % 2 == 0, r_out, 0.45 * r_out) * rng.uniform(
        0.75, 1.0, 2 * n
    )
    pts = np.c_[cx + rr * np.cos(th), cy + rr * np.sin(th)]
    return np.vstack([pts, pts[:1]])


def test_greedy_nms_parity_concave_crowns(spark, crowns_geo_pd):
    """WKB-path NMS parity on CONCAVE polygons (VERDICT.md round 2 next 3):
    replace each crown ring with a concave star of the same bbox scale; the
    distributed NMS and the sequential oracle must agree decision-for-decision
    through the general clip_area kernel."""
    pdf = crowns_geo_pd[
        (crowns_geo_pd.gxmin < 120.0) & (crowns_geo_pd.gymin < 400.0)
    ].reset_index(drop=True).copy()
    assert len(pdf) > 400
    rings = []
    for row in pdf.itertuples():
        cx = (row.gxmin + row.gxmax) / 2.0
        cy = (row.gymin + row.gymax) / 2.0
        r_out = max(row.gxmax - row.gxmin, row.gymax - row.gymin) * 0.75
        rings.append(_concave_star_ring(cx, cy, r_out, seed=row.crown_key % 10000))
    pdf["geometry_wkb"] = [wkb.encode_polygon(r) for r in rings]
    pdf["gxmin"] = [r[:, 0].min() for r in rings]
    pdf["gxmax"] = [r[:, 0].max() for r in rings]
    pdf["gymin"] = [r[:, 1].min() for r in rings]
    pdf["gymax"] = [r[:, 1].max() for r in rings]
    assert sum(1 for r in rings if not kernels.is_convex(r)) > 350

    expected = sequential_nms(pdf, threshold=nms.GREEDY_THRESHOLD)
    got = (
        nms.greedy_nms(
            _nms_input(spark, pdf), id_col="crown_id", score_col="score",
            wkb_col="geometry_wkb",
        )
        .select("crown_id", "selected")
        .toPandas()
    )
    got_map = dict(zip(got.crown_id, got.selected))
    assert len(got_map) == len(expected)
    diffs = {k for k in expected if bool(got_map[k]) != expected[k]}
    assert diffs == set(), f"{len(diffs)} concave NMS decisions differ"
    assert sum(1 for v in expected.values() if not v) > 20
