"""kNN edge cases (ADVICE.md round 2): empty candidate side must return an
empty result (not crash on NULL bounds), repeated calls must not leak
persisted blocks in a long-lived session, contract violations (NULL ids, a
grid too fine for the cell key) raise, and proofs at the data corner and
escalation stay exact."""

import numpy as np
import pytest

from geotreehealth_spark.operators import knn
from test_knn_random import brute_knn, brute_quadrant
from tests.conftest import new_rdds, registry


def _points(spark, rows, xcol="x", ycol="y", idcol="pid"):
    if not rows:
        return spark.createDataFrame([], f"{idcol} string, {xcol} double, {ycol} double")
    return spark.createDataFrame(rows, f"{idcol} string, {xcol} double, {ycol} double")


def test_knn_join_empty_right(spark):
    left = _points(spark, [("a", 1.0, 1.0), ("b", 5.0, 5.0)])
    right = _points(spark, [], xcol="cx", ycol="cy", idcol="cid")
    out = knn.knn_join(left, right, k=2, left_id="pid", right_id="cid")
    assert out.count() == 0
    assert out.columns == ["pid", "x", "y", "cid", "cx", "cy", "dist", "knn_rank"]


def test_quadrant_knn_join_empty_right(spark):
    left = _points(spark, [("a", 1.0, 1.0)])
    right = _points(spark, [], xcol="cx", ycol="cy", idcol="cid")
    out = knn.quadrant_knn_join(left, right, left_id="pid", right_id="cid")
    assert out.count() == 0
    assert out.columns == ["pid", "x", "y", "cid", "cx", "cy", "dist", "quadrant"]


def test_knn_join_no_cache_leak(spark, monkeypatch):
    left = _points(spark, [(f"p{i}", float(i), float(i)) for i in range(50)])
    right = _points(
        spark,
        [(f"c{i}", float(i) + 0.25, float(i) - 0.25) for i in range(50)],
        xcol="cx", ycol="cy", idcol="cid",
    )
    monkeypatch.setattr(knn, "_cell_size", lambda *a: 5.0)
    before = registry(spark)
    out = knn.knn_join(left, right, k=3, left_id="pid", right_id="cid")
    assert out.count() == 50 * 3
    new = new_rdds(spark, before)
    # the returned prologue checkpoint is the only retained block set
    assert len(new) <= 1, new


def _brute(lrows, rrows, **kw):
    """The numpy brute force over _points-style row lists: top-k rows when
    ``k`` is given, else quadrant rows."""
    probes = np.array([(x, y) for _, x, y in lrows])
    cands = np.array([(x, y) for _, x, y in rrows])
    ids = dict(pids=[r[0] for r in lrows], cids=[r[0] for r in rrows])
    if "k" in kw:
        return brute_knn(probes, cands, kw["k"], **ids)
    return brute_quadrant(probes, cands, kw["min_dist"], **ids)


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


QCOLS = ("pid", "cid", "quadrant", "dist")
KCOLS = ("pid", "cid", "dist", "knn_rank")


def test_corner_probe_proofs_match_brute_force(spark, monkeypatch):
    """Exact-reach + empty-quadrant proof arms, checked against the brute
    force. The fixture pins the failure mode that kept a 1-probe residue at
    sf0.1: a probe AT the data min corner, whose west and south quadrants are
    empty but unbounded along one axis, plus a sparse far corner."""
    lrows = [("corner", 0.0, 0.0), ("mid", 41.0, 43.0), ("edge", 0.0, 57.0)]
    rrows = [(f"c{i}", (i * 37.0) % 90 + 5.0, (i * 53.0) % 90 + 5.0) for i in range(40)]
    rrows.append(("far", 99.0, 99.0))
    left, right = _points(spark, lrows), _points(spark, rrows, "cx", "cy", "cid")
    monkeypatch.setattr(knn, "_cell_size", lambda *a: 8.0)
    kw = dict(left_id="pid", right_id="cid")
    qa = _rows(knn.quadrant_knn_join(left, right, **kw), QCOLS)
    ka = _rows(knn.knn_join(left, right, k=4, **kw), KCOLS)
    assert qa == _brute(lrows, rrows, min_dist=knn.MIN_DIST) and qa
    assert ka == _brute(lrows, rrows, k=4) and len(ka) == 3 * 4
    # the corner probe's NW/SW/SE quadrants are provably empty: its only
    # output rows are NE ones
    assert all(q == "NE" for p, _, q, _ in qa if p == "corner")


def test_escalation_exact(spark, monkeypatch):
    """A sparse far corner — one candidate and one probe far from the rest —
    leaves that probe with fewer than k candidates (and an empty quadrant)
    in ring 1, so the prologue leaves a residue that the rare path must
    finish exactly. Run once with the default cost switch (residue straight
    to the crossJoin) and once with the switch off, so a 4x ring round runs
    too — at test scale the switch always fires."""
    lrows = [(f"p{i}", i * 37.0 % 100, i * 53.0 % 100) for i in range(20)]
    lrows.append(("far_probe", 395.0, 398.0))
    rrows = [(f"c{i}", i * 17.0 % 100, i * 29.0 % 100) for i in range(50)]
    rrows.append(("far", 400.0, 400.0))
    left, right = _points(spark, lrows), _points(spark, rrows, "cx", "cy", "cid")
    monkeypatch.setattr(knn, "_cell_size", lambda *a: 50.0)
    monkeypatch.setattr(knn, "MIN_DIST", 0.0)
    kw = dict(left_id="pid", right_id="cid")
    rings = []
    ring_cells = knn.cellexprs.with_ring_cells

    def spy(df, x, y, cell_size, ring, *a):
        rings.append(ring)
        return ring_cells(df, x, y, cell_size, ring, *a)

    monkeypatch.setattr(knn.cellexprs, "with_ring_cells", spy)
    for cross_rows in (knn._CROSS_ROWS, 0):
        monkeypatch.setattr(knn, "_CROSS_ROWS", cross_rows)
        rings.clear()
        a = _rows(knn.knn_join(left, right, k=3, **kw), KCOLS)
        assert a == _brute(lrows, rrows, k=3) and len(a) == 21 * 3
        qa = _rows(knn.quadrant_knn_join(left, right, **kw), QCOLS)
        assert qa == _brute(lrows, rrows, min_dist=0.0) and qa
        assert rings == ([1, 1] if cross_rows else [1, 4, 1, 4])


@pytest.mark.parametrize("side", ["left", "right"])
def test_null_id_raises(spark, side):
    rows = [("a", 1.0, 1.0), (None, 5.0, 5.0), ("c", 9.0, 2.0)]
    ok = [("x", 2.0, 2.0), ("y", 6.0, 4.0)]
    left = _points(spark, rows if side == "left" else ok)
    right = _points(spark, rows if side == "right" else ok, "cx", "cy", "cid")
    col = "pid" if side == "left" else "cid"
    before = registry(spark)
    with pytest.raises(ValueError, match=f"NULL values in {side} id column '{col}'"):
        knn.knn_join(left, right, k=1, left_id="pid", right_id="cid")
    with pytest.raises(ValueError, match=f"'{col}'"):
        knn.quadrant_knn_join(left, right, left_id="pid", right_id="cid")
    # the failed calls released everything they stored, checkpoints included
    assert new_rdds(spark, before) == set()


def test_cell_stride_guard(spark, monkeypatch):
    """A tiny cell over a wide frame would need more than CELL_STRIDE cells
    on one axis, and such keys alias: the call must raise, not answer."""
    left = _points(spark, [("a", 0.0, 0.0)])
    right = _points(spark, [("x", -5000.0, 0.0), ("y", 5000.0, 1.0)], "cx", "cy", "cid")
    monkeypatch.setattr(knn, "_cell_size", lambda *a: 1e-3)
    with pytest.raises(ValueError, match="fewer than 4194304 cells"):
        knn.knn_join(left, right, k=1, left_id="pid", right_id="cid")
