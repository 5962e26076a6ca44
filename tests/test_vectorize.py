"""Mask→polygon extraction + geometric union: reference-golden parity.

Goldens mirror the reference's own tests:
- tests/get_polygons_tests.py:13-33 — 50x50 square mask → Polygon area 2500
  containing the seed point.
- tests/from_mask_to_polygons_tests.py:10-24 — squares (0,0,5,5) and
  (3,3,8,8) merge into one polygon; (10,10,15,15) stays separate.
"""

import numpy as np
import pyspark.sql.functions as F
import pytest

from geotreehealth_spark.geo import kernels, polygonize as pz, wkb
from geotreehealth_spark.operators import vectorize


def _pack_mask(mask: np.ndarray) -> bytes:
    return np.packbits(mask.astype(np.uint8)).tobytes()


def test_polygonize_square_golden(spark):
    """Reference golden: 50x50 square mask → area 2500 containing the seed."""
    mask = np.zeros((100, 100), dtype=bool)
    mask[25:75, 25:75] = True
    df = spark.createDataFrame(
        [("m0", _pack_mask(mask), 100, 100, 0.0, 100.0)],
        "mask_id string, mask_bits binary, height int, width int, txmin double, tymax double",
    )
    out = vectorize.polygonize_masks(df).collect()
    assert len(out) == 1
    p = out[0]
    assert p.n_px == 2500 and p.area == 2500.0
    ring = wkb.decode_polygon(p.geometry_wkb)
    assert kernels.polygon_area(ring) == 2500.0
    # seed containment (mask coords row 50/col 50 → world (50.5, 49.5))
    assert bool(kernels.points_in_polygon(np.array([50.0]), np.array([50.0]), ring)[0])


def test_polygonize_multi_component(spark):
    mask = np.zeros((40, 40), dtype=bool)
    mask[2:6, 2:6] = True     # 16 px
    mask[20:25, 20:30] = True  # 50 px
    df = spark.createDataFrame(
        [("m0", _pack_mask(mask), 40, 40, 0.0, 40.0)],
        "mask_id string, mask_bits binary, height int, width int, txmin double, tymax double",
    )
    out = vectorize.polygonize_masks(df).orderBy("part_idx").collect()
    assert [r.n_px for r in out] == [16, 50]
    assert [r.area for r in out] == [16.0, 50.0]


def test_geometric_union_reference_golden(spark):
    """from_mask_to_polygons_tests.py:10-24: 1∪2 merge (area 25+25-4=46),
    polygon 3 stays separate (area 25)."""
    def box_ring(x0, y0, x1, y1):
        return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)

    rows = [
        ("g", wkb.encode_polygon(box_ring(0, 0, 5, 5))),
        ("g", wkb.encode_polygon(box_ring(3, 3, 8, 8))),
        ("g", wkb.encode_polygon(box_ring(10, 10, 15, 15))),
    ]
    df = spark.createDataFrame(rows, "gid string, geometry_wkb binary")
    out = vectorize.geometric_union(df, group_col="gid").orderBy("part_idx").collect()
    areas = sorted(r.area for r in out)
    assert len(out) == 2
    assert areas == [25.0, 46.0]
    # merged part is the exact rectilinear union for integer-aligned boxes
    merged = next(r for r in out if r.area == 46.0)
    ring = wkb.decode_polygon(merged.geometry_wkb)
    assert kernels.polygon_area(ring) == 46.0
    # contains both seeds, excludes the corner outside the L
    inside = kernels.points_in_polygon(
        np.array([1.0, 7.0, 7.0]), np.array([1.0, 7.0, 1.0]), ring
    )
    assert inside.tolist() == [True, True, False]


def test_multipolygon_roundtrip_and_explode(spark):
    r1 = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    r2 = np.array([[10, 10], [12, 10], [12, 13], [10, 13], [10, 10]], float)
    multi = wkb.encode_multipolygon([r1, r2])
    assert wkb.geometry_type(multi) == 6
    parts = wkb.split_multipolygon(multi)
    assert len(parts) == 2
    np.testing.assert_array_equal(wkb.decode_polygon(parts[0]), r1)
    np.testing.assert_array_equal(wkb.decode_polygon(parts[1]), r2)

    pt = wkb.encode_point(1.0, 2.0)
    simple = wkb.encode_polygon(r1)
    df = spark.createDataFrame(
        [("a", multi), ("b", simple), ("c", pt)], "gid string, geometry_wkb binary"
    )
    # JVM-side geometry-type filter (P8): drop points without Python
    typed = df.withColumn("gtype", vectorize.geometry_type_col("geometry_wkb"))
    assert {r.gid: r.gtype for r in typed.collect()} == {"a": 6, "b": 3, "c": 1}
    polys = typed.where(F.col("gtype").isin(3, 6))
    exploded = vectorize.explode_multi(polys).collect()
    got = sorted((r.gid, r.part_idx) for r in exploded)
    assert got == [("a", 0), ("a", 1), ("b", 0)]
    # exploded parts are valid single polygons with correct areas
    areas = {
        (r.gid, r.part_idx): kernels.polygon_area(wkb.decode_polygon(r.part_wkb))
        for r in exploded
    }
    assert areas == {("a", 0): 16.0, ("a", 1): 6.0, ("b", 0): 16.0}


def test_polygonize_roundtrip_rasterize():
    """polygonize(rasterize(convex poly)) reproduces the pixel mask exactly."""
    from geotreehealth_spark import media
    from geotreehealth_spark.docs.generator import crown_polygon_ring

    ring = crown_polygon_ring(12345, 50.0, 50.0, 8.0)
    rr, cc, ok = media.rasterize_mask(ring, 0.0, 100.0, 100, 100, 1.0, 1.0)
    assert ok
    mask = np.zeros((100, 100), dtype=bool)
    mask[rr, cc] = True
    polys = pz.polygonize(mask, txmin=0.0, tymax=100.0)
    assert len(polys) == 1
    assert polys[0]["n_px"] == len(rr)
    # re-rasterizing the extracted ring gives the same mask back
    ring2 = polys[0]["ring"]
    rr2, cc2, ok2 = media.rasterize_mask(ring2, 0.0, 100.0, 100, 100, 1.0, 1.0)
    mask2 = np.zeros((100, 100), dtype=bool)
    mask2[rr2, cc2] = True
    assert np.array_equal(mask, mask2)


class TestPinchMasks:
    """ADVICE.md round 2: pinch corners (diagonal component pixels meeting
    diagonal empty pixels) crashed _component_ring's single-edge walk."""

    def test_ne_sw_pinch(self):
        # hole at (1,1) touches exterior empty (0,0) diagonally
        mask = np.array([[0, 1, 1], [1, 0, 1], [1, 1, 1]], dtype=bool)
        polys = pz.polygonize(mask)
        assert len(polys) == 1 and polys[0]["n_px"] == 7
        ring = polys[0]["ring"]
        assert np.array_equal(ring[0], ring[-1])

    def test_mirrored_pinch(self):
        mask = np.array([[1, 1, 0], [1, 0, 1], [1, 1, 1]], dtype=bool)
        polys = pz.polygonize(mask)
        assert len(polys) == 1 and polys[0]["n_px"] == 7

    def test_exterior_notch_pinch(self):
        mask = np.array([[1, 1, 1], [1, 0, 1], [1, 1, 0]], dtype=bool)
        polys = pz.polygonize(mask)
        assert len(polys) == 1 and polys[0]["n_px"] == 7

    def test_random_stress_all_components_traced(self):
        rng = np.random.RandomState(123)
        for _ in range(60):
            mask = rng.rand(15, 15) > 0.45
            polys = pz.polygonize(mask)
            labels, n = pz.label_components(mask)
            assert len(polys) == n
            assert sum(p["n_px"] for p in polys) == int(mask.sum())
            for i, p in enumerate(polys):
                ring = p["ring"]
                assert np.array_equal(ring[0], ring[-1])
                # every component pixel center inside its exterior ring
                rs, cs = np.nonzero(labels == i)
                inside = kernels.points_in_polygon(
                    cs + 0.5, mask.shape[0] - (rs + 0.5), ring
                )
                assert inside.all()


class TestGeometryCollections:
    """GeometryCollection strip (reference delineation_utils.py:258-272):
    keep areal parts, drop Points/LineStrings, recurse nested collections."""

    def _sq(self, x0, y0, s):
        return np.array(
            [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]],
            dtype=float,
        )

    def test_split_collection_keeps_areal_parts(self):
        poly_a = wkb.encode_polygon(self._sq(0, 0, 2))
        poly_b = wkb.encode_polygon(self._sq(5, 5, 3))
        pt = wkb.encode_point(1.0, 1.0)
        ls = wkb.encode_linestring(np.array([[0.0, 0.0], [4.0, 4.0], [8.0, 0.0]]))
        mp = wkb.encode_multipolygon([self._sq(10, 10, 1), self._sq(20, 20, 1)])
        coll = wkb.encode_collection([pt, poly_a, ls, mp, poly_b])
        parts = wkb.split_multipolygon(coll)
        assert len(parts) == 4  # a, two mp parts, b — points/lines dropped
        areas = sorted(kernels.polygon_area(wkb.decode_polygon(p)) for p in parts)
        assert areas == [1.0, 1.0, 4.0, 9.0]

    def test_nested_collection(self):
        inner = wkb.encode_collection(
            [wkb.encode_point(0, 0), wkb.encode_polygon(self._sq(0, 0, 1))]
        )
        outer = wkb.encode_collection([inner, wkb.encode_polygon(self._sq(2, 2, 2))])
        parts = wkb.split_multipolygon(outer)
        assert len(parts) == 2

    def test_explode_multi_on_collection(self, spark):
        coll = wkb.encode_collection(
            [
                wkb.encode_point(0.0, 0.0),
                wkb.encode_polygon(self._sq(0, 0, 2)),
                wkb.encode_linestring(np.array([[0.0, 0.0], [1.0, 1.0]])),
                wkb.encode_polygon(self._sq(4, 4, 3)),
            ]
        )
        df = spark.createDataFrame([("g1", coll)], "gid string, geometry_wkb binary")
        out = vectorize.explode_multi(df).orderBy("part_idx").collect()
        assert len(out) == 2
        assert [
            round(kernels.polygon_area(wkb.decode_polygon(r.part_wkb))) for r in out
        ] == [4, 9]

    def test_geometry_type_col_collection_and_bigendian(self, spark):
        coll = wkb.encode_collection([wkb.encode_polygon(self._sq(0, 0, 1))])
        df = spark.createDataFrame(
            [("a", wkb.encode_point(0, 0)), ("b", coll)], "gid string, g binary"
        )
        got = {
            r.gid: r.t
            for r in df.select("gid", vectorize.geometry_type_col("g").alias("t")).collect()
        }
        assert got == {"a": 1, "b": 7}
        # big-endian marker byte fails loudly instead of silently typing as 0
        be = bytes([0]) + wkb.encode_point(0, 0)[1:]
        bad = spark.createDataFrame([("c", be)], "gid string, g binary")
        with pytest.raises(Exception, match="big-endian"):
            bad.select(vectorize.geometry_type_col("g").alias("t")).collect()
