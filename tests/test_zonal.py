"""Zonal raster extraction parity vs a sequential numpy oracle (A6)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from geotreehealth_spark import media, synth
from geotreehealth_spark.docs import generator
from geotreehealth_spark.geo import kernels, wkb
from geotreehealth_spark.operators import tiling, zonal
from tests.conftest import SF_DIR


def test_rasterize_mask_square():
    # golden analog of the reference's square-mask test
    # (tests/get_polygons_tests.py:13-33): 50x50 square → exactly 2500 px at 1 m res
    ring = np.array([[10.0, 10.0], [60.0, 10.0], [60.0, 60.0], [10.0, 60.0], [10.0, 10.0]])
    rr, cc, ok = media.rasterize_mask(ring, 0.0, 100.0, 100, 100, 1.0, 1.0)
    assert ok and len(rr) == 2500


def test_zonal_raster_parity(spark):
    # deterministic sample (limit() picks different rows per evaluation on
    # the multi-partition ingest): ~300 crowns
    crowns = synth.crowns(spark, SF_DIR).where(F.col("crown_key") % 15 == 0)
    geo = generator.crowns_with_geometry(crowns)
    tiles = tiling.tile_grid(spark, overlap=0.0).selectExpr(
        "tile_id", "txmin", "tymin", "txmax", "tymax",
        "concat('hsi://tile/', tile_id) AS media_ref",
        "12 AS bands", "100 AS height", "100 AS width",
    )
    got = zonal.zonal_raster_stats(geo, tiles).toPandas().set_index("crown_id")

    pdf = geo.select("crown_id", "geometry_wkb").toPandas()
    checked = 0
    for row in pdf.itertuples():
        ring = wkb.decode_polygon(row.geometry_wkb)
        xmin, ymin = ring.min(axis=0)
        xmax, ymax = ring.max(axis=0)
        vals = []
        for ti in range(100):
            tx0, ty0 = (ti % 10) * 100.0, (ti // 10) * 100.0
            if xmin >= tx0 + 100 or xmax <= tx0 or ymin >= ty0 + 100 or ymax <= ty0:
                continue
            cube = media.resolve_raster(f"hsi://tile/{ti}", 12, 100, 100).astype(np.float64)
            rr, cc, ok = media.rasterize_mask(ring, tx0, ty0 + 100.0, 100, 100, 1.0, 1.0)
            if ok:
                vals.append(cube[:, rr, cc])
        if not vals:
            assert row.crown_id not in got.index
            continue
        allv = np.concatenate(vals, axis=1)
        g = got.loc[row.crown_id]
        assert g.n_px == allv.shape[1]
        np.testing.assert_allclose(np.asarray(g.band_mean), allv.mean(axis=1), rtol=1e-12)
        np.testing.assert_allclose(np.asarray(g.band_std), allv.std(axis=1), rtol=1e-9)
        checked += 1
    assert checked > 200


def test_zonal_overlapping_tiles_exactly_once(spark):
    """With a 10 m overlap manifest + core_bounds ownership, results must
    equal the abutting-grid run (each pixel counted exactly once)."""
    # deterministic sample (limit() picks different rows per evaluation on
    # the multi-partition ingest): ~300 crowns
    crowns = synth.crowns(spark, SF_DIR).where(F.col("crown_key") % 15 == 0)
    geo = generator.crowns_with_geometry(crowns)

    def manifest(overlap):
        return tiling.tile_grid(spark, overlap=overlap).selectExpr(
            "tile_id", "txmin", "tymin", "txmax", "tymax",
            "cxmin", "cymin", "cxmax", "cymax",
            "concat('hsic://tile/', CAST(tile_key AS STRING)) AS media_ref",
            "4 AS bands",
            # buffered windows are wider: keep 1 m pixels
            f"CAST({100 + 2 * overlap} AS INT) AS height",
            f"CAST({100 + 2 * overlap} AS INT) AS width",
        )

    core = ("cxmin", "cymin", "cxmax", "cymax")
    flat = (
        zonal.zonal_raster_stats(geo, manifest(0.0), n_bands=4, core_bounds=core)
        .toPandas()
        .set_index("crown_id")
        .sort_index()
    )
    buffered = (
        zonal.zonal_raster_stats(geo, manifest(10.0), n_bands=4, core_bounds=core)
        .toPandas()
        .set_index("crown_id")
        .sort_index()
    )
    assert list(flat.index) == list(buffered.index)
    assert (flat.n_px == buffered.n_px).all()
    for cid in flat.index:
        np.testing.assert_allclose(
            np.asarray(flat.loc[cid].band_mean),
            np.asarray(buffered.loc[cid].band_mean),
            rtol=1e-12,
        )


def test_zonal_box_batch_parity(spark):
    """r6 batch box path (wkb_col=None, searchsorted block selection) must be
    BIT-identical to routing the same boxes through the WKB/rasterize path —
    including boxes whose edges land exactly on pixel centers (half-open
    boundary) and sub-pixel boxes that select nothing."""
    import pandas as pd

    rng = np.random.default_rng(7)
    n = 400
    # box edges: mix of off-center, exactly-on-pixel-center (k + 0.5 at 1 m
    # res), and integer-aligned values, spanning tile boundaries
    def coords(k):
        kind = rng.integers(0, 3, size=k)
        base = rng.uniform(0.0, 960.0, size=k)
        return np.where(
            kind == 0, base,
            np.where(kind == 1, np.floor(base) + 0.5, np.round(base)),
        )
    x0 = coords(n); y0 = coords(n)
    wd = np.concatenate([rng.uniform(0.0, 0.4, n // 4), rng.uniform(0.5, 30.0, n - n // 4)])
    ht = np.concatenate([rng.uniform(0.0, 0.4, n // 4), rng.uniform(0.5, 30.0, n - n // 4)])
    rng.shuffle(wd); rng.shuffle(ht)
    x1 = x0 + wd; y1 = y0 + ht
    pdf = pd.DataFrame(
        {"crown_id": [f"b{i}" for i in range(n)],
         "bxmin": x0, "bymin": y0, "bxmax": x1, "bymax": y1}
    )
    pdf["geometry_wkb"] = [
        wkb.encode_polygon(np.array(
            [[a, b], [c, b], [c, d], [a, d], [a, b]]
        )) for a, b, c, d in zip(x0, y0, x1, y1)
    ]
    boxes = spark.createDataFrame(pdf)
    # random (hsi) cubes, NOT the constant hsic ones — exactness must not
    # depend on closed-form-friendly values
    tiles = tiling.tile_grid(spark, overlap=0.0).selectExpr(
        "tile_id", "txmin", "tymin", "txmax", "tymax",
        "concat('hsi://tile/', tile_id) AS media_ref",
        "6 AS bands", "100 AS height", "100 AS width",
    )
    bounds = ("bxmin", "bymin", "bxmax", "bymax")
    via_box = (
        zonal.zonal_raster_stats(boxes, tiles, crown_bounds=bounds, wkb_col=None, n_bands=6)
        .toPandas().set_index("crown_id").sort_index()
    )
    via_wkb = (
        zonal.zonal_raster_stats(
            boxes, tiles, crown_bounds=bounds, wkb_col="geometry_wkb", n_bands=6
        )
        .toPandas().set_index("crown_id").sort_index()
    )
    assert list(via_box.index) == list(via_wkb.index)
    assert len(via_box) > 250  # the sub-pixel boxes drop out
    assert (via_box.n_px == via_wkb.n_px).all()
    for cid in via_box.index:
        a, b = via_box.loc[cid], via_wkb.loc[cid]
        assert np.asarray(a.band_mean).tobytes() == np.asarray(b.band_mean).tobytes()
        assert np.asarray(a.band_std).tobytes() == np.asarray(b.band_std).tobytes()


@pytest.mark.parametrize("overlap", [10.0, 9.5])
def test_zonal_box_core_bounds_parity(spark, overlap):
    """Box footprints with core_bounds on an overlapping manifest take the
    searchsorted block path, with the core rect as extra block limits; the
    result must be BIT-identical to the same boxes routed through the WKB +
    per-pixel core ownership path. Boxes cluster around tile seams so they
    reach into the buffers; a 9.5 m overlap puts pixel centers exactly on
    the core lines, so the half-open ownership edges are exercised."""
    import pandas as pd

    rng = np.random.default_rng(11)
    n = 300
    seam = rng.integers(1, 9, size=(n, 2)) * 100.0
    off = rng.choice([-12.0, -10.0, -5.5, -0.5, 0.0, 0.25, 3.0], size=(n, 2))
    x0 = seam[:, 0] + off[:, 0] + rng.uniform(-2.0, 2.0, n) * (rng.random(n) < 0.5)
    y0 = seam[:, 1] + off[:, 1]
    x1 = x0 + rng.choice([0.3, 1.0, 5.5, 12.0, 25.0], size=n)
    y1 = y0 + rng.choice([0.3, 1.0, 5.5, 12.0, 25.0], size=n)
    pdf = pd.DataFrame(
        {"crown_id": [f"b{i}" for i in range(n)],
         "bxmin": x0, "bymin": y0, "bxmax": x1, "bymax": y1}
    )
    pdf["geometry_wkb"] = [
        wkb.encode_polygon(kernels.box_ring(a, b, c, d))
        for a, b, c, d in zip(x0, y0, x1, y1)
    ]
    boxes = spark.createDataFrame(pdf)
    px = int(100 + 2 * overlap)  # 1 m pixels
    tiles = tiling.tile_grid(spark, overlap=overlap).selectExpr(
        "tile_id", "txmin", "tymin", "txmax", "tymax", "cxmin", "cymin", "cxmax", "cymax",
        "concat('hsi://tile/', tile_id) AS media_ref",
        "5 AS bands", f"{px} AS height", f"{px} AS width",
    )
    kw = dict(crown_bounds=("bxmin", "bymin", "bxmax", "bymax"), n_bands=5,
              core_bounds=("cxmin", "cymin", "cxmax", "cymax"))
    via_box = (
        zonal.zonal_raster_stats(boxes, tiles, wkb_col=None, **kw)
        .toPandas().set_index("crown_id").sort_index()
    )
    via_wkb = (
        zonal.zonal_raster_stats(boxes, tiles, wkb_col="geometry_wkb", **kw)
        .toPandas().set_index("crown_id").sort_index()
    )
    assert list(via_box.index) == list(via_wkb.index)
    assert len(via_box) > 200
    assert (via_box.n_px == via_wkb.n_px).all()
    for cid in via_box.index:
        a, b = via_box.loc[cid], via_wkb.loc[cid]
        assert np.asarray(a.band_mean).tobytes() == np.asarray(b.band_mean).tobytes()
        assert np.asarray(a.band_std).tobytes() == np.asarray(b.band_std).tobytes()
