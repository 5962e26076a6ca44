"""Interleaved-docs model: generate → decode roundtrip + span parity."""

import pyspark.sql.functions as F

from geotreehealth_spark import synth
from geotreehealth_spark.docs import decode, generator, spans
from tests.conftest import SF_DIR


def test_stems_roundtrip(spark):
    stems = synth.stems(spark, SF_DIR)
    docs = generator.stems_to_docs(stems)
    decoded = decode.decode_stems(docs)
    cols = ["stem_tag", "x", "y", "dbh", "year", "status", "crown_position", "fad", "site_id"]
    a = stems.select(cols).orderBy("stem_tag").toPandas()
    b = decoded.select(cols).orderBy("stem_tag").toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_crown_geometry_bounds(spark):
    # deterministic sample: limit() would pick different rows per evaluation
    # now that ingest repartitions round-robin (synth.register_tpch_views)
    crowns = synth.crowns(spark, SF_DIR).where(F.col("crown_key") % 37 == 0)
    geo = generator.crowns_with_geometry(crowns)
    # polygon bounds stay inside the generator's radius envelope
    chk = (
        geo.where(
            (F.col("gxmin") < F.col("cx") - F.col("radius") - 1e-9)
            | (F.col("gxmax") > F.col("cx") + F.col("radius") + 1e-9)
        ).count()
    )
    assert chk == 0


def test_span_parity_and_offsets(spark):
    stems = synth.stems(spark, SF_DIR)
    docs = generator.stems_to_docs(stems)
    # offsets are 0..n-1
    bad = docs.where(~spans.offsets_valid()).count()
    assert bad == 0
    # identical rebuild → zero mismatches; a mutated doc is caught
    rebuilt = generator.stems_to_docs(decodeless_identity(stems))
    res = spans.span_parity(docs, rebuilt)
    assert res == {"missing_left": 0, "missing_right": 0, "mismatched": 0}
    mutated = docs.withColumn(
        "spans",
        F.when(
            F.col("doc_id") == "stem-1",
            F.transform(
                "spans",
                lambda s: F.struct(
                    s.kind.alias("kind"),
                    F.concat(s.text, F.lit("x")).alias("text"),
                    s.media_ref.alias("media_ref"),
                    s.offset.alias("offset"),
                ),
            ),
        ).otherwise(F.col("spans")),
    )
    res = spans.span_parity(docs, mutated)
    assert res["mismatched"] == 1


def decodeless_identity(stems):
    return stems


def test_lidar_docs_roundtrip(spark):
    """S6 media_ref path: tiles → lidar docs → decode → point-cloud load;
    deterministic across calls, coordinates within tile bounds, z
    milli-quantized in [0, 35)."""
    from geotreehealth_spark import media

    tiles = synth.tiles(spark).where(F.col("tile_key") < 4)
    docs = generator.lidar_to_docs(tiles)
    manifest = decode.decode_lidar(docs)
    assert manifest.count() == 4
    pts = media.load_lidar_points(manifest).toPandas().sort_values("point_id")
    assert len(pts) == 4 * 1000
    tb = tiles.toPandas().set_index("tile_id")
    for tid, g in pts.groupby("tile_id"):
        t = tb.loc[tid]
        assert ((g.x >= t.txmin) & (g.x < t.txmax)).all()
        assert ((g.y >= t.tymin) & (g.y < t.tymax)).all()
    assert ((pts.z >= 0) & (pts.z < 35)).all()
    # milli-quantized: z*1000 rounds to an integer within fp tolerance
    assert ((pts.z * 1000) - (pts.z * 1000).round()).abs().max() < 1e-9
    pts2 = media.load_lidar_points(manifest).toPandas().sort_values("point_id")
    assert (pts.reset_index(drop=True) == pts2.reset_index(drop=True)).all().all()


def test_null_fields_roundtrip(spark):
    """A NULL attr field decodes back as NULL and leaves the later fields in
    place (concat_ws alone skips NULLs, so every later field shifted)."""
    stems = spark.createDataFrame(
        [
            ("t1", 1.5, 2.5, None, 2015, "A", 3, "x", "S1"),
            ("t2", 3.5, 4.5, 12.5, 2016, None, None, None, "S2"),
            ("t3", 5.5, 6.5, 7.0, None, "D", 1, None, "S1"),
        ],
        "stem_tag string, x double, y double, dbh double, year int, status string, "
        "crown_position int, fad string, site_id string",
    )
    got = decode.decode_stems(generator.stems_to_docs(stems)).select(stems.columns)
    assert sorted(got.collect()) == sorted(stems.collect())

    tiles = spark.createDataFrame(
        [("7", 7, 0.0, None, 100.0, 100.0), ("8", 8, 100.0, 0.0, 200.0, 100.0)],
        "tile_id string, tile_key int, txmin double, tymin double, txmax double, tymax double",
    )
    cols = ["tile_id", "txmin", "tymin", "txmax", "tymax"]
    decoded = decode.decode_lidar(generator.lidar_to_docs(tiles))
    assert sorted(decoded.select(cols).collect()) == sorted(tiles.select(cols).collect())
