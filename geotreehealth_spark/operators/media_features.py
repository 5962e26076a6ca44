"""Multimodal media operators: decode → resize → feature-extract in batches.

The training-data pipeline treats image/audio/video as opaque media_refs with
typed metadata (SURVEY.md §1.3 span conventions); feature extraction runs as
mapInArrow so payloads decode inside Arrow batches, never per-row Python at
the DataFrame layer, and each input batch leaves as one feature batch. The
sandbox decoders are deterministic fakes (media.resolve_image/resolve_frames
— PIL/ffmpeg absent); the Spark plumbing (schemas, batching, resize/pool
kernels, frame-sampling) is real and tested.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from geotreehealth_spark import media
from geotreehealth_spark.operators.udfs import map_rows


def image_features(refs: DataFrame) -> DataFrame:
    """Per image: decode at 64x64, bilinear-resize to 16x16, per-channel
    mean/std.

    Output: (doc_id, feat: array<double> of 6 = mean_rgb + std_rgb, n_px int).
    """
    oh, ow = 16, 16

    def features(row):
        img = media.resolve_image(row["media_ref"], 64, 64)
        small = media.resize_bilinear(img, oh, ow)
        flat = small.reshape(-1, small.shape[2])
        feat = np.concatenate([flat.mean(axis=0), flat.std(axis=0)])
        return feat[None, :], np.array([oh * ow])

    return map_rows(
        refs.select("doc_id", "media_ref"), "doc_id", features,
        "doc_id string, feat array<double>, n_px long",
    )


def audio_features(refs: DataFrame) -> DataFrame:
    """Per clip: windowed audio features over the decoded one-second
    waveform.

    Output: (doc_id, frame_idx int, rms double, zcr double, centroid double) —
    one row per analysis window (the exploded layout downstream filters
    expect): RMS energy, zero-crossing rate, and FFT spectral centroid in Hz.
    Decode + framing + FFT all run vectorized inside the Arrow batch; the
    sandbox decoder is the deterministic media.resolve_audio (production
    audio decode is the decode_external hook).
    """
    frame, hop = 1024, 512  # analysis window and hop (samples)
    freqs = np.fft.rfftfreq(frame, d=1.0 / media.SAMPLE_RATE)

    def features(row):
        wave = media.resolve_audio(row["media_ref"]).astype(np.float64)
        n_frames = max((len(wave) - frame) // hop + 1, 0)
        idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
        frames = wave[idx]  # (n_frames, frame) — one strided gather
        e = np.sqrt(np.mean(frames * frames, axis=1))
        z = np.mean(np.abs(np.diff(np.signbit(frames), axis=1)), axis=1)
        mag = np.abs(np.fft.rfft(frames, axis=1))
        denom = mag.sum(axis=1)
        c = np.where(denom > 0, (mag * freqs[None, :]).sum(axis=1) /
                     np.where(denom > 0, denom, 1.0), 0.0)
        return np.arange(n_frames), e, z, c

    return map_rows(
        refs.select("doc_id", "media_ref"), "doc_id", features,
        "doc_id string, frame_idx int, rms double, zcr double, centroid double",
    )


def frame_sample_features(refs: DataFrame) -> DataFrame:
    """Per clip (media.resolve_frames): its sampled frames' channel means.

    Output: (doc_id, frame_idx int, feat array<double> of 3). One row per
    sampled frame — the exploded layout downstream dedup/similarity ops expect.
    """

    def features(row):
        frames = media.resolve_frames(row["media_ref"])
        means = [fr.reshape(-1, 3).mean(axis=0) for fr in frames]
        return np.arange(len(frames)), np.array(means).reshape(-1, 3)

    return map_rows(
        refs.select("doc_id", "media_ref"), "doc_id", features,
        "doc_id string, frame_idx int, feat array<double>",
    )
