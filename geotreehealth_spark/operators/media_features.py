"""Multimodal media operators: decode → resize → feature-extract in batches.

The training-data pipeline treats image/audio/video as opaque media_refs with
typed metadata (SURVEY.md §1.3 span conventions); feature extraction runs as
mapInPandas so payloads decode inside Arrow batches, never per-row Python at
the DataFrame layer. The sandbox decoders are deterministic fakes
(media.resolve_image/resolve_frames — PIL/ffmpeg absent); the Spark plumbing
(schemas, batching, resize/pool kernels, frame-sampling) is real and tested.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from geotreehealth_spark import media


def image_features(refs: DataFrame) -> DataFrame:
    """Per image: decode at 64x64, bilinear-resize to 16x16, per-channel
    mean/std.

    Output: (doc_id, feat: array<double> of 6 = mean_rgb + std_rgb, n_px int).
    """
    schema = "doc_id string, feat array<double>, n_px long"
    oh, ow = 16, 16

    def per_batch(it):
        for pdf in it:
            ids, feats, npx = [], [], []
            for row in pdf.itertuples():
                img = media.resolve_image(row.media_ref, 64, 64)
                small = media.resize_bilinear(img, oh, ow)
                flat = small.reshape(-1, small.shape[2])
                feats.append(
                    np.concatenate([flat.mean(axis=0), flat.std(axis=0)]).tolist()
                )
                ids.append(str(row.doc_id))
                npx.append(oh * ow)
            yield pd.DataFrame({"doc_id": ids, "feat": feats, "n_px": npx})

    return refs.select("doc_id", "media_ref").mapInPandas(per_batch, schema)


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
    schema = "doc_id string, frame_idx int, rms double, zcr double, centroid double"
    frame, hop = 1024, 512  # analysis window and hop (samples)

    def per_batch(it):
        freqs = np.fft.rfftfreq(frame, d=1.0 / media.SAMPLE_RATE)
        for pdf in it:
            ids, fidx, rms, zcr, cent = [], [], [], [], []
            for row in pdf.itertuples():
                wave = media.resolve_audio(row.media_ref).astype(np.float64)
                n_frames = max((len(wave) - frame) // hop + 1, 0)
                if n_frames == 0:
                    continue
                idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
                frames = wave[idx]  # (n_frames, frame) — one strided gather
                e = np.sqrt(np.mean(frames * frames, axis=1))
                z = np.mean(np.abs(np.diff(np.signbit(frames), axis=1)), axis=1)
                mag = np.abs(np.fft.rfft(frames, axis=1))
                denom = mag.sum(axis=1)
                c = np.where(denom > 0, (mag * freqs[None, :]).sum(axis=1) /
                             np.where(denom > 0, denom, 1.0), 0.0)
                ids.extend([str(row.doc_id)] * n_frames)
                fidx.extend(range(n_frames))
                rms.extend(e.tolist())
                zcr.extend(z.tolist())
                cent.extend(c.tolist())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": fidx, "rms": rms, "zcr": zcr, "centroid": cent}
            )

    return refs.select("doc_id", "media_ref").mapInPandas(per_batch, schema)


def frame_sample_features(refs: DataFrame) -> DataFrame:
    """Per clip (media.resolve_frames): its sampled frames' channel means.

    Output: (doc_id, frame_idx int, feat array<double> of 3). One row per
    sampled frame — the exploded layout downstream dedup/similarity ops expect.
    """
    schema = "doc_id string, frame_idx int, feat array<double>"

    def per_batch(it):
        for pdf in it:
            ids, fidx, feats = [], [], []
            for row in pdf.itertuples():
                frames = media.resolve_frames(row.media_ref)
                for i, fr in enumerate(frames):
                    ids.append(str(row.doc_id))
                    fidx.append(i)
                    feats.append(fr.reshape(-1, 3).mean(axis=0).tolist())
            yield pd.DataFrame({"doc_id": ids, "frame_idx": fidx, "feat": feats})

    return refs.select("doc_id", "media_ref").mapInPandas(per_batch, schema)
