"""Media-ref resolution for raster / lidar / image payloads (SURVEY.md S4/S7).

The reference addresses per-crown arrays by filesystem path in the labels CSV
(store_data_structures.py:174-183) and windows rasters with rasterio
(get_polygons.py:588-623). The engine treats these as opaque `media_ref`
strings on spans; payloads are resolved INSIDE Arrow batches by a deterministic
resolver — in the sandbox a seeded synthetic ndarray per tile (FIXTURES.md §5),
in production a real tile store / object-store reader with the same signature.

Real decoders (GeoTIFF/LAZ/JPEG) are not installed in this container; the
`decode_external` hook documents the production path and raises
NotImplementedError — the Spark-side plumbing (schema, partitioning, UDF batch
shape) is fully real and tested.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

HSI_PREFIX = "hsi://tile/"
HSI_CONST_PREFIX = "hsic://tile/"
LAZ_PREFIX = "laz://tile/"


@lru_cache(maxsize=64)
def resolve_raster(media_ref: str, bands: int, height: int, width: int) -> np.ndarray:
    """media_ref → (bands, h, w) float32 cube. CACHED per python worker
    (salted zonal groups re-request the same tile several times per worker;
    the returned array must be treated as immutable — downstream code copies
    via astype before any mutation).

    Synthetic resolvers (production decode plugs in below):
    - hsi://  — seeded random cube so every executor materializes the
      identical tile (value range [0, 10000] like the reference's HSI clip,
      build_dataloaders.py:74-75).
    - hsic:// — constant-per-band cube value = (tile_key*31 + band*7) % 1000;
      band statistics over it have closed forms, which is what lets the
      zonal_raster driver query carry an exact SQL oracle while still running
      the full rasterize/applyInArrow path.
    """
    if media_ref.startswith(HSI_PREFIX):
        tile_id = media_ref[len(HSI_PREFIX):]
        seed = (int(tile_id) * 2654435761 + 12345) & 0xFFFFFFFF
        rng = np.random.default_rng(seed)
        return (rng.random((bands, height, width), dtype=np.float32) * 10000.0).astype(
            np.float32
        )
    if media_ref.startswith(HSI_CONST_PREFIX):
        tile_key = int(media_ref[len(HSI_CONST_PREFIX):])
        vals = (tile_key * 31 + np.arange(bands) * 7) % 1000
        return np.broadcast_to(
            vals.astype(np.float32)[:, None, None], (bands, height, width)
        ).copy()
    return decode_external(media_ref)


def resolve_lidar(
    media_ref: str,
    n_points: int,
    txmin: float,
    tymin: float,
    txmax: float,
    tymax: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """laz:// media_ref → (point_id, x, y, z) arrays for the tile's point
    cloud — the S6 LiDAR twin of resolve_raster (VERDICT.md round 2 missing
    2; reference loads per-crown point clouds from refs,
    store_data_structures.py:44-55).

    Synthetic resolver (production laspy decode plugs into decode_external):
    integer-modular formulas with milli-quantized coordinates, so every value
    is an exact small-integer/1000 double and a SQL oracle can regenerate the
    cloud bit-identically:
      pid = tile_key * 1_000_000 + i
      x   = txmin + ((pid * 104729)   % round((txmax-txmin)*1000)) / 1000
      y   = tymin + ((pid * 15485863) % round((tymax-tymin)*1000)) / 1000
      z   =         ((pid * 7919)     % 35000) / 1000
    """
    if not media_ref.startswith(LAZ_PREFIX):
        return decode_external(media_ref)
    tile_key = int(media_ref[len(LAZ_PREFIX):])
    pid = tile_key * 1_000_000 + np.arange(n_points, dtype=np.int64)
    spanx = int(round((txmax - txmin) * 1000.0))
    spany = int(round((tymax - tymin) * 1000.0))
    if spanx <= 0 or spany <= 0:
        # fail loudly with the tile named instead of a bare integer-mod-zero
        # crash deep inside mapInArrow (ADVICE r3)
        raise ValueError(
            f"degenerate lidar tile {media_ref!r}: extent "
            f"({txmin}, {tymin})..({txmax}, {tymax}) spans < 1 mm on an axis"
        )
    x = txmin + ((pid * 104729) % spanx) / 1000.0
    y = tymin + ((pid * 15485863) % spany) / 1000.0
    z = ((pid * 7919) % 35000) / 1000.0
    return pid, x, y, z


def load_lidar_points(tiles: "DataFrame") -> "DataFrame":  # noqa: F821
    """Tile manifest (tile_id, txmin..tymax, media_ref, n_points) → exploded
    point DataFrame (tile_id, point_id, x, y, z). The decode runs inside
    Arrow batches via mapInArrow, one point batch per tile batch — tiles are
    the parallelism unit, payloads never leave the python worker except as
    slim point rows."""
    from geotreehealth_spark.operators.udfs import map_rows

    def cloud(row):
        return resolve_lidar(
            row["media_ref"], int(row["n_points"]),
            float(row["txmin"]), float(row["tymin"]),
            float(row["txmax"]), float(row["tymax"]),
        )

    return map_rows(
        tiles.select("tile_id", "txmin", "tymin", "txmax", "tymax", "media_ref", "n_points"),
        "tile_id", cloud, "tile_id string, point_id long, x double, y double, z double",
    )


IMG_PREFIX = "img://"
IMG_CONST_PREFIX = "imgc://"
VID_PREFIX = "vid://"
VID_CONST_PREFIX = "vidc://"
# the synthetic clips: CLIP_FRAMES frames of FRAME_SIZE x FRAME_SIZE pixels,
# of which resolve_frames samples every FRAME_STRIDE-th
CLIP_FRAMES = 32
FRAME_STRIDE = 8
FRAME_SIZE = 32


def resolve_image(media_ref: str, height: int, width: int) -> np.ndarray:
    """media_ref → (h, w, 3) uint8 image.

    img:// refs resolve to a deterministic synthetic image (seeded by the ref
    digits) — the sandbox stand-in for a JPEG/PNG decoder (PIL not installed);
    the Spark-side plumbing (binary travel, batch decode inside Arrow,
    resize/feature kernels) is real and tested. Production plugs a real
    decoder into decode_external.

    imgc:// refs resolve to a constant-per-channel image (channel c value =
    (key*31 + c*7) % 256) — the hsic:// trick (VERDICT r3 missing 1): channel
    mean/std through decode→bilinear-resize→aggregate have closed forms (the
    64→16 resize weights are exactly 0.5, so the constant survives bit-exact),
    which is what lets the image_features driver query carry an exact SQL
    oracle while running the full mapInArrow feature path."""
    if media_ref.startswith(IMG_PREFIX):
        seed = (abs(hash_ref(media_ref)) * 2654435761 + 7) & 0xFFFFFFFF
        rng = np.random.default_rng(seed)
        return rng.integers(0, 256, (height, width, 3), dtype=np.uint8)
    if media_ref.startswith(IMG_CONST_PREFIX):
        key = int(media_ref[len(IMG_CONST_PREFIX):])
        vals = (key * 31 + np.arange(3) * 7) % 256
        return np.broadcast_to(
            vals.astype(np.uint8)[None, None, :], (height, width, 3)
        ).copy()
    return decode_external(media_ref)


def resolve_frames(media_ref: str) -> np.ndarray:
    """vid:// media_ref → (k, FRAME_SIZE, FRAME_SIZE, 3) uint8 frames, every
    FRAME_STRIDE-th of a deterministic synthetic clip of CLIP_FRAMES
    (frame-sampling plumbing; real video decode is a decode_external concern).

    vidc:// refs yield constant frames (channel c of source frame j =
    (key*31 + j*11 + c*7) % 256) so per-frame channel means are closed-form —
    the oracle gate for the frame-sampling path (VERDICT r3 missing 1)."""
    idxs = range(0, CLIP_FRAMES, FRAME_STRIDE)
    if media_ref.startswith(VID_CONST_PREFIX):
        key = int(media_ref[len(VID_CONST_PREFIX):])
        frames = []
        for j in idxs:
            vals = (key * 31 + j * 11 + np.arange(3) * 7) % 256
            frames.append(
                np.broadcast_to(
                    vals.astype(np.uint8)[None, None, :], (FRAME_SIZE, FRAME_SIZE, 3)
                ).copy()
            )
        return np.stack(frames)
    if not media_ref.startswith(VID_PREFIX):
        return decode_external(media_ref)
    frames = [
        resolve_image(f"{IMG_PREFIX}{hash_ref(media_ref)}-{i}", FRAME_SIZE, FRAME_SIZE)
        for i in idxs
    ]
    return np.stack(frames)


AUD_PREFIX = "aud://"
AUD_CONST_PREFIX = "audc://"
SAMPLE_RATE = 16000  # synthetic clips' rate (Hz)


def resolve_audio(media_ref: str) -> np.ndarray:
    """aud:// media_ref → one second (SAMPLE_RATE samples) of float32 PCM
    waveform in [-1, 1].

    Deterministic synthetic clip (two seeded sinusoids + seeded noise) — the
    sandbox stand-in for an audio decoder (soundfile/ffmpeg absent);
    production plugs a real decoder into decode_external. The synthetic
    spectrum is ref-dependent so spectral features differ per clip.

    audc:// refs resolve to a constant-amplitude clip, amplitude
    a = float32(((key*13) % 999 + 1) / 1000): windowed RMS is exactly
    sqrt(a*a) and ZCR exactly 0, so the audio_features driver query carries
    an exact SQL oracle (VERDICT r3 missing 1)."""
    if media_ref.startswith(AUD_CONST_PREFIX):
        key = int(media_ref[len(AUD_CONST_PREFIX):])
        a = ((key * 13) % 999 + 1) / 1000.0
        return np.full(SAMPLE_RATE, a, dtype=np.float32)
    if not media_ref.startswith(AUD_PREFIX):
        return decode_external(media_ref)
    seed = (hash_ref(media_ref) * 2654435761 + 97) & 0xFFFFFFFF
    rng = np.random.default_rng(seed)
    f1 = float(rng.integers(80, 2000))
    f2 = float(rng.integers(2000, 7000))
    t = np.arange(SAMPLE_RATE, dtype=np.float64) / SAMPLE_RATE
    wave = (
        0.6 * np.sin(2 * np.pi * f1 * t)
        + 0.25 * np.sin(2 * np.pi * f2 * t)
        + 0.1 * rng.standard_normal(SAMPLE_RATE)
    )
    return np.clip(wave, -1.0, 1.0).astype(np.float32)


def hash_ref(media_ref: str) -> int:
    """Stable non-cryptographic ref hash (python hash() is salted per run)."""
    h = 1469598103934665603
    for b in media_ref.encode("utf-8"):
        h = ((h ^ b) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return h & 0x7FFFFFFFFFFFFFFF


def resize_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Vectorized bilinear resize (align_corners=False convention, matching
    torchvision/PIL semantics) — the engine's stand-in for cv2/PIL resize
    (tree_health_detection preprocessing). (h, w, c) uint8/float → float64."""
    h, w = img.shape[:2]
    a = img.astype(np.float64)
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    top = a[y0][:, x0] * (1 - wx) + a[y0][:, x1] * wx
    bot = a[y1][:, x0] * (1 - wx) + a[y1][:, x1] * wx
    return top * (1 - wy) + bot * wy


def decode_external(media_ref: str) -> np.ndarray:
    """Production decode path (rasterio/laspy/PIL) — not available in sandbox."""
    raise NotImplementedError(
        f"no decoder for media_ref {media_ref!r}: external raster/lidar/image "
        "decoding requires rasterio/laspy which are not installed; plug a real "
        "resolver here in production"
    )


def rasterize_mask(
    ring: np.ndarray,
    txmin: float,
    tymax: float,
    height: int,
    width: int,
    res_x: float,
    res_y: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Pixel-center mask of a polygon within a tile window.

    Returns (row_idx, col_idx, valid_any) for pixels whose centers fall inside
    the polygon — the numpy stand-in for rasterio.mask (store_data_structures.py:15-27).
    Only the polygon's bbox sub-window is scanned.
    """
    from geotreehealth_spark.geo import kernels

    xmin, ymin = ring.min(axis=0)
    xmax, ymax = ring.max(axis=0)
    c0 = max(int(np.floor((xmin - txmin) / res_x)), 0)
    c1 = min(int(np.ceil((xmax - txmin) / res_x)), width)
    r0 = max(int(np.floor((tymax - ymax) / res_y)), 0)
    r1 = min(int(np.ceil((tymax - ymin) / res_y)), height)
    if c1 <= c0 or r1 <= r0:
        return np.empty(0, np.int64), np.empty(0, np.int64), False
    cols = np.arange(c0, c1)
    rows = np.arange(r0, r1)
    px = txmin + (cols + 0.5) * res_x
    py = tymax - (rows + 0.5) * res_y
    # r6 fast path: an axis-aligned rectangle ring needs no ray cast. The
    # ray-cast edge rule for any rectangle traversal reduces to the half-open
    # box test xmin <= px < xmax AND ymin <= py < ymax (two vertical edges
    # cross at x=xmin/x=xmax for py in [ymin, ymax); horizontal edges never
    # straddle), so the fast path is bit-identical to points_in_polygon —
    # including the row-major (row, col) emission order of np.nonzero.
    if len(ring) == 5 and ring[0, 0] == ring[4, 0] and ring[0, 1] == ring[4, 1]:
        pts = {(ring[i, 0], ring[i, 1]) for i in range(4)}
        corners = {(xmin, ymin), (xmin, ymax), (xmax, ymin), (xmax, ymax)}
        axis_aligned = all(
            ring[i, 0] == ring[i + 1, 0] or ring[i, 1] == ring[i + 1, 1]
            for i in range(4)
        )
        if len(pts) == 4 and pts == corners and axis_aligned:
            colmask = (px >= xmin) & (px < xmax)
            rowmask = (py >= ymin) & (py < ymax)
            sel_rows = rows[rowmask]
            sel_cols = cols[colmask]
            rr = np.repeat(sel_rows, len(sel_cols))
            cc = np.tile(sel_cols, len(sel_rows))
            return rr, cc, bool(len(rr))
    gx, gy = np.meshgrid(px, py)
    inside = kernels.points_in_polygon(gx.ravel(), gy.ravel(), ring).reshape(gy.shape)
    rr, cc = np.nonzero(inside)
    return rows[rr], cols[cc], bool(len(rr))
