"""Minimal vectorized WKB codec (little-endian Point / Polygon / MultiPolygon).

The reference keeps geometries as shapely objects in GeoDataFrames
(delineation_pipeline.py:64, get_polygons.py:165); our engine carries them as
WKB bytes in BinaryType columns (SURVEY.md §1.2) and decodes to numpy arrays
only inside Arrow batches.

Supported geometry types: Point (1), Polygon (3, single exterior ring),
MultiPolygon (6, of single-ring parts) — enough for the reference's crown
pipeline including its Multi→single explosion (delineation_utils.py:93-104,
258-272); interior rings never occur in its pipeline.
"""

from __future__ import annotations

import struct

import numpy as np

_LE = 1  # little-endian byte-order marker
_POINT = 1
_LINESTRING = 2
_POLYGON = 3
_MULTIPOINT = 4
_MULTILINESTRING = 5
_MULTIPOLYGON = 6
_COLLECTION = 7

_PT_HEADER = struct.pack("<bI", _LE, _POINT)


def geometry_type(buf: bytes) -> int:
    """WKB geometry type code (1=Point, 3=Polygon, 6=MultiPolygon)."""
    byte_order, gtype = struct.unpack_from("<bI", buf, 0)
    if byte_order != _LE:
        raise ValueError("big-endian WKB not supported")
    return gtype


def encode_point(x: float, y: float) -> bytes:
    return _PT_HEADER + struct.pack("<dd", x, y)


def encode_points(xs: np.ndarray, ys: np.ndarray) -> list[bytes]:
    """Vectorized Point encoding: one contiguous buffer, sliced per row."""
    n = len(xs)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0] = _LE
    buf[:, 1:5] = np.frombuffer(struct.pack("<I", _POINT), dtype=np.uint8)
    buf[:, 5:13] = np.asarray(xs, dtype="<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = np.asarray(ys, dtype="<f8").view(np.uint8).reshape(n, 8)
    raw = buf.tobytes()
    return [raw[i * 21 : (i + 1) * 21] for i in range(n)]


def decode_points(wkbs) -> tuple[np.ndarray, np.ndarray]:
    """Decode a sequence of WKB Points → (x, y) float64 arrays.

    Fast path: every buffer is the fixed 21-byte LE Point layout, so the whole
    column decodes as one reshaped view.
    """
    joined = b"".join(wkbs)
    n = len(wkbs)
    if len(joined) != 21 * n:
        raise ValueError("non-uniform WKB point buffers")
    arr = np.frombuffer(joined, dtype=np.uint8).reshape(n, 21)
    if not (arr[:, 0] == _LE).all():
        raise ValueError("big-endian WKB not supported")
    xs = arr[:, 5:13].copy().view("<f8").ravel()
    ys = arr[:, 13:21].copy().view("<f8").ravel()
    return xs, ys


def encode_polygon(coords: np.ndarray) -> bytes:
    """Encode an exterior ring (k,2) float array → WKB Polygon.

    The ring is closed automatically if the first vertex isn't repeated.
    """
    coords = np.asarray(coords, dtype=np.float64)
    if not np.array_equal(coords[0], coords[-1]):
        coords = np.vstack([coords, coords[:1]])
    header = struct.pack("<bIII", _LE, _POLYGON, 1, len(coords))
    return header + coords.astype("<f8").tobytes()


def decode_polygon(wkb: bytes) -> np.ndarray:
    """Decode WKB Polygon → exterior ring (k,2) float64 (closing vertex kept)."""
    byte_order, gtype = struct.unpack_from("<bI", wkb, 0)
    if byte_order != _LE:
        raise ValueError("big-endian WKB not supported")
    if gtype != _POLYGON:
        raise ValueError(f"expected Polygon(3), got {gtype}")
    (nrings,) = struct.unpack_from("<I", wkb, 5)
    if nrings < 1:
        return np.empty((0, 2))
    (npts,) = struct.unpack_from("<I", wkb, 9)
    ring = np.frombuffer(wkb, dtype="<f8", count=npts * 2, offset=13)
    return ring.reshape(npts, 2).astype(np.float64)


def encode_multipolygon(rings: list[np.ndarray]) -> bytes:
    """List of exterior rings → WKB MultiPolygon of single-ring parts."""
    header = struct.pack("<bII", _LE, _MULTIPOLYGON, len(rings))
    return header + b"".join(encode_polygon(r) for r in rings)


def _geom_end(buf: bytes, off: int) -> tuple[int, int]:
    """(gtype, end offset) of the LE WKB geometry starting at `off`."""
    byte_order, gt = struct.unpack_from("<bI", buf, off)
    if byte_order != _LE:
        raise ValueError("big-endian WKB not supported")
    if gt == _POINT:
        return gt, off + 21
    if gt == _LINESTRING:
        (npts,) = struct.unpack_from("<I", buf, off + 5)
        return gt, off + 9 + npts * 16
    if gt == _POLYGON:
        (nrings,) = struct.unpack_from("<I", buf, off + 5)
        p = off + 9
        for _ in range(nrings):
            (npts,) = struct.unpack_from("<I", buf, p)
            p += 4 + npts * 16
        return gt, p
    if gt in (_MULTIPOINT, _MULTILINESTRING, _MULTIPOLYGON, _COLLECTION):
        (nparts,) = struct.unpack_from("<I", buf, off + 5)
        p = off + 9
        for _ in range(nparts):
            _, p = _geom_end(buf, p)
        return gt, p
    raise ValueError(f"unsupported WKB geometry type {gt}")


def split_multipolygon(buf: bytes) -> list[bytes]:
    """WKB Multi/Collection → list of its areal parts' Polygon WKB buffers.

    A plain Polygon passes through as a 1-element list (the reference's
    explode, delineation_utils.py:93-104, is identity on simple polygons).
    GeometryCollections (type 7) are split recursively, KEEPING only Polygon /
    MultiPolygon members and dropping Points/LineStrings — the reference's
    collection strip (delineation_utils.py:258-272 keeps geom.geoms of type
    Polygon when a buffer/intersection degenerates to a collection).
    Interior rings are rejected (never occur in the crown pipeline).
    """
    gtype = geometry_type(buf)
    if gtype == _POLYGON:
        (nrings,) = struct.unpack_from("<I", buf, 5)
        if nrings != 1:
            raise ValueError("interior rings not supported")
        return [bytes(buf)]
    if gtype not in (_MULTIPOLYGON, _COLLECTION):
        raise ValueError(f"cannot split geometry type {gtype}")
    (nparts,) = struct.unpack_from("<I", buf, 5)
    parts: list[bytes] = []
    off = 9
    for _ in range(nparts):
        gt, end = _geom_end(buf, off)
        if gt == _POLYGON:
            (nrings,) = struct.unpack_from("<I", buf, off + 5)
            if nrings != 1:
                raise ValueError("interior rings not supported")
            parts.append(bytes(buf[off:end]))
        elif gt in (_MULTIPOLYGON, _COLLECTION):
            parts.extend(split_multipolygon(buf[off:end]))
        elif gt not in (_POINT, _LINESTRING, _MULTIPOINT, _MULTILINESTRING):
            raise ValueError(f"unsupported collection member type {gt}")
        # Points / LineStrings (and their Multis) are dropped: non-areal
        off = end
    return parts


def encode_collection(members: list[bytes]) -> bytes:
    """List of WKB geometry buffers → WKB GeometryCollection (test helper /
    sink symmetry for split_multipolygon)."""
    header = struct.pack("<bII", _LE, _COLLECTION, len(members))
    return header + b"".join(bytes(m) for m in members)


def encode_linestring(coords: np.ndarray) -> bytes:
    """(k,2) float array → WKB LineString (collection fixtures)."""
    coords = np.asarray(coords, dtype=np.float64)
    header = struct.pack("<bII", _LE, _LINESTRING, len(coords))
    return header + coords.astype("<f8").tobytes()
