"""Mask → polygon extraction (SURVEY.md §2.7 raster→vector; VERDICT.md gap 1).

Reference semantics: rasterio.features.shapes over a binary mask yields one
polygon per 4-connected component of equal-valued pixels, with pixel-edge
boundaries (get_polygons.py:75-111 mask_to_polygons; full_image_sam.py:117-161;
batch_sam.py:496-548). Golden test: a 50x50 square mask → a Polygon of area
2500 containing the seed (reference tests/get_polygons_tests.py:13-33).

This module reproduces that with numpy only:
- label_components: 4-connectivity connected-component labeling (iterative
  min-neighbor propagation — vectorized full-array ops, no scipy).
- component_rings: exterior ring per component by boundary-edge walking: the
  component's boundary edges (pixel sides facing non-component cells) form
  closed loops; walking them with a left-hand rule yields the exterior ring in
  pixel coordinates, converted to world coordinates via the window transform.

Pixels are unit squares: pixel (r, c) covers world square [txmin + c,
txmin + c + 1) x (tymax - r - 1, tymax - r] — matching the rasterize_mask
convention at resolution 1,
so polygonize(rasterize(poly)) == pixel-snapped poly.
"""

from __future__ import annotations

import numpy as np


def label_components(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """4-connected component labels for a boolean mask.

    Two-pass run-based labeling (the classic scanline algorithm, scipy-free):
    horizontal runs are found vectorized via row diffs, then a union-find
    merges runs of consecutive rows whose column ranges intersect. Cost is
    O(pixels) for the diff plus O(runs α(runs)) for the merge — runs, not
    pixels, drive the python-side work, so blob-like SAM masks label in
    microseconds. Labels are dense 0..n-1 in first-pixel scan order.
    """
    h, w = mask.shape
    d = np.diff(mask.astype(np.int8), axis=1, prepend=0, append=0)
    run_r, run_c0 = np.nonzero(d == 1)
    _, run_c1 = np.nonzero(d == -1)  # same count/order as starts, per row
    n_runs = len(run_r)
    if n_runs == 0:
        return np.full((h, w), -1, dtype=np.int64), 0

    parent = np.arange(n_runs, dtype=np.int64)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    # rows are sorted ascending (np.nonzero row-major); merge row r with r-1
    row_starts = np.searchsorted(run_r, np.arange(h + 1))
    for r in range(1, h):
        a0, a1 = row_starts[r - 1], row_starts[r]
        b0, b1 = row_starts[r], row_starts[r + 1]
        i, j = a0, b0
        while i < a1 and j < b1:  # two-pointer over sorted runs
            if run_c0[i] < run_c1[j] and run_c1[i] > run_c0[j]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
            if run_c1[i] <= run_c1[j]:
                i += 1
            else:
                j += 1
    roots = np.array([find(i) for i in range(n_runs)], dtype=np.int64)
    uniq, dense_ids = np.unique(roots, return_inverse=True)
    labels = np.full((h, w), -1, dtype=np.int64)
    for i in range(n_runs):
        labels[run_r[i], run_c0[i]:run_c1[i]] = dense_ids[i]
    return labels, len(uniq)


def _component_ring(comp: np.ndarray) -> np.ndarray:
    """Exterior ring (pixel-corner coordinates, CCW in row/col space) of one
    component mask via boundary-edge walking.

    Boundary edges are directed so the component lies on the LEFT; following
    each corner to the next edge reproduces rasterio.features.shapes' exterior
    ring geometry (holes are ignored — the reference pipeline takes areas and
    containment of crown blobs, which have no holes after SAM's morphology).
    Coordinates are (col, row) pixel corners.
    """
    h, w = comp.shape
    pad = np.zeros((h + 2, w + 2), dtype=bool)
    pad[1:-1, 1:-1] = comp
    # directed boundary edges, component on the left of travel direction:
    # top edge of a pixel is walked left->right when the cell above is empty.
    # A pinch corner (two diagonal component pixels + two diagonal empty
    # pixels meeting at one corner) has TWO outgoing edges, so the map holds
    # a list per start corner and the walk disambiguates by turn direction.
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}
    rs, cs = np.nonzero(comp)
    for r, c in zip(rs.tolist(), cs.tolist()):
        if not pad[r, c + 1]:  # above empty → edge (c, r) -> (c+1, r)
            edges.setdefault((c, r), []).append((c + 1, r))
        if not pad[r + 2, c + 1]:  # below empty → edge (c+1, r+1) -> (c, r+1)
            edges.setdefault((c + 1, r + 1), []).append((c, r + 1))
        if not pad[r + 1, c]:  # left empty → edge (c, r+1) -> (c, r)
            edges.setdefault((c, r + 1), []).append((c, r))
        if not pad[r + 1, c + 2]:  # right empty → edge (c+1, r) -> (c+1, r+1)
            edges.setdefault((c + 1, r), []).append((c + 1, r + 1))

    def next_corner(prev: tuple[int, int], cur: tuple[int, int]) -> tuple[int, int]:
        """Outgoing edge from `cur`, given arrival from `prev`. At a pinch
        corner pick the sharpest LEFT turn relative to the incoming direction
        (standard contour-tracing disambiguation with the region on the left):
        that keeps the exterior walk on the exterior instead of diving into a
        diagonally-touching hole loop (ADVICE.md round 2, pinch-mask crash).
        In (col, row) coordinates with row increasing downward, "left turn"
        = most negative cross(d_in, d_out)."""
        outs = edges[cur]
        if len(outs) == 1:
            return outs[0]
        din = (cur[0] - prev[0], cur[1] - prev[1])
        return min(
            outs,
            key=lambda nxt: din[0] * (nxt[1] - cur[1]) - din[1] * (nxt[0] - cur[0]),
        )

    # top-left-most corner is never a pinch (its up-left diagonal pixel would
    # have to be in the component, contradicting minimality), so the exterior
    # walk starts unambiguously on that corner's single outgoing top edge.
    start = min(edges.keys(), key=lambda p: (p[1], p[0]))
    ring = [start]
    prev, cur = start, edges[start][0]
    guard = 4 * sum(len(v) for v in edges.values()) + 8
    while cur != start and guard > 0:
        ring.append(cur)
        prev, cur = cur, next_corner(prev, cur)
        guard -= 1
    if guard == 0:
        raise ValueError("unclosed boundary loop (corrupt mask?)")
    ring.append(start)
    # drop collinear intermediate corners (straight runs) to compact the ring
    pts = np.asarray(ring, dtype=np.float64)
    keep = [0]
    for i in range(1, len(pts) - 1):
        a, b, c = pts[keep[-1]], pts[i], pts[i + 1]
        if (b[0] - a[0]) * (c[1] - b[1]) != (b[1] - a[1]) * (c[0] - b[0]):
            keep.append(i)
    pts = np.vstack([pts[keep], pts[:1]])
    return pts


def polygonize(
    mask: np.ndarray,
    txmin: float = 0.0,
    tymax: float | None = None,
) -> list[dict]:
    """Binary mask → one polygon per 4-connected component.

    Returns a list of dicts: {ring: (k,2) world-coord array, area: float,
    n_px: int, seed_rc: (r, c) of the component's first pixel}. World frame
    of unit pixels: x = txmin + col, y = tymax - row (tymax defaults to h so
    a bare mask maps to y-up math coordinates like the reference golden).
    """
    mask = np.asarray(mask, dtype=bool)
    h, w = mask.shape
    if tymax is None:
        tymax = float(h)
    labels, n = label_components(mask)
    out = []
    for i in range(n):
        comp = labels == i
        ring_px = _component_ring(comp)
        ring = np.empty_like(ring_px)
        ring[:, 0] = txmin + ring_px[:, 0]
        ring[:, 1] = tymax - ring_px[:, 1]
        n_px = int(comp.sum())
        rs, cs = np.nonzero(comp)
        out.append(
            {
                "ring": ring,
                "area": float(n_px),
                "n_px": n_px,
                "seed_rc": (int(rs[0]), int(cs[0])),
            }
        )
    return out
