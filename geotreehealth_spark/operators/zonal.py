"""Raster↔vector zonal extraction (SURVEY.md A6): per-crown HSI band stats.

Reference semantics: per crown, mask the raster with the polygon and take the
band-wise mean of masked pixels (delineation_utils.py:344-354 via rasterio
mask, store_data_structures.py:15-30). The engine generalizes to mean + std
per band.

Physical plan:
1. tile assignment (J12, broadcast range join) pairs each crown with every
   tile window overlapping its bbox;
2. `applyInArrow` grouped by tile_id: the tile cube is resolved ONCE per
   group (the reference's embedding-cache trick, batch_sam.py:420,483 —
   SURVEY.md §4) and every crown polygon in the group is rasterized against
   it — no per-row decode, no Python row loop;
3. crowns straddling tiles produce one partial per tile; partials combine by
   pixel-count-weighted merge in a plain groupBy (sum/count are exact over
   the per-tile partial sums), so a crown's stats are identical to a
   single-pass computation over the stitched raster.

Scale: groups = tiles → partition count follows the tile manifest; dense
tiles are split by AQE only between groups, so the per-tile working set is
bands*h*w floats — sized like the reference's seg batches (config.py:44).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotreehealth_spark import media
from geotreehealth_spark.geo import wkb
from geotreehealth_spark.operators.caching import owned
from geotreehealth_spark.operators.tiling import assign_tiles
from geotreehealth_spark.operators.udfs import arrow_schema, list_column


# COUNT-PROPORTIONAL salting (north_rule skew handling): a cheap
# groupBy(tile_id).count() sketch sizes each tile's salt so every
# applyInArrow group holds ~_ROWS_PER_GROUP crowns. Round 1 used a constant
# salt, which left the dense-strip tiles 5x heavier than the rest and capped
# tile_zonal scaling efficiency at 0.375 (VERDICT.md); proportional salt
# flattens group cost regardless of skew. The tile cube is re-resolved per
# sub-group (cheap — seeded generator / cached tile-store read) and the
# partial-sum merge is unchanged. 4096 (r6, was 256): each group pays a
# fixed Python dispatch cost (measured when the groups still crossed as
# pandas frames), so thousands of ~256-row groups spent more wall time on
# dispatch than on rasterizing (A/B at sf0.1: 8.3 s -> 6.4 s min-of-3);
# ~4k rows is still far below a task's memory
# budget (one tile cube + slim crown rows) and leaves salt splitting active
# for genuinely hot tiles.
_ROWS_PER_GROUP = 4096


def _partials(schema: pa.Schema, bands: int, rows) -> pa.Table:
    """Partial rows (crown_id, n_px, band_sum, band_sumsq) of (crown_id,
    n_px, vals) items, vals a crown's F-ordered (bands, n) pixel values —
    consumed one item at a time, so only one crown's pixels are held."""
    ids, n_px, sums, sumsqs = [], [], [], []
    for crown_id, n, vals in rows:
        ids.append(crown_id)
        n_px.append(n)
        sums.append(vals.sum(axis=1))
        sumsqs.append((vals * vals).sum(axis=1))
    blocks = [list_column(np.array(b).reshape(-1, bands)) for b in (sums, sumsqs)]
    return pa.Table.from_arrays([ids, n_px, *blocks], schema=schema)


def zonal_raster_stats(
    crowns_geo: DataFrame,
    tiles: DataFrame,
    crown_bounds: tuple[str, str, str, str] = ("gxmin", "gymin", "gxmax", "gymax"),
    wkb_col: str | None = "geometry_wkb",
    n_bands: int = 12,
    core_bounds: tuple[str, str, str, str] | None = None,
) -> DataFrame:
    """Per-crown band means/stds over the synthetic HSI tiles.

    tiles must carry (tile_id, txmin, tymin, txmax, tymax, media_ref, bands,
    height, width). Output: crown_id, n_px, band_mean: array<double>,
    band_std: array<double> (population std, like np.std). Crowns are salted
    into applyInArrow groups of ~_ROWS_PER_GROUP per tile.

    core_bounds — optional names of the tile's OWNED (unbuffered) window
    columns. When tiles overlap, a pixel lies in several windows; clipping
    each group's rasterization to the core rect makes coverage exactly-once
    regardless of the manifest's overlap (round 1 documented this hazard
    instead of enforcing it). With abutting tiles (overlap=0) it's a no-op.

    wkb_col=None (r6) — the crown footprint IS its bounds box, exactly like
    pip_join's poly_wkb=None convention, so box callers skip the encode-UDF
    + 93 B/row shuffle + per-row decode entirely: each box selects a
    contiguous pixel block found by one batched searchsorted.
    """
    keep = ["crown_id", *crown_bounds] if wkb_col is None else [
        "crown_id", wkb_col, *crown_bounds
    ]
    assigned = assign_tiles(crowns_geo.select(*keep), tiles, bounds=crown_bounds)
    # r6: the count sketch AND the salted join both read `assigned` — without
    # a persist the broadcast range join (|crowns| x |tiles| predicate evals)
    # and the upstream crown derivation ran twice per call. Kept: the
    # returned plan reads it.
    with owned() as o:
        assigned = o.keep(o.persist(assigned))
    counts = assigned.groupBy("tile_id").agg(F.count("*").alias("__cnt"))
    assigned = (
        assigned.join(F.broadcast(counts), "tile_id")
        .withColumn(
            "__salt",
            F.pmod(
                F.xxhash64("crown_id"),
                F.greatest(F.ceil(F.col("__cnt") / F.lit(_ROWS_PER_GROUP)), F.lit(1)),
            ),
        )
        .drop("__cnt")
    )

    partial_ddl = (
        "crown_id string, n_px long, band_sum array<double>, band_sumsq array<double>"
    )
    partial_schema = arrow_schema(partial_ddl)
    cb = core_bounds

    def per_tile(table: pa.Table) -> pa.Table:
        first = table.slice(0, 1).to_pylist()[0]
        bands, h, w = (int(first[c]) for c in ("bands", "height", "width"))
        txmin, tymin, txmax, tymax = (float(first[c]) for c in ("txmin", "tymin", "txmax", "tymax"))
        res_x = (txmax - txmin) / w
        res_y = (tymax - tymin) / h
        if cb is not None:
            core = tuple(float(first[c]) for c in cb)
        cube = media.resolve_raster(first["media_ref"], bands, h, w).astype(np.float64)

        def box_rows():
            # batch box path (r6): every footprint is an axis-aligned box, so
            # the per-crown selection is a contiguous (row, col) sub-rectangle.
            # The pixel-center arrays below use the SAME per-element float
            # expressions as rasterize_mask's rect fast path, and searchsorted
            # encodes exactly its half-open mask (px >= x0 & px < x1;
            # py >= y0 & py < y1 via the negated increasing axis), so the
            # selected block — and therefore the gathered value array, its
            # order, and the np.sum bits — is identical to the per-row path.
            # Half-pixel margins put the box edges far from the subwindow
            # clipping rasterize_mask applies, so the full-axis search agrees
            # with its bbox-restricted scan. The core rect is the same
            # half-open pixel-center test, so it is two more limits per axis.
            px = txmin + (np.arange(w) + 0.5) * res_x
            qy = -(tymax - (np.arange(h) + 0.5) * res_y)  # increasing
            bx0, by0, bx1, by1 = (np.asarray(table[c], dtype=np.float64) for c in crown_bounds)
            # rasterize_mask normalizes via ring.min/max — mirror it so an
            # inverted box selects the same (possibly empty) block
            bx0, bx1 = np.minimum(bx0, bx1), np.maximum(bx0, bx1)
            by0, by1 = np.minimum(by0, by1), np.maximum(by0, by1)
            c_lo = np.searchsorted(px, bx0, side="left")
            c_hi = np.searchsorted(px, bx1, side="left")
            r_lo = np.searchsorted(qy, -by1, side="right")
            r_hi = np.searchsorted(qy, -by0, side="right")
            if cb is not None:
                c_lo = np.maximum(c_lo, np.searchsorted(px, core[0], side="left"))
                c_hi = np.minimum(c_hi, np.searchsorted(px, core[2], side="left"))
                r_lo = np.maximum(r_lo, np.searchsorted(qy, -core[3], side="right"))
                r_hi = np.minimum(r_hi, np.searchsorted(qy, -core[1], side="right"))
            n_px = np.maximum(r_hi - r_lo, 0) * np.maximum(c_hi - c_lo, 0)
            ids = table["crown_id"].to_pylist()
            for i in np.nonzero(n_px > 0)[0]:
                # F-ordered (bands, n) — the LAYOUT is load-bearing: fancy
                # indexing flat[:, idx] returns an F-contiguous array, and
                # numpy's sum(axis=1) accumulation order depends on strides,
                # so a C-ordered copy changes the low bits of the partials
                block = cube[:, r_lo[i]:r_hi[i], c_lo[i]:c_hi[i]]
                vals = np.ascontiguousarray(block.transpose(1, 2, 0)).reshape(-1, bands).T
                yield ids[i], int(n_px[i]), vals

        def ring_rows():
            flat = cube.reshape(bands, -1)
            for crown_id, buf in zip(table["crown_id"].to_pylist(), table[wkb_col].to_pylist()):
                ring = wkb.decode_polygon(buf)
                rr, cc, any_px = media.rasterize_mask(ring, txmin, tymax, h, w, res_x, res_y)
                if not any_px:
                    continue
                if cb is not None:
                    # exactly-once ownership: keep pixels whose CENTER lies in
                    # the tile's core rect (half-open, the grid convention)
                    px = txmin + (cc + 0.5) * res_x
                    py = tymax - (rr + 0.5) * res_y
                    own = (px >= core[0]) & (px < core[2]) & (py >= core[1]) & (py < core[3])
                    rr, cc = rr[own], cc[own]
                    if len(rr) == 0:
                        continue
                idx = rr * w + cc
                yield crown_id, len(idx), flat[:, idx]

        return _partials(partial_schema, bands, box_rows() if wkb_col is None else ring_rows())

    partials = assigned.groupBy("tile_id", "__salt").applyInArrow(per_tile, partial_ddl)

    merged = partials.groupBy("crown_id").agg(
        F.sum("n_px").alias("n_px"),
        F.array(
            *[F.sum(F.col("band_sum")[i]).alias(f"s{i}") for i in range(n_bands)]
        ).alias("__sums"),
        F.array(
            *[F.sum(F.col("band_sumsq")[i]).alias(f"q{i}") for i in range(n_bands)]
        ).alias("__sumsqs"),
    )
    n = F.col("n_px").cast("double")
    mean = F.transform("__sums", lambda s: s / n)
    std = F.zip_with(
        "__sumsqs",
        "__sums",
        lambda q, s: F.sqrt(F.greatest(q / n - (s / n) * (s / n), F.lit(0.0))),
    )
    return merged.select(
        "crown_id", "n_px", mean.alias("band_mean"), std.alias("band_std")
    )
