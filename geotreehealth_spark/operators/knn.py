"""Exact distributed kNN via cell-ring candidate pruning (SURVEY.md J5/J6).

Reference semantics:
- J5: per target point, euclidean distances to candidates, argsort, take k
  (get_polygons.py:326-329; neighbors=6 per config.py:49).
- J6: cardinal-quadrant variant — nearest candidate per NW/NE/SW/SE bucket,
  dropping candidates closer than ``remove_too_close`` = 3 m
  (batch_sam.py:427-460, 195-207; config.py:34).

One core, ``_ring_knn``, serves both: the top-k per (probe, group), where the
group is a constant for J5 and the candidate's quadrant for J6.
``knn_join`` and ``quadrant_knn_join`` are thin wrappers.

Cells are keyed to the origin of the candidate DATA BOUNDS (the cellexprs
origin grid: no clamp, every candidate in 0 <= g <= g_max), and the cell size
comes from the candidate density inside the bounds box. A negative or
UTM-sized frame therefore gets the same grid, fan-out and ring-1 proofs as
the [0, 1000) site frame instead of falling into the crossJoin fallback.

Physical plan:
1. ring round r: probes explode to their (2r+1)^2 ring cells (clipped to the
   grid) → equi-join with the candidates on the int64 cell key → distance →
   ONE row per probe holding each group's sorted <= k winners and the
   completeness proof as a boolean column. Only this tagged table is
   persisted: the proven winners and the residue are both projections of
   it.
2. proof (``_dir_reach``): a group is complete when its k-th winner is
   strictly closer than the probe's search reach in every direction it could
   be displaced from; a direction the data bounds already cover is +inf.
3. the ring-1 prologue — proven winners plus the residue — is ONE
   localCheckpoint job, and the residue count reads its blocks. A
   non-empty residue escalates with 4x rings through the same step, or goes
   straight to an exact crossJoin when residue x candidates is cheap.

Why this scales: the join is a plain shuffle equi-join on cell keys — AQE
skew-splits hot cells — and the proofs make the result EXACT without ever
materializing the cross product.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geotreehealth_spark.geo import cellexprs
from geotreehealth_spark.operators.aggregates import best_per_key
from geotreehealth_spark.operators.caching import owned
from geotreehealth_spark.operators.pip_join import distance_expr

# ring rounds (rings 1, 4, 16, 64) before the residue takes the exact
# crossJoin; with bounds-keyed cells the prologue proves ~every probe
_MAX_ROUNDS = 4
# residue x candidates at or under this many distance rows goes straight to
# the exact crossJoin (measured r2: one straggler otherwise burns O(log
# extent) barrier rounds; r4 raised it from 50M after the quadrant residue,
# 137 x 457k = 62M, just missed the switch and paid 2 extra rounds)
_CROSS_ROWS = 500_000_000
_QUADS = ("NE", "SE", "NW", "SW")
# J6 drops candidates closer than this: the reference's remove_too_close
# (config.py:34)
MIN_DIST = 3.0
_INF = float("inf")


def _data_bounds(
    right: DataFrame, right_id: str, rx: str, ry: str
) -> tuple[float, float, float, float, int] | None:
    """(xmin, xmax, ymin, ymax, count) of the candidate side — one agg job
    shared by the grid, the density-based cell sizing and the proofs. The
    same job counts ``right_id`` so a NULL id raises instead of producing
    NULL-id winners. Returns None when the candidate side is empty (callers
    short-circuit to an empty result)."""
    b = right.agg(
        F.min(rx).alias("x0"), F.max(rx).alias("x1"),
        F.min(ry).alias("y0"), F.max(ry).alias("y1"),
        F.count("*").alias("n"), F.count(right_id).alias("n_id"),
    ).first()
    if b.n != b.n_id:
        raise ValueError(f"NULL values in right id column {right_id!r}")
    if b.x0 is None:
        return None
    return float(b.x0), float(b.x1), float(b.y0), float(b.y1), int(b.n)


def _cell_size(bounds: tuple[float, float, float, float], n: int, k: int, factor: float) -> float:
    """``factor`` x the expected k-th neighbour radius under uniform density
    inside the bounds box, clamped to [w/4096, w/2] of its wider side (a
    degenerate box — one point, one line — counts as at least w^2/4096)."""
    bx0, bx1, by0, by1 = bounds
    w = max(bx1 - bx0, by1 - by0)
    if w <= 0:
        return 1.0
    density = n / max((bx1 - bx0) * (by1 - by0), w * w / 4096)
    return max(min(factor * math.sqrt(k / density), w / 2), w / 4096)


def _dir_reach(
    lx: str,
    ly: str,
    cell_size: float,
    ring: int,
    origin: tuple[float, float],
    g_max: tuple[int, int],
) -> dict[str, Column]:
    """Per-probe, per-direction guaranteed search reach of the ring-r box.

    On the origin grid the cells searched around a probe in cell (gx, gy)
    span offsets [(gx-r)*s, (gx+r+1)*s) on x (likewise y), so with
    u = x - ox the reach is ``u - (gx-r)*s`` toward -x and
    ``(gx+r+1)*s - u`` toward +x: at least r*s, up to (r+1)*s. gx/gy and u
    are cellexprs' own expressions, so the proof and the join key share one
    definition. A direction whose searched cells reach the grid edge
    (gx-r <= 0, gx+r >= gx_max) has nothing unsearched beyond it — every
    candidate sits in 0 <= gx <= gx_max — and contributes +inf; that arm is
    integer arithmetic. Finite reaches are rounded down by a slack of
    2^-44 x (|u| + |v| + (r+2)s), which bounds the float error between a
    candidate's computed cell and distance and the computed reach (a few
    ULPs of the offsets), so ``dist < reach`` never admits an unsearched
    candidate at a cell edge.

    Proofs only decide which probes escalate, never a probe's winners.
    """
    s = F.lit(float(cell_size))
    x, y = F.col(lx), F.col(ly)
    gx, gy = cellexprs._gxy(x, y, cell_size, origin)
    u, v = cellexprs.offsets(x, y, origin)
    slack = (F.abs(u) + F.abs(v) + F.lit((ring + 2) * float(cell_size))) * F.lit(2.0**-44)

    def arm(covered: Column, reach: Column) -> Column:
        return F.when(covered, F.lit(_INF)).otherwise(reach - slack)

    return {
        "xm": arm(gx - ring <= 0, u - (gx - ring) * s),
        "xp": arm(gx + ring >= g_max[0], (gx + ring + 1) * s - u),
        "ym": arm(gy - ring <= 0, v - (gy - ring) * s),
        "yp": arm(gy + ring >= g_max[1], (gy + ring + 1) * s - v),
    }


def _quadrant(lx: str, ly: str, rx: str, ry: str) -> Column:
    east, north = F.col(rx) >= F.col(lx), F.col(ry) >= F.col(ly)
    return (
        F.when(east & north, F.lit("NE"))
        .when(east, F.lit("SE"))
        .when(north, F.lit("NW"))
        .otherwise(F.lit("SW"))
    )


def _ring_knn(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str,
    right_id: str,
    quadrants: bool,
) -> DataFrame:
    """Exact top-k `right` rows (cx, cy) per (left row (x, y), group) — J5
    when ``quadrants`` is False (one group; tag column ``knn_rank``), J6 when
    True (one group per quadrant, candidates closer than MIN_DIST dropped;
    tag column ``quadrant``). Both sides are projected to their id and
    coordinates first; output: (left_id, x, y, right_id, cx, cy, dist, tag).
    The cell size is 1.25x (J5) or 6x (J6) the uniform-density k-th
    neighbour radius (_cell_size); the public joins' docstrings say why."""
    lx, ly = "x", "y"
    rx, ry = "cx", "cy"
    tag, tag_type = ("quadrant", "string") if quadrants else ("knn_rank", "int")
    groups = _QUADS if quadrants else (None,)
    out_cols = [left_id, lx, ly, right_id, rx, ry, "dist", tag]
    dist = distance_expr(F.col(lx), F.col(ly), F.col(rx), F.col(ry))
    # the candidate explode/join/rank pipeline moves ONLY ids, coordinates
    # and dist; the probe side is read once, so it needs no cache
    left = left.select(left_id, lx, ly)

    with owned() as o:
        # ONE scan of the candidate side feeds the bounds/count agg, the
        # cell-keyed join input and the rare crossJoin (profiling at sf0.1:
        # each re-scan of a synthesized right side cost ~2.5 s)
        right = o.persist(right.select(right_id, rx, ry))
        bounds = _data_bounds(right, right_id, rx, ry)
        if bounds is None:
            # empty candidate side: zero rows with the full output schema
            return left.crossJoin(right.limit(0)).select(
                *left.columns, *right.columns, dist.alias("dist"),
                F.lit(None).cast(tag_type).alias(tag),
            )
        bx0, bx1, by0, by1, n_right = bounds
        s = _cell_size(bounds[:4], n_right, k, 6.0 if quadrants else 1.25)
        g_max = cellexprs.grid_max(bounds[:4], s)
        origin = (bx0, by0)
        max_ring = max(g_max) + 1  # a ring this wide covers the whole grid
        right_cells = right.withColumn(
            "__cell", cellexprs.point_cell(F.col(rx), F.col(ry), s, origin)
        )

        def reaches(ring: int) -> list[Column]:
            # per-group proof radius, in `groups` order
            eff = _dir_reach(lx, ly, s, ring, origin, g_max)
            if not quadrants:
                return [F.least(*eff.values())]
            # a quadrant whose defining half-plane the data bounds rule out
            # is provably empty — e.g. no candidate is strictly west
            # (cx < px) of a probe with px <= bx0. West/south are strict
            # half-planes, east/north inclusive, mirroring _quadrant. This
            # proves the outward quadrants of a probe at the site corner,
            # which are empty but unbounded along one axis.
            x, y, inf = F.col(lx), F.col(ly), F.lit(_INF)
            no_w, no_e = x <= F.lit(bx0), x > F.lit(bx1)
            no_s, no_n = y <= F.lit(by0), y > F.lit(by1)
            arms = {
                "NE": (no_e | no_n, "xp", "yp"), "SE": (no_e | no_s, "xp", "ym"),
                "NW": (no_w | no_n, "xm", "yp"), "SW": (no_w | no_s, "xm", "ym"),
            }
            return [
                F.when(arms[q][0], inf).otherwise(F.least(eff[arms[q][1]], eff[arms[q][2]]))
                for q in _QUADS
            ]

        def step(rem: DataFrame, ring: int, final: bool) -> DataFrame:
            """One round over probes ``rem`` (id, x, y): one row per probe
            with each group's sorted winner array ``__w<i>`` and the proof
            ``__ok``. ``final`` takes the exact crossJoin, which proves every
            probe."""
            if final:
                cands = rem.crossJoin(right)
            else:
                cands = cellexprs.with_ring_cells(rem, lx, ly, s, ring, origin, g_max).join(
                    right_cells, "__cell"
                )
            keys = [left_id, "__g"] if quadrants else [left_id]
            cands = cands.select(
                left_id, lx, ly, right_id, rx, ry, dist.alias("dist"),
                *([_quadrant(lx, ly, rx, ry).alias("__g")] if quadrants else []),
            )
            if quadrants:
                cands = cands.where(F.col("dist") >= MIN_DIST)
            if k == 1:
                # two-phase exact argmin instead of a window: min(dist) is a
                # fixed-width HashAggregate with map-side partial combine, so
                # the shuffle moves ~one row per (probe, group), not every
                # candidate (a min-over-struct on all candidates falls back
                # to SortAggregate, measured as slow as the window). The
                # equality join back broadcasts the tiny minima. No persist
                # between the phases (r6): re-running the cell join from the
                # cached right side beats caching the larger candidate set.
                m = cands.groupBy(*keys).agg(F.min("dist").alias("__md"))
                top = cands.join(m, keys).where(F.col("dist") == F.col("__md"))
            else:
                top = best_per_key(cands, keys, ["dist", right_id], k)
            # One row per probe: a winner-less copy of every probe rides the
            # same aggregation exchange, so probes without candidates get
            # their row without a join back onto the probes. The sorted
            # (dist, right_id, ...) structs ARE the rank window's
            # (dist asc, right_id asc) order, ties included.
            top = top.select(left_id, lx, ly, right_id, rx, ry, "dist", *keys[1:])
            win = F.struct("dist", right_id, rx, ry)
            found = F.col("dist").isNotNull()
            tagged = top.unionByName(rem, allowMissingColumns=True)
            tagged = tagged.groupBy(left_id, lx, ly).agg(
                *[
                    F.slice(
                        F.sort_array(
                            F.collect_list(
                                F.when(found if g is None else F.col("__g") == g, win)
                            )
                        ),
                        1, k,
                    ).alias(f"__w{i}")
                    for i, g in enumerate(groups)
                ]
            )
            # a NULL id never proves: it lands in the residue, which raises
            ok = F.col(left_id).isNotNull()
            if not final:
                for i, reach in enumerate(reaches(ring)):
                    kth = F.try_element_at(F.col(f"__w{i}"), F.lit(k))["dist"]
                    ok = ok & ((reach == F.lit(_INF)) | F.coalesce(kth < reach, F.lit(False)))
            return tagged.withColumn("__ok", ok)

        def winners(tagged: DataFrame) -> DataFrame:
            # proven rows -> one out_cols row per winner
            def entry(g: str | None):
                return lambda e, j: F.struct(
                    *[e[c].alias(c) for c in ("dist", right_id, rx, ry)],
                    (j + 1 if g is None else F.lit(g)).alias(tag),
                )

            arrs = [F.transform(F.col(f"__w{i}"), entry(g)) for i, g in enumerate(groups)]
            return tagged.where(F.col("__ok")).select(
                left_id, lx, ly, F.explode(F.concat(*arrs) if quadrants else arrs[0]).alias("__e")
            ).select(left_id, lx, ly, "__e.*").select(*out_cols)

        def residue_rows(tagged: DataFrame) -> DataFrame:
            # unproven probes in the output schema: NULL winner columns
            return tagged.where(~F.col("__ok")).select(
                left_id, lx, ly,
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in right.schema.fields],
                F.lit(None).cast("double").alias("dist"),
                F.lit(None).cast(tag_type).alias(tag),
                F.lit(True).alias("__residue"),
            )

        # --- prologue: ONE ring-1 round and ONE job -----------------------
        # The proven winners and the residue are both projections of the
        # persisted tagged table, checkpointed together: the
        # checkpoint is the common case's only job barrier and the result's
        # flat lineage, and the residue count reads its blocks. The result
        # reads the checkpoint, so it is kept (caching.py's ownership rule).
        tagged = o.persist(step(left, 1, final=False))
        chk = o.keep(o.checkpoint(
            winners(tagged)
            .withColumn("__residue", F.lit(False))
            .unionByName(residue_rows(tagged))
        ))
        remaining = chk.where(F.col("__residue")).select(left_id, lx, ly)
        n_rem, n_id = remaining.agg(F.count("*"), F.count(left_id)).first()
        if n_rem != n_id:
            raise ValueError(f"NULL values in left id column {left_id!r}")
        results = [chk.where(~F.col("__residue")).drop("__residue")]

        # --- rare path: 4x rings through the same step, then the crossJoin --
        ring, rounds = 4, 1
        while n_rem:
            if ring >= max_ring or rounds >= _MAX_ROUNDS or n_rem * n_right <= _CROSS_ROWS:
                # task-count clamp: a 4-probe residue otherwise inherits the
                # probe side's partitioning and fans the crossJoin into ~96
                # near-empty tasks; ~2M distance rows per task is < 1 s each
                parts = max(1, min(n_rem * n_right // 2_000_000 + 1, 64))
                results.append(winners(step(remaining.coalesce(parts), ring, True)))
                break
            tagged = o.persist(step(remaining, ring, final=False))
            results.append(winners(tagged))
            remaining = tagged.where(~F.col("__ok")).select(left_id, lx, ly)
            n_rem = remaining.count()
            ring, rounds = ring * 4, rounds + 1
        if len(results) == 1:
            return results[0]
        # checkpoint ONLY the rare-path pieces: results[0] already reads the
        # prologue's blocks, and the rest read caches released on return
        extra = results[1]
        for r in results[2:]:
            extra = extra.unionByName(r)
        return results[0].unionByName(o.keep(o.checkpoint(extra)))


def knn_join(left: DataFrame, right: DataFrame, k: int, left_id: str, right_id: str) -> DataFrame:
    """Exact k nearest `right` rows (cx, cy) per `left` row (x, y); ties
    broken by right_id.

    Output: (left_id, x, y, right_id, cx, cy, dist, knn_rank 1..k); other
    input columns are not carried, so no row is joined back by id.
    CONTRACT: ids must be non-null — a NULL id raises ValueError naming the
    column. Right rows that share an id are separate candidates, each
    reported with its own coordinates. Left ids must be unique: winners are
    ranked per left id, so probe rows that share one compete for a single
    top-k.
    The cell size is ~1.25x the expected k-th neighbour radius under uniform
    density in the candidate bounds — tight enough to cut the candidate
    fan-out, with escalation handling sparse regions exactly.
    """
    return _ring_knn(left, right, k, left_id, right_id, quadrants=False)


def quadrant_knn_join(left: DataFrame, right: DataFrame, left_id: str, right_id: str) -> DataFrame:
    """J6: nearest `right` (cx, cy) per cardinal quadrant around each `left`
    point (x, y).

    Quadrant of candidate = (dx >= 0, dy >= 0) → NE/NW/SE/SW. Documented
    deviation from the reference's find_cardinal_direction
    (batch_sam.py:195-207), which maps (x2>x1, y2>y1) to 'SE' (its y axis is
    image-down) and keeps dist strictly > remove_too_close: the engine uses
    math-up axes (NE = +x,+y) and an inclusive dist >= MIN_DIST boundary; the
    SQL oracle encodes the engine's convention. Candidates with
    dist < MIN_DIST are dropped first (batch_sam.py:430-432, config.py:34).
    Output: (left_id, x, y, right_id, cx, cy, dist, quadrant) — one row per
    non-empty quadrant, <= 4 per left point. CONTRACT: as knn_join.

    The cell size is 6x the mean candidate spacing. The binding constraint
    is the per-quadrant proof, not fan-out: with the exact-reach and
    empty-quadrant arms the ring-1 proof holds at 6x with ~0.56x the fan-out
    of 8x, while at 5x the residue returns (interleaved min-of-3 A/B at
    sf0.1: 6x 6.23 s vs 8x 7.39 vs 5x 7.29, identical rows).
    """
    return _ring_knn(left, right, 1, left_id, right_id, quadrants=True)
