"""Distributed greedy NMS with exact sequential-parity (SURVEY.md W3/W4).

Reference semantics (get_polygons.py:785-819): sort polygons by score desc,
walk the list; a polygon is suppressed iff a *kept* higher-priority polygon
overlaps it with inter/max(areaA, areaB) > threshold. Weighted variant
(batch_sam.py:692-731) uses a computed priority score and IoU > 0.5.

Greedy NMS is order-sequential and global — the classic hazard for
distribution (SURVEY.md §7 hazard 1). The engine reformulates it exactly:

1. CONFLICT GRAPH (distributed): cell-partitioned self-join (overlap.py)
   yields all pairs with overlap-criterion > threshold; each edge is oriented
   winner→loser by the global total order (score desc, id asc). Pair
   discovery is exact: overlapping polygons share a covering cell.
2. FIXPOINT (driver loop over tiny frontier): sequential greedy is equivalent
   to: "a node is suppressed iff it has a surviving in-neighbor". Iterate:
   nodes with no live incoming edges are decided-kept; their out-neighbors are
   decided-suppressed; edges out of suppressed nodes die. Each round decides
   at least every current source node, so rounds ≈ longest suppression chain
   (short in practice: crowns overlap a handful of neighbors). All per-round
   work is joins/aggregations on the EDGE list, which is ~O(overlapping
   pairs) — tiny relative to the input — so the driver loop is cheap and the
   heavy lifting (pair discovery) happened once, fully distributed.

This reproduces the sequential result EXACTLY (proved by parity tests vs the
reference-order numpy oracle in tests/test_spatial_parity.py), unlike per-tile
NMS which drifts at tile borders.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from geotreehealth_spark.operators.caching import Owner, owned
from geotreehealth_spark.operators.overlap import (
    BOX_COLS,
    box_inter_cols,
    box_iou_cols,
    box_overlap_ratio_cols,
    overlap_selfjoin,
)
from geotreehealth_spark.operators.udfs import overlap_ratio_udf

# overlap criterion of greedy NMS (inter / max(areaA, areaB)) and of
# weighted NMS (IoU) above which two polygons conflict; the oracles read the
# same values
GREEDY_THRESHOLD = 0.3
WEIGHTED_THRESHOLD = 0.5
# edge lists up to this many (winner, loser) pairs run the fixpoint on the
# driver; larger ones take the distributed join-based fixpoint
_DRIVER_FIXPOINT_MAX = 2_000_000
# round cap of the distributed fixpoint (the longest suppression chain)
_MAX_ROUNDS = 64


def _oriented(df: DataFrame, id_a, id_b, score_a, score_b) -> DataFrame:
    """(winner, loser) of each pair under the global greedy order:
    score desc, then id asc."""
    a_wins = (score_a > score_b) | ((score_a == score_b) & (id_a < id_b))
    return df.select(
        F.when(a_wins, id_a).otherwise(id_b).alias("winner"),
        F.when(a_wins, id_b).otherwise(id_a).alias("loser"),
    )


def greedy_nms(
    polys: DataFrame, id_col: str, score_col: str, wkb_col: str | None = None
) -> DataFrame:
    """polys + `selected` boolean, exactly matching sequential greedy NMS.

    The conflict-edge DISCOVERY is always fully distributed (the quadratic
    part): directed edges (winner, loser) under the global greedy order, for
    every pair whose overlap ratio inter / max(areaA, areaB) exceeds
    GREEDY_THRESHOLD (get_polygons.py:806-816), found by a 10 m cell
    self-join on the (xmin, ymin, xmax, ymax) bboxes (a cell ~ a crown
    diameter keeps the candidate count near the true bbox-overlap count).
    With wkb_col=None boxes are exact geometry; otherwise the polygon kernel
    refines the bbox candidates whose box intersection is non-empty (previous
    rounds pruned on a convex-area >= bbox/2 claim that thin diagonal slivers
    violate — ADVICE.md round 1). ``_suppress`` then runs the fixpoint over
    the edge list.

    Plan note: the cell self-join runs on SLIM columns (id, score, bbox) so
    the quadratic candidate stream never carries WKB blobs; polygon payloads
    are joined back only for the bbox-surviving pairs (orders of magnitude
    fewer) before the exact-geometry refine.
    """
    with owned() as o:
        # r6: the polys lineage is read at least twice per call (conflict-edge
        # discovery + the final selected join) — persist it once instead of
        # re-deriving the upstream joins/aggregations per use
        polys = o.keep(o.persist(polys))
        slim = polys.select(id_col, score_col, *BOX_COLS)
        pairs = overlap_selfjoin(slim, id_col=id_col, cell_size=10.0)
        if wkb_col is not None:
            pairs = pairs.where(box_inter_cols() > 0.0)
            geoms = polys.select(id_col, wkb_col)
            pairs = pairs.join(
                geoms.select(
                    F.col(id_col).alias(f"a_{id_col}"), F.col(wkb_col).alias(f"a_{wkb_col}")
                ),
                f"a_{id_col}",
            ).join(
                geoms.select(
                    F.col(id_col).alias(f"b_{id_col}"), F.col(wkb_col).alias(f"b_{wkb_col}")
                ),
                f"b_{id_col}",
            )
            measure = overlap_ratio_udf(F.col(f"a_{wkb_col}"), F.col(f"b_{wkb_col}"))
        else:
            measure = box_overlap_ratio_cols()
        # no .distinct(): overlap_selfjoin's reporting-cell rule already emits
        # each unordered pair exactly once
        edges = o.checkpoint(_oriented(
            pairs.where(measure > GREEDY_THRESHOLD),
            F.col(f"a_{id_col}"), F.col(f"b_{id_col}"),
            F.col(f"a_{score_col}"), F.col(f"b_{score_col}"),
        ))
        return _suppress(o, polys, id_col, edges)


def _suppress(o: Owner, polys: DataFrame, id_col: str, edges: DataFrame) -> DataFrame:
    """polys + `selected`, given their (winner, loser) conflict edges oriented
    by the greedy order — checkpointed by ``o`` — where a node is suppressed
    iff a surviving winner points at it.

    The fixpoint is O(edges x chain-depth): when the edge list fits on the
    driver (<= _DRIVER_FIXPOINT_MAX int64 pairs) it runs as a vectorized
    numpy loop there — hundreds of rounds at milliseconds each instead of
    seconds per distributed round of tiny joins. Beyond the cap the
    distributed join-based fixpoint takes over (identical semantics).
    """
    if edges.count() <= _DRIVER_FIXPOINT_MAX:
        suppressed_ids = _fixpoint_local(edges.toArrow())
        o.release(edges)
        if len(suppressed_ids) == 0:
            return polys.withColumn("selected", F.lit(True))
        # the ids go back as one Arrow table, typed like polys' id column
        # (not hardcoded string, ADVICE.md) — the row-tuple path pickles
        # ~60k ids one by one
        id_type = polys.schema[id_col].dataType
        supp_df = polys.sparkSession.createDataFrame(
            pa.table({id_col: suppressed_ids}), StructType([StructField(id_col, id_type)])
        ).withColumn("__supp", F.lit(True))
        return (
            polys.join(F.broadcast(supp_df), id_col, "left")
            .withColumn("selected", F.col("__supp").isNull())
            .drop("__supp")
        )

    # localCheckpoint each round: the fixpoint otherwise builds an
    # exponentially-deep logical plan (classic iterative-DataFrame trap) and
    # the driver burns all its time in Catalyst re-analysis. Each round's
    # superseded checkpoints are released once the next ones are built.
    suppressed_acc: DataFrame | None = None
    for _ in range(_MAX_ROUNDS):
        if edges.limit(1).count() == 0:
            break
        # kept-for-sure: winners that are nobody's loser in the live graph
        losers = edges.select(F.col("loser").alias("id")).distinct()
        kept_now = (
            edges.select(F.col("winner").alias("id"))
            .distinct()
            .join(losers, "id", "left_anti")
        )
        # their direct losers are suppressed for good
        newly_suppressed = o.checkpoint(
            edges.join(kept_now.withColumnRenamed("id", "winner"), "winner")
            .select(F.col("loser").alias("id"))
            .distinct()
        )
        if newly_suppressed.limit(1).count() == 0:
            break  # no sources left → remaining graph is empty (DAG is acyclic)
        if suppressed_acc is None:
            suppressed_acc = newly_suppressed
        else:
            merged = o.checkpoint(suppressed_acc.unionByName(newly_suppressed).distinct())
            o.release(suppressed_acc)
            o.release(newly_suppressed)
            suppressed_acc = merged
        # drop edges involving suppressed nodes (they can no longer suppress),
        # and edges whose loser is already suppressed (decided)
        live = o.checkpoint(
            edges.join(suppressed_acc.withColumnRenamed("id", "winner"), "winner", "left_anti")
            .join(suppressed_acc.withColumnRenamed("id", "loser"), "loser", "left_anti")
        )
        o.release(edges)
        edges = live
    if edges.limit(1).count() != 0:
        # never return a partial result: a suppression chain deeper than
        # _MAX_ROUNDS means undecided nodes would silently default to
        # selected=True (ADVICE.md round 1) — fail loudly instead
        raise RuntimeError(
            f"greedy NMS distributed fixpoint did not converge in {_MAX_ROUNDS} "
            "rounds: a suppression chain is deeper than nms._MAX_ROUNDS"
        )
    if suppressed_acc is None:
        return polys.withColumn("selected", F.lit(True))
    return polys.join(
        o.keep(suppressed_acc).withColumnRenamed("id", id_col).withColumn("__supp", F.lit(True)),
        id_col,
        "left",
    ).withColumn("selected", F.col("__supp").isNull()).drop("__supp")


def weighted_nms(polys: DataFrame, id_col: str, priority_col: str) -> DataFrame:
    """W4 weighted NMS (batch_sam.py:692-731): score ``wscore`` = priority -
    Σ overlap, with IoU of the (xmin, ymin, xmax, ymax) boxes as the overlap
    (batch_sam.py:699).

    Reference semantics: per polygon, priority (crwnpst + DBH via identity
    funcs, batch_sam.py:579-580) minus the sum of pairwise overlaps that
    exceed the threshold; polygons are then processed greedily in score order,
    keeping those whose overlap with every kept polygon is <= threshold.

    Determinism note (documented deviation, SURVEY.md §7 style): the overlap
    penalty sums doubles over a variable-cardinality neighbor set, whose IEEE
    result is summation-order-dependent — a hazard for both distributed
    reproducibility and the SQL oracle. The engine therefore quantizes each
    pairwise overlap to integer micro-units (round(m * 1e6)) and sums int64,
    which is order-independent and exact in both engines; the final score is
    priority - penalty_micro / 1e6.
    """
    with owned() as o:
        # read by the pair join AND the scored join (r6)
        polys = o.keep(o.persist(polys))
        slim = polys.select(id_col, *BOX_COLS)
        pairs = overlap_selfjoin(slim, id_col=id_col, cell_size=10.0)
        # r6: ONE quadratic pair-discovery pass. The threshold-surviving pairs
        # feed BOTH the penalty aggregation and (with wscore attached per
        # endpoint by two slim id-joins) the greedy conflict edges.
        contrib = o.persist(
            pairs.withColumn("__m", box_iou_cols())
            .where(F.col("__m") > WEIGHTED_THRESHOLD)
            .select(
                F.col(f"a_{id_col}").alias("__ida"),
                F.col(f"b_{id_col}").alias("__idb"),
                "__m",
            )
        )
        both = contrib.select(F.col("__ida").alias(id_col), F.col("__m")).unionByName(
            contrib.select(F.col("__idb").alias(id_col), F.col("__m"))
        )
        penalty = both.groupBy(id_col).agg(
            F.sum(F.round(F.col("__m") * 1e6).cast("long")).alias("__pen_micro")
        )
        # r6: read 3x (both edge-orientation sides + the final selected join
        # inside _suppress) — persist so the penalty agg runs once
        scored = o.keep(o.persist(
            polys.join(penalty, id_col, "left")
            .withColumn(
                "wscore",
                F.col(priority_col)
                - F.coalesce(F.col("__pen_micro"), F.lit(0)).cast("double") / 1e6,
            )
            .drop("__pen_micro")
        ))
        sc = scored.select(F.col(id_col), F.col("wscore"))
        oriented = contrib.join(
            sc.select(F.col(id_col).alias("__ida"), F.col("wscore").alias("__sa")), "__ida"
        ).join(
            sc.select(F.col(id_col).alias("__idb"), F.col("wscore").alias("__sb")), "__idb"
        )
        edges = o.checkpoint(_oriented(
            oriented, F.col("__ida"), F.col("__idb"), F.col("__sa"), F.col("__sb")
        ))
        o.release(contrib)
        return _suppress(o, scored, id_col, edges)


# ---------------------------------------------------------------------------
# DuckDB oracle builders: greedy NMS as an UNROLLED fixpoint
# ---------------------------------------------------------------------------
# Greedy NMS is order-sequential, so plain SQL can't express it directly; but
# the engine's fixpoint reformulation ("round k suppresses the losers of all
# current source nodes") terminates in rounds = longest suppression chain.
# The oracle UNROLLS that loop to ORACLE_ROUNDS chained materialized CTEs —
# exact as long as that depth >= the true chain length (verified empirically
# at the gate's sf; a too-small depth shows up as a value mismatch, never a
# silent false-pass on the suppressed side, because missing rounds only
# UNDER-suppress the oracle while the engine raises on its own
# non-convergence). The oracles read boxes from xmin, ymin, xmax, ymax.
ORACLE_ROUNDS = 40

# strict bbox overlap of the pair (a, b), as the oracles' join condition
_BOX_OVERLAP_SQL = (
    "a.xmin < b.xmax AND a.xmax > b.xmin\n     AND a.ymin < b.ymax AND a.ymax > b.ymin"
)


def _measure_duck(criterion: str) -> str:
    """Box measure SQL mirroring the Spark expression tree term-for-term."""
    iw = "GREATEST(LEAST(a.xmax, b.xmax) - GREATEST(a.xmin, b.xmin), 0e0)"
    ih = "GREATEST(LEAST(a.ymax, b.ymax) - GREATEST(a.ymin, b.ymin), 0e0)"
    area_a = "(a.xmax - a.xmin) * (a.ymax - a.ymin)"
    area_b = "(b.xmax - b.xmin) * (b.ymax - b.ymin)"
    if criterion == "iou":
        # box_iou_cols clamps iw/ih AFTER the subtraction products
        iw_r = "LEAST(a.xmax, b.xmax) - GREATEST(a.xmin, b.xmin)"
        ih_r = "LEAST(a.ymax, b.ymax) - GREATEST(a.ymin, b.ymin)"
        inter = f"GREATEST({iw_r}, 0e0) * GREATEST({ih_r}, 0e0)"
        return f"({inter}) / ({area_a} + {area_b} - ({inter}))"
    return f"({iw} * {ih}) / GREATEST({area_a}, {area_b})"


def _fixpoint_rounds_sql() -> str:
    """Chained CTE rounds over a ``conflicts(winner, loser)`` CTE; ends with
    ``supp(id)`` = all suppressed nodes. Caller appends the final SELECT."""
    parts = ["e0 AS MATERIALIZED (SELECT winner, loser FROM conflicts)"]
    for k in range(1, ORACLE_ROUNDS + 1):
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT DISTINCT loser AS id FROM e{k-1} "
            f"WHERE winner NOT IN (SELECT loser FROM e{k-1}))"
        )
        parts.append(
            f"e{k} AS MATERIALIZED (SELECT winner, loser FROM e{k-1} "
            f"WHERE winner NOT IN (SELECT id FROM s{k}) "
            f"AND loser NOT IN (SELECT id FROM s{k}))"
        )
    union = "\nUNION\n".join(f"SELECT id FROM s{k}" for k in range(1, ORACLE_ROUNDS + 1))
    parts.append(f"supp AS ({union})")
    return ",\n".join(parts)


def greedy_nms_box_oracle_sql(polys_sql: str) -> str:
    """DuckDB twin of greedy_nms over BOX geometry: (crown_id, selected)
    from crown boxes ranked by ``score``."""
    measure = _measure_duck("overlap_ratio")
    a_wins = "(a.score > b.score OR (a.score = b.score AND a.crown_id < b.crown_id))"
    return f"""
WITH polys AS MATERIALIZED ({polys_sql}),
conflicts AS MATERIALIZED (
    SELECT CASE WHEN {a_wins} THEN a.crown_id ELSE b.crown_id END AS winner,
           CASE WHEN {a_wins} THEN b.crown_id ELSE a.crown_id END AS loser
    FROM polys a JOIN polys b
      ON a.crown_id < b.crown_id
     AND {_BOX_OVERLAP_SQL}
    WHERE {measure} > {GREEDY_THRESHOLD!r}
),
{_fixpoint_rounds_sql()}
SELECT crown_id, crown_id NOT IN (SELECT id FROM supp) AS selected FROM polys
"""


def weighted_nms_box_oracle_sql(polys_sql: str) -> str:
    """DuckDB twin of weighted_nms over crown boxes with a ``priority``:
    quantized penalty, then the fixpoint."""
    measure = _measure_duck("iou")
    score = "priority - CAST(COALESCE(pen.pen_micro, 0) AS DOUBLE) / 1e6"
    a_wins = "(a.wscore > b.wscore OR (a.wscore = b.wscore AND a.crown_id < b.crown_id))"
    return f"""
WITH rawpolys AS MATERIALIZED ({polys_sql}),
ovl AS MATERIALIZED (
    SELECT a.crown_id AS id_a, b.crown_id AS id_b, {measure} AS m
    FROM rawpolys a JOIN rawpolys b
      ON a.crown_id < b.crown_id
     AND {_BOX_OVERLAP_SQL}
    WHERE {measure} > {WEIGHTED_THRESHOLD!r}
),
both_sides AS (
    SELECT id_a AS crown_id, m FROM ovl UNION ALL SELECT id_b AS crown_id, m FROM ovl
),
pen AS (
    SELECT crown_id, SUM(CAST(ROUND(m * 1e6) AS BIGINT)) AS pen_micro
    FROM both_sides GROUP BY crown_id
),
polys AS MATERIALIZED (
    SELECT p.*, {score} AS wscore
    FROM rawpolys p LEFT JOIN pen USING (crown_id)
),
conflicts AS MATERIALIZED (
    SELECT CASE WHEN {a_wins} THEN a.crown_id ELSE b.crown_id END AS winner,
           CASE WHEN {a_wins} THEN b.crown_id ELSE a.crown_id END AS loser
    FROM polys a JOIN polys b
      ON a.crown_id < b.crown_id
     AND {_BOX_OVERLAP_SQL}
    WHERE {measure} > {WEIGHTED_THRESHOLD!r}
),
{_fixpoint_rounds_sql()}
SELECT crown_id, wscore, crown_id NOT IN (SELECT id FROM supp) AS selected FROM polys
"""


def _fixpoint_local(edges: pa.Table) -> pa.Array:
    """Vectorized greedy fixpoint on the driver: same rule as the distributed
    loop (a node is suppressed iff a surviving winner points at it), numpy
    per-round. Returns the suppressed ids."""
    # hash-based dictionary coding, O(n) — np.unique would SORT the
    # ~2x|edges| id strings (~0.4 s at 264k edges); the integer coding
    # differs but the suppressed id SET is identical
    enc = pc.dictionary_encode(
        pa.concat_arrays([edges[c].combine_chunks() for c in ("winner", "loser")])
    )
    codes = enc.indices.to_numpy()
    all_ids = enc.dictionary
    m = edges.num_rows
    w = codes[:m]
    l = codes[m:]
    n = len(all_ids)
    alive = np.ones(m, dtype=bool)
    suppressed = np.zeros(n, dtype=bool)
    while alive.any():
        is_loser = np.zeros(n, dtype=bool)
        is_loser[l[alive]] = True
        # edges whose winner is a source (kept for sure) suppress their loser
        decide = alive & ~is_loser[w]
        new_supp = l[decide]
        if len(new_supp) == 0:
            break  # acyclic graph: cannot happen while edges remain
        suppressed[new_supp] = True
        alive &= ~suppressed[w] & ~suppressed[l]
    return all_ids.filter(pa.array(suppressed))
