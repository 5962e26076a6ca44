"""Point↔polygon and feature-space matching operators (SURVEY.md W1/J7/J8/J11).

Reference semantics:
- W1 containing-else-nearest: per seed point, the LARGEST polygon containing
  it; if none contains it, the polygon whose centroid is nearest
  (get_polygons.py:100-111 `max(containing_polygons, key=area)` and
  get_polygons.py:766-777 centroid-distance fallback).
- J11 feature-space NN match: equal-Tag join, euclidean distance in feature
  space, argmin per left row, kept only under a threshold
  (delineation_utils.py:372-398 align_data, threshold=0.1 default).
- J8 same-tag pair distances: all cross-table pairs sharing a tag with their
  point distance (delineation_utils.py:62-90 calculate_distances, duplicated
  at get_unique_polygons.py:9-37).
- J7 seeded random-k sample: k pseudo-random candidates per probe from the
  full candidate set (get_polygons.py:331-332 np.random.choice over all
  points). The engine replaces RNG state with a deterministic integer hash
  order so the sample is reproducible across engines and retries.

Every pick is ``best_per_key`` over slim columns, whose WindowGroupLimit
collapses each key before the shuffle — no driver loops, no Python in the
hot path.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geotreehealth_spark.operators.aggregates import best_per_key
from geotreehealth_spark.operators.caching import owned
from geotreehealth_spark.operators.knn import knn_join
from geotreehealth_spark.operators.pip_join import distance_expr, pip_join


def containing_else_nearest(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str,
    poly_id: str,
    area_col: str,
) -> DataFrame:
    """W1: (point_id, poly_id, method) — method 'contained'|'nearest'.
    Points carry (x, y); polygons carry bbox columns (xmin, ymin, xmax, ymax),
    which are their footprints, and a center (cx, cy).

    Physical plan: the containing arm is the box PIP join (25 m cells) followed
    by ``best_per_key`` on (area desc, NULLs first; poly_id asc) — shuffle
    O(points), not O(pairs);
    the fallback arm is the exact cell-pruned kNN (k=1) on the RESIDUE only
    (points with no containing polygon), which is tiny for real crown data.
    """
    # r6: points feed the PIP arm AND the residue anti-join; polygons feed
    # the PIP arm AND the kNN fallback's candidate side; `best` feeds the
    # matched arm AND the residue anti-join. All three lineages were
    # recomputed per consumer (crowns' groupBy derivation twice per call) —
    # persist each once; the returned plan reads all three, so they are kept.
    with owned() as o:
        points = o.keep(o.persist(points))
        polygons = o.keep(o.persist(polygons))
        contained = pip_join(points.select(point_id, "x", "y"), polygons, 25.0, None)
        best = o.keep(o.persist(best_per_key(
            contained.select(point_id, poly_id, area_col),
            point_id,
            [F.col(area_col).desc_nulls_first(), poly_id],
        ).select(point_id, poly_id)))
        matched = best.withColumn("method", F.lit("contained"))

        # no broadcast hint: matched ids are probe-proportional (≈ every
        # matched point) — a forced broadcast is a driver OOM at 100-TB probe
        # cardinality; AQE broadcasts when the set is actually small
        # (VERDICT.md r3)
        residue = points.join(best.select(point_id), point_id, "left_anti")
        nearest = knn_join(
            residue.select(point_id, "x", "y"),
            polygons.select(poly_id, "cx", "cy"),
            k=1,
            left_id=point_id,
            right_id=poly_id,
        ).select(point_id, poly_id).withColumn("method", F.lit("nearest"))
        return matched.unionByName(nearest)


def feature_nn_match(
    left: DataFrame,
    right: DataFrame,
    tag_col: str,
    left_id: str,
    right_id: str,
    feature_pairs: list[tuple[str, str]],
) -> DataFrame:
    """J11: per left row, the equal-tag right row nearest in feature space,
    kept only if the euclidean distance is strictly below 1.5 (align_data,
    delineation_utils.py:381-396, whose threshold suits its own feature
    scale).

    Output: (left_id, right_id, fdist). The equi-join on tag keeps the pair
    stream linear in the tag-group sizes; the argmin is ``best_per_key`` on
    (fdist asc, right_id asc). The distance is an explicit left-associated
    expression so the SQL oracle is bit-identical.
    """
    terms: list[Column] = []
    r = right
    for lc, rc in feature_pairs:
        r = r.withColumnRenamed(rc, f"__r_{rc}") if rc == lc else r
    rcols = {rc: (f"__r_{rc}" if rc == lc else rc) for lc, rc in feature_pairs}
    j = left.select(tag_col, left_id, *[lc for lc, _ in feature_pairs]).join(
        r.select(tag_col, right_id, *[rcols[rc] for _, rc in feature_pairs]), tag_col
    )
    for lc, rc in feature_pairs:
        d = F.col(lc) - F.col(rcols[rc])
        terms.append(d * d)
    fdist = F.sqrt(reduce(lambda a, b: a + b, terms))
    best = best_per_key(
        j.select(left_id, right_id, fdist.alias("fdist")), left_id, ["fdist", right_id]
    )
    return best.where(F.col("fdist") < 1.5)


def same_tag_pair_distances(points: DataFrame, tag_col: str, id_col: str) -> DataFrame:
    """J8: (tag, <id_col>_a, <id_col>_b, distance) for every unordered pair
    of points (x, y) sharing a tag, each once (id_a < id_b).

    A self-join on the tag: output is Σ |tag group|² / 2 — the reference's
    double iterrows loop (delineation_utils.py:66-82) collapsed into one
    shuffle.
    """
    a = points.select(
        tag_col, F.col(id_col).alias("__lid"), F.col("x").alias("__lx"), F.col("y").alias("__ly")
    )
    b = points.select(
        tag_col, F.col(id_col).alias("__rid"), F.col("x").alias("__rx"), F.col("y").alias("__ry")
    )
    j = a.join(b, tag_col).where(F.col("__lid") < F.col("__rid"))
    return j.select(
        tag_col,
        F.col("__lid").alias(f"{id_col}_a"),
        F.col("__rid").alias(f"{id_col}_b"),
        distance_expr(F.col("__lx"), F.col("__ly"), F.col("__rx"), F.col("__ry")).alias(
            "distance"
        ),
    )


RANDOM_K_HASH_P = 1000003
# the threshold plan sizes T so ~_OVERSAMPLE·k candidates survive per probe,
# and escalates T by this factor (floored at 2) for shortfall probes
_OVERSAMPLE = 8


def random_k_sample(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id: str,
    right_id: str,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """J7: k deterministic pseudo-random candidates per probe.

    Mirrors np.random.choice over the full candidate set
    (get_polygons.py:331-332) with RNG replaced by a fixed integer hash
    h = (a·lk + b·rk) mod p, so the draw is the k smallest h per probe
    (ties by right_id) — reproducible and SQL-expressible. A NULL key on
    either side has no h and is never drawn.

    Plan: candidates with h < T survive into the shuffle + per-probe sort,
    T sized so ~_OVERSAMPLE·k survive per probe (h is near-uniform mod p).
    Probes with < k survivors (hash clumping) escalate T x _OVERSAMPLE and
    re-scan only those probes; the last escalation is T = p, a window rank
    over the enumerated product, so the result is EXACTLY the global top-k
    draw regardless of distribution — same completeness-proof-or-escalate
    shape as the kNN rings. r6 (VERDICT r5 item 5): the h < T scan is not an
    enumerated |L|·|R| product — the affine hash decomposes into per-probe
    admissible rv-intervals, the right side is bucketed by
    rv = (40503·rk) mod p once, and each round is an equi-join on the bucket
    id touching only ~_OVERSAMPLE·k right rows per probe, with the original
    h < T predicate re-applied after the join (the candidate set is provably
    the enumerated plan's). Scan, shuffle and sort volumes are all
    O(_OVERSAMPLE·k·|L|) per round.
    """
    lk = F.col(left_key)
    rk = F.col(right_key)
    h = F.pmod(lk * F.lit(48271) + rk * F.lit(40503), F.lit(RANDOM_K_HASH_P))

    # the rounds re-read both inputs: persist them once (r6, ADVICE r5). The
    # result reads only its per-round draw checkpoints, so the input caches
    # are released on return.
    with owned() as o:
        left = o.persist(left)
        right = o.persist(right)
        n_right = right.count()
        frac = min(1.0, (_OVERSAMPLE * k) / max(n_right, 1))
        threshold = max(1, int(math.ceil(RANDOM_K_HASH_P * frac)))

        # Bucketed admissible-window join (r6, VERDICT r5 item 5): the affine
        # draw hash decomposes as h = (a + rv) mod p with a = (48271·lk) mod p
        # and rv = (40503·rk) mod p (valid while 48271·lk / 40503·rk stay inside
        # int64, i.e. |key| < ~1.9e14 — beyond that the ORIGINAL h expression
        # already wraps and its documented affine semantics are void anyway).
        # h < T therefore admits, per probe, at most TWO rv-intervals:
        # [0, T−a) and [p−a, p−a+T) ∩ [0, p). The right side is bucketed by rv
        # ONCE; each probe explodes to only the ~T·n_buckets/p + 2 buckets its
        # intervals touch, and the join is a plain equi-join on the bucket id —
        # the enumerated volume drops from |L|·|R| to ~|L|·_OVERSAMPLE·k rows.
        # SAFETY: bucket coverage only needs to be a SUPERSET of the admissible
        # rows — the loop re-applies the ORIGINAL `h < T` predicate after the
        # join, so the candidate set (and the draw) is provably identical to the
        # enumerated plan's. The final T = p round keeps the crossJoin (every
        # bucket would be admissible).
        P = RANDOM_K_HASH_P
        n_buckets = int(min(max(16, (2 * n_right) // max(k, 1)), 1_048_576))
        bucket_w = -(-P // n_buckets)  # ceil(P / n_buckets)
        right_b = right.withColumn(
            "__rb",
            F.floor(F.pmod(rk * F.lit(40503), F.lit(P)) / F.lit(bucket_w)).cast("long"),
        )

        def bucketed_pairs(probes: DataFrame, t: int) -> DataFrame:
            a = F.pmod(lk * F.lit(48271), F.lit(P))
            hi1 = F.lit(t) - a  # exclusive end of interval 1 (start 0); may be <= 0
            lo2 = F.lit(P) - a  # interval 2 start; empty when a == 0
            hi2 = F.least(F.lit(P), lo2 + F.lit(t))
            empty = F.array().cast("array<bigint>")
            seq1 = F.when(
                hi1 > 0,
                F.sequence(
                    F.lit(0).cast("long"),
                    F.floor((hi1 - 1) / F.lit(bucket_w)).cast("long"),
                ),
            )
            seq2 = F.when(
                hi2 > lo2,
                F.sequence(
                    F.floor(lo2 / F.lit(bucket_w)).cast("long"),
                    F.floor((hi2 - 1) / F.lit(bucket_w)).cast("long"),
                ),
            )
            buckets = F.array_distinct(
                F.flatten(F.array(F.coalesce(seq1, empty), F.coalesce(seq2, empty)))
            )
            # NULL-keyed probes yield a NULL bucket array → explode drops them;
            # NULL right keys get a NULL __rb and never join (and a NULL h
            # fails `h < T` in every round, the final crossJoin's included)
            return probes.withColumn("__rb", F.explode(buckets)).join(right_b, "__rb")

        # the escalation loop is fully eager (checkpoint per round), so the
        # cached inputs serve its rounds and are released on return. The
        # per-round `cand` checkpoints ARE the result's storage: kept.
        remaining = left
        parts: list[DataFrame] = []
        while True:
            final = threshold >= RANDOM_K_HASH_P
            src = remaining.crossJoin(right) if final else bucketed_pairs(remaining, threshold)
            cand = o.keep(o.checkpoint(
                src.withColumn("__h", h)
                .where(F.col("__h") < F.lit(threshold))
                .select(left_id, right_id, "__h")
            ))
            # >= k survivors under T ⇒ the k-th smallest (h, right_id) is
            # under T too ⇒ this probe's global top-k is fully inside `cand`
            satisfied = (
                cand.groupBy(left_id).count().where(F.col("count") >= k)
                .select(left_id)
            )
            done = cand if final else cand.join(satisfied, left_id, "left_semi")
            parts.append(
                best_per_key(done, left_id, ["__h", right_id], k, "draw_rank")
                .select(left_id, right_id, "draw_rank")
            )
            if final:
                break
            remaining = remaining.join(satisfied, left_id, "left_anti")
            if remaining.isEmpty():
                break
            # escalation factor floored at 2: with _OVERSAMPLE=1 a literal
            # `*= _OVERSAMPLE` never grows T and the loop spins forever
            # re-scanning the same shortfall probes at the same threshold
            threshold *= max(2, _OVERSAMPLE)
        return reduce(lambda a, b: a.unionByName(b), parts)
