"""Embedding similarity search — exact top-k, OR-amplified RP-LSH, bucketed ANN.

All JVM-side (round 2 removed the numpy rp-sign pandas UDF): dot products run
as F.aggregate folds over zipped arrays, hyperplanes are literal arrays baked
into the plan, and every query ships an exact DuckDB oracle built from the
same plane constants (the fold's left-to-right summation order matches the
oracle's explicit left-associated `+` chain, so the IEEE results are
bit-identical).

- cosine_topk: exact top-k cosine neighbors for a probe set; probes broadcast,
  norms precomputed per side, and ONLY slim (probe, id, sim) rows enter the
  ranking shuffle — the big side's vectors never shuffle.
- rp_lsh_pairs: near-dup pairs via L OR-amplified hyperplane tables (round 1
  had a single AND-bucket, flagged as recall-by-luck in VERDICT.md): candidate
  iff the pair collides in ANY table, then exact cosine >= min_sim refine.
- ann_lsh_topk: the 100-TB ANN composition VERDICT.md asked for — LSH bucket
  candidate generation + exact cosine re-rank, k per probe.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geotreehealth_spark.operators.aggregates import best_per_key
from geotreehealth_spark.text.dedup import _self_pairs

# The configuration the operators and their DuckDB oracles share: both draw
# the same seeded planes and centroids from it, so the gate is exact.
DIM = 64  # embedding width
LSH_TABLES = 8  # OR-amplified hyperplane tables
LSH_PLANES = 6  # sign bits per table
LSH_MIN_SIM = 0.25  # rp_lsh_pairs' cosine refine; random 64-d vectors top out near 0.5
IVF_LISTS = 16
IVF_NPROBE = 4
ANN_K = 10  # neighbors per probe of the top-k and ANN queries
EMB_SQL = "SELECT vec_id, embedding FROM embeddings"  # the oracles' input
PROBE_PRED = "vec_id % 50 = 0"  # the ANN oracles' probe set


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_expr(a: Column, b: Column) -> Column:
    ad = F.transform(a, lambda v: v.cast("double"))
    bd = F.transform(b, lambda v: v.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


# --- SQL-text expression builders (optimization round r6) -------------------
# The fold-based helpers above are the right RUNTIME shape, but building the
# literal plane/centroid arrays through F.lit costs one py4j round trip per
# element: profiled at sf0.1, DataFrame CONSTRUCTION alone cost 5-7 s per LSH
# query (ann_lsh_topk build=5.2 s vs count=1.5 s) — driver-side, before any
# Spark job ran. The builders below emit the SAME fold expression as ONE SQL
# string (a single parse call):
#   aggregate(zip_with(transform(v, x -> CAST(x AS DOUBLE)), array(c0, ...),
#             (x, y) -> x * y), 0.0e0, (acc, t) -> acc + t)
# — identical tree, identical IEEE evaluation order, ~zero build cost.
# (A flat `v[0]*c0 + v[1]*c1 + ...` expansion was tried first and REJECTED:
# 48 x 64 flat terms made whole-stage codegen emit multi-MB generated
# sources — 4.4 MiB task binaries, 12-37 s per pass vs 0.4 s for the fold —
# so the interpreted-HOF runtime shape is deliberately kept.)


def _fmt_d(x: float) -> str:
    """Render a double so Spark SQL parses it back to the same IEEE value
    (repr round-trips; an exponent suffix forces DOUBLE, not DECIMAL)."""
    s = repr(float(x))
    return s if ("e" in s or "E" in s) else s + "e0"


def _dot_lits_sql(coeffs) -> str:
    """SQL text of _dot(transform(embedding, cast-to-double), array(<coeffs>))
    — the same fold tree _dot builds, parsed in one call."""
    lits = ", ".join(_fmt_d(c) for c in coeffs)
    return (
        "aggregate(zip_with(transform(`embedding`, x -> CAST(x AS DOUBLE)), "
        f"array({lits}), (x, y) -> x * y), 0.0e0, (acc, v) -> acc + v)"
    )


def cosine_topk(embeddings: DataFrame, probes: DataFrame) -> DataFrame:
    """Exact top-ANN_K cosine neighbors per probe (excluding self).

    Plan: norms precomputed on each side BEFORE the broadcast nested-loop join
    (once per row, not once per pair); the rank window sees only
    (probe_id, id, sim) — at |emb| x |probes| candidate volume the shuffle
    carries ~24 bytes/row instead of the two 64-float vectors."""
    e = embeddings.select(
        F.col("vec_id"),
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("__v"),
    ).withColumn("__n", _norm(F.col("__v")))
    p = (
        probes.select(
            F.col("vec_id").alias("probe_id"),
            F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("__pv"),
        )
        .withColumn("__pn", _norm(F.col("__pv")))
    )
    joined = e.join(F.broadcast(p), F.col("vec_id") != F.col("probe_id"))
    sim = _dot(F.col("__pv"), F.col("__v")) / (F.col("__pn") * F.col("__n"))
    scored = joined.select("probe_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    return best_per_key(scored, "probe_id", [F.desc("sim"), "neighbor_id"], ANN_K, "rank")


# ---------------------------------------------------------------------------
# random-hyperplane LSH (OR-amplified)
# ---------------------------------------------------------------------------

def rp_planes(dim: int, n_tables: int, n_planes: int) -> np.ndarray:
    """Deterministic hyperplanes, shape (n_tables, n_planes, dim), seed 7."""
    rng = np.random.default_rng(7)
    return rng.standard_normal((n_tables, n_planes, dim))


def _bucket_sql(table_planes: np.ndarray) -> str:
    """Sign-bit bucket of one table: Σ 2^j · [dot(embedding, plane_j) >= 0]
    (left-associated dot chains; a NULL dot takes the CASE's ELSE 0)."""
    bits = " + ".join(
        f"(CASE WHEN ({_dot_lits_sql(table_planes[j])}) >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(table_planes.shape[0])
    )
    return f"CAST({bits} AS BIGINT)"


def _bucketed(df: DataFrame, planes: np.ndarray, id_alias: str) -> DataFrame:
    """(id_alias, table_idx, bucket) — one row per (row, table). The bucket
    array is ONE parsed SQL expression: 48 literal dot products built as text
    cost one py4j round trip instead of ~3000 (r6 profile: the fold builders
    spent 5+ s of pure driver time per LSH query constructing this plan)."""
    arr = "array(" + ", ".join(
        _bucket_sql(planes[t]) for t in range(planes.shape[0])
    ) + ")"
    return df.select(
        F.col("vec_id").alias(id_alias),
        F.posexplode(F.expr(arr)).alias("table_idx", "bucket"),
    )


def rp_lsh_pairs(embeddings: DataFrame) -> DataFrame:
    """Near-dup pairs: same bucket in ANY of the LSH_TABLES tables
    (OR-amplification), then exact cosine >= LSH_MIN_SIM. Vectors join back
    only for the deduped candidate set, so the bucket join shuffles ids, not
    arrays.

    The bucket table is computed ONCE (dedup._self_pairs persists it): the
    48-dot bucket pipeline never re-runs per join side."""
    planes = rp_planes(DIM, LSH_TABLES, LSH_PLANES)
    cand = (
        _self_pairs(_bucketed(embeddings, planes, "vec_id"), "vec_id", ["table_idx", "bucket"])
        .select("id_a", "id_b")
        .distinct()
    )
    ea = embeddings.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    eb = embeddings.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("sim", cosine_expr(F.col("__va"), F.col("__vb")))
        .where(F.col("sim") >= LSH_MIN_SIM)
        .select("id_a", "id_b", "sim")
    )


def ann_lsh_topk(embeddings: DataFrame, probes: DataFrame) -> DataFrame:
    """Bucketed ANN: LSH candidate generation + exact cosine re-rank.

    The scale path for similarity search (VERDICT.md "the composition that
    doesn't exist yet"): each probe meets only its bucket collisions — work is
    |collisions|, not |emb| x |probes| — then cosine_topk-style re-rank over
    the candidate set. Results are the exact top-ANN_K OF THE CANDIDATE SET
    (ANN semantics); the oracle replicates the buckets so the gate is exact."""
    planes = rp_planes(DIM, LSH_TABLES, LSH_PLANES)
    eb = _bucketed(embeddings, planes, "neighbor_id")
    pb = _bucketed(probes, planes, "probe_id")
    cand = (
        eb.join(F.broadcast(pb), ["table_idx", "bucket"])
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id")
        .distinct()
    )
    e = embeddings.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__v"))
    p = probes.select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("__pv"))
    scored = (
        cand.join(e, "neighbor_id")
        .join(F.broadcast(p), "probe_id")
        .select(
            "probe_id", "neighbor_id", cosine_expr(F.col("__pv"), F.col("__v")).alias("sim")
        )
    )
    return best_per_key(scored, "probe_id", [F.desc("sim"), "neighbor_id"], ANN_K, "rank")


def ivf_centroids(dim: int, n_lists: int) -> np.ndarray:
    """Deterministic unit-norm coarse-quantizer centroids, seed 11.

    Production IVF trains these with k-means (MLlib KMeans slots into the
    same seam); a fixed seeded draw is used here so the Spark plan and the
    SQL oracle carry IDENTICAL literals — the gate verifies the IVF
    *plumbing* (assign, probe, re-rank), which is quantizer-agnostic."""
    rng = np.random.default_rng(11)
    c = rng.standard_normal((n_lists, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _ivf_listed(
    df: DataFrame,
    cents: np.ndarray,
    n_keep: int,
    id_alias: str,
    vec_alias: str,
) -> DataFrame:
    """(id_alias, vec_alias, list_id) — the n_keep best inverted lists per
    row, ranked by (centroid dot DESC, list index ASC). Pure Catalyst: the
    per-row ranking is sort_array over (neg-score, idx) structs, NO window
    shuffle — coarse assignment of the big side stays map-side. The struct
    array is ONE parsed SQL expression (r6): the per-literal builder cost
    ~1 s of driver time per call for the 16x64 centroid constants."""
    entries = "array(" + ", ".join(
        f"named_struct('ns', -({_dot_lits_sql(cents[j])}), 'list_id', {j})"
        for j in range(cents.shape[0])
    ) + ")"
    top = F.expr(f"slice(sort_array({entries}), 1, {int(n_keep)})")
    return df.select(
        F.col("vec_id").alias(id_alias),
        F.col("embedding").alias(vec_alias),
        F.explode(top).alias("__e"),
    ).select(id_alias, vec_alias, F.col("__e.list_id").alias("list_id"))


def ann_ivf_topk(embeddings: DataFrame, probes: DataFrame) -> DataFrame:
    """IVF ANN: inverted-file candidate generation + exact cosine re-rank.

    The brief's second scale path beside LSH: every vector is assigned to its
    best coarse list map-side (no shuffle — sort_array argmax over centroid
    literals), probes fan out to their IVF_NPROBE best lists, and the candidate
    join is a plain equi-join on list_id — work is the probed lists'
    occupancy, not |emb| x |probes|. Exact top-ANN_K OF THE CANDIDATE SET (ANN
    semantics), identical output shape to ann_lsh_topk. The centroids are
    the seeded ivf_centroids draw, so the SQL oracle's literals match."""
    cents = ivf_centroids(DIM, IVF_LISTS)
    e = _ivf_listed(embeddings, cents, 1, "neighbor_id", "__v")
    p = _ivf_listed(probes, cents, IVF_NPROBE, "probe_id", "__pv")
    # No broadcast hint on the probe side: probes fan out IVF_NPROBE-x with full
    # dim-wide vectors, so at north-star probe cardinality a forced broadcast
    # is a driver-OOM risk (same rationale that removed the matching.py hint,
    # r3 item 2). AQE broadcasts it at runtime when it is actually small.
    cand = e.join(p, "list_id").where(
        F.col("neighbor_id") != F.col("probe_id")
    )
    scored = cand.select(
        "probe_id", "neighbor_id", cosine_expr(F.col("__pv"), F.col("__v")).alias("sim")
    )
    return best_per_key(scored, "probe_id", [F.desc("sim"), "neighbor_id"], ANN_K, "rank")


# ---------------------------------------------------------------------------
# DuckDB oracle builders (same plane constants, same summation order)
# ---------------------------------------------------------------------------

def _dot_duck(plane: np.ndarray) -> str:
    """``embedding`` · plane as a left-associated explicit sum — matches the
    engine fold's IEEE order."""
    return " + ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) * {float(p)!r}" for i, p in enumerate(plane)
    )


def _bucket_duck(table_planes: np.ndarray) -> str:
    return " + ".join(
        f"(CASE WHEN ({_dot_duck(table_planes[j])}) >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(table_planes.shape[0])
    )


def _buckets_duck_cte(src_sql: str, planes: np.ndarray, name: str) -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS table_idx, CAST({_bucket_duck(planes[t])} AS BIGINT)"
        f" AS bucket FROM __src_{name}__"
        for t in range(planes.shape[0])
    )
    return f"__src_{name}__ AS ({src_sql}),\n{name} AS ({selects})"


def rp_lsh_pairs_oracle_sql() -> str:
    planes = rp_planes(DIM, LSH_TABLES, LSH_PLANES)
    return f"""
WITH {_buckets_duck_cte(EMB_SQL, planes, 'bk')},
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bk a JOIN bk b
      ON a.table_idx = b.table_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim FROM (
    SELECT id_a, id_b,
           list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                  CAST(eb.embedding AS DOUBLE[])) AS sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = id_a
    JOIN embeddings eb ON eb.vec_id = id_b
) WHERE sim >= {LSH_MIN_SIM}
"""


def _ivf_scores_duck_cte(src_sql: str, cents: np.ndarray, name: str) -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT vec_id, {j} AS list_id, ({_dot_duck(cents[j])}) AS score"
        f" FROM __srcivf_{name}__"
        for j in range(cents.shape[0])
    )
    return f"__srcivf_{name}__ AS ({src_sql}),\n{name} AS ({selects})"


def ann_ivf_topk_oracle_sql() -> str:
    """Same centroid literals, same left-associated dot order, same
    (score DESC, list_id ASC) assignment tie-break as ann_ivf_topk."""
    cents = ivf_centroids(DIM, IVF_LISTS)
    e_cte = _ivf_scores_duck_cte(EMB_SQL, cents, "escore")
    p_cte = _ivf_scores_duck_cte(f"{EMB_SQL} WHERE {PROBE_PRED}", cents, "pscore")
    return f"""
WITH {e_cte},
{p_cte},
assign AS (
    SELECT vec_id, list_id FROM (
        SELECT vec_id, list_id, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY score DESC, list_id) AS rn
        FROM escore
    ) WHERE rn = 1
),
plists AS (
    SELECT vec_id, list_id FROM (
        SELECT vec_id, list_id, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY score DESC, list_id) AS rn
        FROM pscore
    ) WHERE rn <= {IVF_NPROBE}
),
cand AS (
    SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id
    FROM plists p JOIN assign e USING (list_id)
    WHERE e.vec_id <> p.vec_id
)
SELECT probe_id, neighbor_id, sim, rank FROM (
    SELECT probe_id, neighbor_id, sim,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, neighbor_id
           ) AS INT) AS rank
    FROM (
        SELECT probe_id, neighbor_id,
               list_cosine_similarity(CAST(ep.embedding AS DOUBLE[]),
                                      CAST(en.embedding AS DOUBLE[])) AS sim
        FROM cand
        JOIN embeddings ep ON ep.vec_id = probe_id
        JOIN embeddings en ON en.vec_id = neighbor_id
    )
) WHERE rank <= {ANN_K}
"""


def ann_lsh_topk_oracle_sql() -> str:
    planes = rp_planes(DIM, LSH_TABLES, LSH_PLANES)
    emb_cte = _buckets_duck_cte(EMB_SQL, planes, "ebk")
    probe_cte = _buckets_duck_cte(f"{EMB_SQL} WHERE {PROBE_PRED}", planes, "pbk")
    return f"""
WITH {emb_cte},
{probe_cte},
cand AS (
    SELECT DISTINCT p.vec_id AS probe_id, e.vec_id AS neighbor_id
    FROM ebk e JOIN pbk p
      ON e.table_idx = p.table_idx AND e.bucket = p.bucket AND e.vec_id <> p.vec_id
)
SELECT probe_id, neighbor_id, sim, rank FROM (
    SELECT probe_id, neighbor_id, sim,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY probe_id ORDER BY sim DESC, neighbor_id
           ) AS INT) AS rank
    FROM (
        SELECT probe_id, neighbor_id,
               list_cosine_similarity(CAST(ep.embedding AS DOUBLE[]),
                                      CAST(en.embedding AS DOUBLE[])) AS sim
        FROM cand
        JOIN embeddings ep ON ep.vec_id = probe_id
        JOIN embeddings en ON en.vec_id = neighbor_id
    )
) WHERE rank <= {ANN_K}
"""
