"""J7 random_k_sample: the bucketed threshold plan must equal the draw it
defines exactly.

The draw is the k smallest h = (48271·lk + 40503·rk) mod 1000003 per probe,
ties by right_id, with a NULL key on either side never drawn. The tests
compute it in pure Python and compare the plan's sorted output byte for byte,
including an _OVERSAMPLE=1 run where ~half the probes fall short of k
survivors in round 1 and the escalation loop actually executes.
"""

from pyspark.sql import functions as F

from geotreehealth_spark.operators import matching
from tests.conftest import new_rdds, registry

KW = dict(left_id="pid", right_id="cid", left_key="lkey", right_key="rkey")


def _inputs(spark):
    left = spark.range(60).select(
        F.concat(F.lit("p"), F.col("id")).alias("pid"),
        F.col("id").alias("lkey"),
    )
    right = spark.range(400).select(
        F.concat(F.lit("c"), F.col("id")).alias("cid"),
        F.col("id").alias("rkey"),
    )
    return left, right


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _draw(left, right, k):
    """The draw in pure Python: (pid, cid, draw_rank) rows, sorted."""
    out = []
    rights = right.collect()
    for pid, lk in left.collect():
        if lk is None:
            continue
        hs = sorted(
            ((48271 * lk + 40503 * rk) % matching.RANDOM_K_HASH_P, cid)
            for cid, rk in rights if rk is not None
        )
        out += [(pid, cid, r + 1) for r, (_, cid) in enumerate(hs[:k])]
    return sorted(out)


def _sample(monkeypatch, left, right, k, oversample=matching._OVERSAMPLE):
    """random_k_sample with its oversampling factor patched."""
    monkeypatch.setattr(matching, "_OVERSAMPLE", oversample)
    return _rows(matching.random_k_sample(left, right, k=k, **KW))


def test_threshold_path_equals_python_draw(spark, monkeypatch):
    left, right = _inputs(spark)
    want = _draw(left, right, 7)
    assert len(want) == 60 * 7
    assert _sample(monkeypatch, left, right, 7) == want
    # _OVERSAMPLE=1: expected survivors per probe == k, so shortfall probes
    # exist with near-certainty and the escalation re-scan runs
    assert _sample(monkeypatch, left, right, 7, oversample=1) == want


def test_threshold_path_small_pool(spark, monkeypatch):
    # candidate pool smaller than k: every probe draws all 4 candidates, in
    # the final (T = p) round
    left = spark.range(30).select(
        F.concat(F.lit("p"), F.col("id")).alias("pid"),
        F.col("id").alias("lkey"),
    )
    right = spark.range(4).select(
        F.concat(F.lit("c"), F.col("id")).alias("cid"),
        F.col("id").alias("rkey"),
    )
    want = _draw(left, right, 9)
    assert len(want) == 30 * 4
    assert _sample(monkeypatch, left, right, 9) == want


def test_threshold_path_failure_releases_checkpoints(spark, monkeypatch):
    # r6: a mid-escalation failure must sweep the per-round candidate
    # checkpoint blocks (kept on success: they are the result's storage) AND
    # the input caches, leaving the session's persistent-RDD registry as it
    # was before the call.
    from geotreehealth_spark.operators import caching, matching

    left = spark.range(0, 50).selectExpr(
        "CAST(id AS STRING) AS pid", "id AS lkey"
    )
    # rkey strides by 2: the affine draw hash equidistributes over a dense
    # key range (every probe would meet k in round 1), so halving the key
    # density guarantees a shortfall and therefore a second escalation round
    right = spark.range(0, 50_000).selectExpr(
        "CAST(id AS STRING) AS cid", "id * 2 AS rkey"
    )
    calls = {"n": 0}
    orig = caching.Owner.checkpoint

    def boom(self, df):
        calls["n"] += 1
        if calls["n"] >= 2:  # fail entering round 2: round-1 blocks exist
            raise RuntimeError("injected mid-loop failure")
        return orig(self, df)

    monkeypatch.setattr(caching.Owner, "checkpoint", boom)
    before = registry(spark)
    import pytest

    # _OVERSAMPLE=1 guarantees shortfall probes -> a second round
    monkeypatch.setattr(matching, "_OVERSAMPLE", 1)
    with pytest.raises(RuntimeError, match="injected"):
        matching.random_k_sample(left, right, k=5, **KW)
    assert calls["n"] >= 2, "escalation never reached a second round"
    leaked = new_rdds(spark, before)
    assert not leaked, f"leaked persistent RDDs after failure: {leaked}"


def test_threshold_path_bucketed_wraparound_and_nulls(spark, monkeypatch):
    # r6 bucketed admissible-window join: large scattered keys make the
    # per-probe window a = (48271*lk) mod p land anywhere in [0, p), so both
    # the [0, T-a) and the wraparound [p-a, p-a+T) interval arms are
    # exercised; NULL keys on either side must be undrawable.
    left = spark.range(50).select(
        F.concat(F.lit("p"), F.col("id")).alias("pid"),
        F.when(F.col("id") == 49, F.lit(None)).otherwise(
            F.col("id") * 982451653 + 7
        ).alias("lkey"),
    )
    right = spark.range(300).select(
        F.concat(F.lit("c"), F.col("id")).alias("cid"),
        F.when(F.col("id") == 299, F.lit(None)).otherwise(
            F.col("id") * 334214467 + 11
        ).alias("rkey"),
    )
    want = _draw(left, right, 5)
    assert len(want) == 49 * 5  # the NULL-key probe draws nothing
    assert _sample(monkeypatch, left, right, 5) == want
    assert _sample(monkeypatch, left, right, 5, oversample=1) == want
