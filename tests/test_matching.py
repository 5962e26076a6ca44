"""J7 random_k_sample: the scale plan must equal the direct plan exactly.

The operator cost-switches between a direct window-rank over the enumerated
product and a hash-threshold prefilter + escalate-on-shortfall plan
(matching.py random_k_sample). Both are defined to return the SAME rows —
the k smallest draw hashes per probe, ties by right_id — so this forces each
path on the same input and asserts byte-identical sorted output, including
an _OVERSAMPLE=1 run where ~half the probes fall short of k survivors in
round 1 and the escalation loop actually executes.
"""

from pyspark.sql import functions as F

from geotreehealth_spark.operators import matching
from tests.conftest import new_rdds, registry


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


def _sample(monkeypatch, left, right, direct_max_pairs,
            oversample=matching._OVERSAMPLE, **kw):
    """random_k_sample with its plan-switch constants patched."""
    monkeypatch.setattr(matching, "_DIRECT_MAX_PAIRS", direct_max_pairs)
    monkeypatch.setattr(matching, "_OVERSAMPLE", oversample)
    return _rows(matching.random_k_sample(left, right, **kw))


def test_threshold_path_equals_direct(spark, monkeypatch):
    left, right = _inputs(spark)
    kw = dict(k=7, left_id="pid", right_id="cid", left_key="lkey",
              right_key="rkey")
    direct = _sample(monkeypatch, left, right, 10**9, **kw)
    assert len(direct) == 60 * 7
    thresh = _sample(monkeypatch, left, right, 0, **kw)
    assert thresh == direct
    # _OVERSAMPLE=1: expected survivors per probe == k, so shortfall probes
    # exist with near-certainty and the escalation re-scan runs
    tight = _sample(monkeypatch, left, right, 0, oversample=1, **kw)
    assert tight == direct


def test_threshold_path_self_exclusion_and_small_pool(spark, monkeypatch):
    # candidate pool smaller than k: every probe returns all (non-self)
    # candidates, both paths
    left = spark.range(30).select(
        F.concat(F.lit("p"), F.col("id")).alias("pid"),
        F.col("id").alias("lkey"),
        F.col("id").alias("self_rk"),
    )
    right = spark.range(4).select(
        F.concat(F.lit("c"), F.col("id")).alias("cid"),
        F.col("id").alias("rkey"),
    )
    kw = dict(k=9, left_id="pid", right_id="cid", left_key="lkey",
              right_key="rkey", self_key="self_rk")
    direct = _sample(monkeypatch, left, right, 10**9, **kw)
    thresh = _sample(monkeypatch, left, right, 0, **kw)
    assert thresh == direct
    # probes 0-3 exclude their self candidate (3 rows), probes 4+ get all 4
    per_probe = {}
    for pid, _, _ in direct:
        per_probe[pid] = per_probe.get(pid, 0) + 1
    assert all(n in (3, 4) for n in per_probe.values())
    assert len(per_probe) == 30


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
    monkeypatch.setattr(matching, "_DIRECT_MAX_PAIRS", 0)
    monkeypatch.setattr(matching, "_OVERSAMPLE", 1)
    with pytest.raises(RuntimeError, match="injected"):
        matching.random_k_sample(
            left, right, k=5, left_id="pid", right_id="cid",
            left_key="lkey", right_key="rkey",
        )
    assert calls["n"] >= 2, "escalation never reached a second round"
    leaked = new_rdds(spark, before)
    assert not leaked, f"leaked persistent RDDs after failure: {leaked}"


def test_threshold_path_bucketed_wraparound_and_nulls(spark, monkeypatch):
    # r6 bucketed admissible-window join: large scattered keys make the
    # per-probe window a = (48271*lk) mod p land anywhere in [0, p), so both
    # the [0, T-a) and the wraparound [p-a, p-a+T) interval arms are
    # exercised; NULL keys on either side must be undrawable in both plans.
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
    kw = dict(k=5, left_id="pid", right_id="cid", left_key="lkey",
              right_key="rkey")
    direct = _sample(monkeypatch, left, right, 10**9, **kw)
    assert len(direct) == 49 * 5  # the NULL-key probe draws nothing
    thresh = _sample(monkeypatch, left, right, 0, **kw)
    assert thresh == direct
    tight = _sample(monkeypatch, left, right, 0, oversample=1, **kw)
    assert tight == direct
