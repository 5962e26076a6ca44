"""Physical-plan regression guard (tools/plan_audit.py): the scale
invariants — no row-at-a-time Python anywhere, no cartesian blowups outside
documented bounded fallbacks, whole-stage codegen on JVM-side plans — and
every query's plan against its committed fingerprint."""

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import __spark_entry__ as entry
from geotreehealth_spark.operators.caching import scope
from plan_audit import audit, fingerprint, normalize, plan_string
from tests.conftest import SF_DIR

FINGERPRINTS = os.path.join(REPO, "plans", "fingerprints.json")

# pure-Catalyst queries: zero Python of any kind, codegen present
PURE_JVM = [
    "tpch_q1", "tile_assign", "boundary_filter", "dedup_keep_max_dbh",
    "keep_latest_year", "recode_counts", "class_rebalance", "factorize",
    "median_pick", "zonal_lidar", "zonal_percentiles", "overlap_pairs",
    "band_ops", "topk_orders", "dedup_exact", "fingerprint", "text_stats",
    "token_count", "lang_id", "jaccard_pairs", "ngram_jaccard_pairs",
    "minhash_lsh_pairs", "simhash_pairs", "stratified_split", "ann_ivf_topk",
    "group_first", "distinct_count", "drop_smallest", "pair_distances",
]
# Arrow-vectorized queries: arrow UDF / mapInArrow / applyInArrow allowed,
# row-Python not.
# kNN-family and similarity queries carry documented bounded fallback branches
# (crossJoin on a proven-tiny residue / scalar broadcast joins), so the
# cartesian count is not asserted for them.
NO_CARTESIAN = PURE_JVM + [
    "pip_stems_plots", "pip_assign_best", "zonal_raster", "polygonize",
    "geometric_union", "explode_multi", "docs_decode_stems",
    "zonal_lidar_docs", "nms_greedy", "weighted_nms",
]


@pytest.fixture(scope="module")
def audits(spark):
    qs = entry.queries()
    names = sorted(set(PURE_JVM + NO_CARTESIAN))
    # execute=True: AQE only emits "codegen id :" markers on the finalized
    # plan, so the codegen assertion needs each query run once (sf0.001).
    return {n: audit(qs[n](spark, SF_DIR), execute=(n in PURE_JVM)) for n in names}


@pytest.fixture(scope="module")
def plans(spark):
    """Every query's formatted plan as built (not executed). Each build has
    its own scope: storage an earlier query kept would show up in a later
    plan as an InMemoryRelation."""
    out = {}
    for name, fn in entry.queries().items():
        with scope():
            out[name] = plan_string(fn(spark, SF_DIR))
    return out


def test_no_row_python_anywhere(plans):
    offenders = [name for name, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == [], f"row-at-a-time Python UDFs in: {offenders}"


def test_plans_match_fingerprints(plans):
    """A plan change is deliberate: regenerate plans/fingerprints.json with
    tools/dump_plans.py at sf0.001 and name the moved queries in CHANGES.md."""
    with open(FINGERPRINTS) as f:
        committed = json.load(f)
    got = {name: fingerprint(normalize(p)) for name, p in plans.items()}
    moved = sorted(n for n in set(got) | set(committed) if got.get(n) != committed.get(n))
    assert moved == [], f"plans moved (or queries added/removed): {moved}"


def test_pure_jvm_queries_have_no_python(audits):
    offenders = [n for n in PURE_JVM if audits[n]["arrow_python"] > 0]
    assert offenders == [], f"unexpected Python stages in: {offenders}"


def test_no_cartesian_products(audits):
    offenders = [n for n in NO_CARTESIAN if audits[n]["cartesian"] > 0]
    assert offenders == [], f"cartesian/nested-loop joins in: {offenders}"


def test_codegen_present(audits):
    offenders = [n for n in PURE_JVM if audits[n]["codegen_spans"] == 0]
    assert offenders == [], f"no WholeStageCodegen span in: {offenders}"


# every per-key pick goes through aggregates.best_per_key: a row_number
# window whose map-side WindowGroupLimit collapses each key before the
# shuffle, never a min/max(struct) aggregate
PICKS = [
    "dedup_keep_max_dbh", "keep_latest_year", "group_first", "median_pick",
    "topk_orders", "pip_assign_best", "containing_else_nearest", "feature_nn",
    "ann_cosine_topk", "ann_ivf_topk",
]


def test_picks_plan_a_window_group_limit(spark):
    qs = entry.queries()
    offenders = {}
    for name in PICKS:
        a = audit(qs[name](spark, SF_DIR))
        if a["window_group_limit"] == 0 or a["struct_min_max"] > 0:
            offenders[name] = (a["window_group_limit"], a["struct_min_max"])
    assert offenders == {}, f"(WindowGroupLimit, min/max(struct) aggs) per query: {offenders}"


def test_normalize_keeps_only_the_plan():
    """Two sessions' texts of one plan normalize equal; a changed node or
    expression still shows."""
    a = (
        "AdaptiveSparkPlan (3)\n+- Exchange (2)\n   +- Scan parquet  (1)\n\n"
        "(1) Scan parquet \nOutput [1]: [vec_id#57L]\n"
        "Location: InMemoryFileIndex [file:/data/sf0.1/embeddings.parquet]\n"
        "(2) Exchange\nArguments: hashpartitioning(vec_id#57L, 8), [plan_id=10516]\n"
        "Project [transform(e#58, lambdafunction(lambda x_4#9731, lambda x_4#9731, false))]\n"
        "Scan ExistingRDD MapPartitionsRDD[17] Statistics(sizeInBytes=1.2 MiB, rowCount=30)\n"
        "Arguments: [id#5L], MapPartitionsRDD[21] at localCheckpoint at "
        "NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)\n"
    )
    b = (
        a.replace("#57L", "#9L").replace("#58", "#3").replace("x_4#9731", "x_12#40")
        .replace("10516", "7").replace("[17]", "[2]").replace("1.2 MiB", "3.0 KiB")
        .replace("/data/sf0.1/", "/tmp/sf0.001/").replace("(1)", "(4)")
        .replace("[21]", "[3]").replace("NativeMethodAccessorImpl.java", "<unknown>")
    )
    assert a != b and normalize(a) == normalize(b)
    assert "hashpartitioning(vec_id#L, 8)" in normalize(a)
    assert normalize(a) != normalize(a.replace("hashpartitioning", "rangepartitioning"))
