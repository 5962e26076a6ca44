"""Cache and checkpoint ownership (operators/caching.py): one owner per
operator call stores blocks, a returned call holds only the storage its plan
reads, a caller's scope() frees what the calls in it kept, a failed call
leaves the persistent-RDD registry as it found it, and nothing outside
caching.py touches storage directly."""

import ast
import pathlib

import pytest

import __spark_entry__ as entry
from geotreehealth_spark.operators import components, knn, nms
from geotreehealth_spark.operators.caching import owned, scope
from tests.conftest import SF_DIR, new_rdds, registry
from tests.test_options import trees

ROOT = pathlib.Path(__file__).resolve().parents[1]
STORAGE_ATTRS = {
    "persist", "cache", "localCheckpoint", "unpersist", "getPersistentRDDs", "clearCache",
}


def _storage_calls(source: str) -> list[tuple[int, str]]:
    """(line, attr) of every storage attribute not reached through an
    owner — a name bound by `with owned() as o` or a parameter annotated
    ``Owner``, and then only its `persist` — in the module or in a script
    embedded in it (line numbers are the script's own)."""
    return [hit for tree in trees(source) for hit in _tree_storage_calls(tree)]


def _tree_storage_calls(tree: ast.Module) -> list[tuple[int, str]]:
    owners = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.With):
            for item in node.items:
                call = item.context_expr
                if (
                    isinstance(call, ast.Call)
                    and getattr(call.func, "id", None) == "owned"
                    and isinstance(item.optional_vars, ast.Name)
                ):
                    owners.add(item.optional_vars.id)
        elif isinstance(node, ast.arg) and getattr(node.annotation, "id", None) == "Owner":
            owners.add(node.arg)
    return [
        (node.lineno, node.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr in STORAGE_ATTRS
        and not (
            node.attr == "persist"
            and isinstance(node.value, ast.Name)
            and node.value.id in owners
        )
    ]


def test_only_caching_module_touches_storage():
    files = [
        p for p in (ROOT / "geotreehealth_spark").rglob("*.py")
        if p != ROOT / "geotreehealth_spark" / "operators" / "caching.py"
    ]
    files += [ROOT / "__spark_entry__.py", *(ROOT / "tools").glob("*.py")]
    found = [
        f"{p.relative_to(ROOT)}:{line} {attr}"
        for p in sorted(files)
        for line, attr in _storage_calls(p.read_text())
    ]
    assert not found, found


def test_scan_flags_direct_storage_calls():
    src = (
        "def f(df, o):\n"
        "    a = df.persist()\n"
        "    b = df.select('x').localCheckpoint(eager=True)\n"
        "    o.persist(df)\n"
        "    with owned() as w:\n"
        "        w.persist(df)\n"
        "        w.unpersist()\n"
        "    spark.catalog.clearCache()\n"
        'WORKER = """x.localCheckpoint(eager=True)\n"""\n'
    )
    assert sorted(_storage_calls(src)) == [
        (1, "localCheckpoint"), (2, "persist"), (3, "localCheckpoint"), (4, "persist"),
        (7, "unpersist"), (8, "clearCache"),
    ]


def test_owner_spares_caller_caches(spark):
    base = spark.range(200).selectExpr("id", "id % 7 AS g").persist()
    before = registry(spark)
    with owned() as o:
        assert o.persist(base) is base
        chk = o.checkpoint(base.where("g = 3"))
        assert chk.count() == 29
        o.release(chk)
    # the checkpoint job materialized the caller's cache first; releasing
    # the checkpoint and closing the owner left that cache alone
    assert base.storageLevel.useMemory
    assert len(new_rdds(spark, before)) == 1
    base.unpersist()
    assert not new_rdds(spark, before)


def test_owner_keeps_on_return_and_releases_all_on_failure(spark):
    before = registry(spark)
    with owned() as o:
        tmp = o.persist(spark.range(100).selectExpr("id * 2 AS v"))
        assert tmp.count() == 100
        kept = o.keep(o.checkpoint(tmp.where("v % 3 = 0")))
    assert len(new_rdds(spark, before)) == 1
    assert kept.count() == 34

    mid = registry(spark)
    with pytest.raises(RuntimeError, match="injected"):
        with owned() as o:
            o.keep(o.checkpoint(spark.range(10).selectExpr("id + 1 AS w")))
            raise RuntimeError("injected")
    assert not new_rdds(spark, mid)


def _chain(spark, n: int = 8):
    # box i overlaps box i+1 by half (overlap ratio 0.5) and only touches
    # box i+2: greedy keeps the even boxes, and the distributed fixpoint
    # needs a round per kept box
    rows = [(f"b{i}", float(n - i), i * 0.5, 0.0, i * 0.5 + 1.0, 1.0) for i in range(n)]
    return spark.createDataFrame(
        rows, "pid string, score double, xmin double, ymin double, xmax double, ymax double"
    )


@pytest.mark.parametrize("driver_max, held", [(nms._DRIVER_FIXPOINT_MAX, 1), (0, 2)])
def test_greedy_nms_holds_only_what_its_plan_reads(spark, monkeypatch, driver_max, held):
    # held: the polys cache, plus the suppressed-id checkpoint on the
    # distributed fixpoint
    monkeypatch.setattr(nms, "_DRIVER_FIXPOINT_MAX", driver_max)
    polys = _chain(spark)
    before = registry(spark)
    out = nms.greedy_nms(polys, id_col="pid", score_col="score")
    assert len(new_rdds(spark, before)) == held
    got = {r.pid: r.selected for r in out.collect()}
    assert got == {f"b{i}": i % 2 == 0 for i in range(8)}
    assert len(new_rdds(spark, before)) == held


def _weighted(polys):
    return nms.weighted_nms(polys, id_col="pid", priority_col="priority")


def test_weighted_nms_releases_its_pair_cache(spark, monkeypatch):
    # the chain's neighbours have IoU 1/3: conflict edges exist under 0.3
    monkeypatch.setattr(nms, "WEIGHTED_THRESHOLD", 0.3)
    polys = _chain(spark).withColumnRenamed("score", "priority")
    before = registry(spark)
    out = _weighted(polys)
    # the polys and scored caches; the pair cache and the edge checkpoint
    # are gone
    assert len(new_rdds(spark, before)) == 2
    assert out.count() == 8
    # the same call inside a scope keeps the same storage until the scope
    # exits; the result made outside it still reads its own
    mid = registry(spark)
    with scope():
        assert _weighted(_chain(spark).withColumnRenamed("score", "priority")).count() == 8
        assert len(new_rdds(spark, mid)) == 2
    assert not new_rdds(spark, mid)
    assert out.count() == 8


def test_greedy_nms_failure_leaves_registry(spark, monkeypatch):
    monkeypatch.setattr(nms, "_DRIVER_FIXPOINT_MAX", 0)
    monkeypatch.setattr(nms, "_MAX_ROUNDS", 1)
    polys = _chain(spark)
    before = registry(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        nms.greedy_nms(polys, id_col="pid", score_col="score")
    assert not new_rdds(spark, before)


def test_components_failure_leaves_registry(spark, monkeypatch):
    monkeypatch.setattr(components, "_MAX_ITERS", 1)
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    before = registry(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        components.connected_components(edges)
    assert not new_rdds(spark, before)


# every query whose result reads storage that its calls keep, with the
# persistent RDDs that storage takes while the result is live (as many as a
# call with no scope open leaves behind)
KEEPING = {
    "containing_else_nearest": 4, "pipeline_e2e": 4, "weighted_nms": 2,
    "random_k_sample": 1, "dup_components": 2, "knn": 1, "knn_quadrant": 1,
    "nms_greedy": 1, "median_pick": 1, "zonal_raster": 1, "jaccard_pairs": 1,
    "ngram_jaccard_pairs": 1, "minhash_lsh_pairs": 1, "simhash_pairs": 1,
    "rp_lsh_pairs": 1,
}


@pytest.mark.parametrize("name", sorted(KEEPING))
def test_scope_frees_what_a_query_kept(spark, name):
    before = registry(spark)
    with scope():
        entry.queries()[name](spark, SF_DIR).count()
        assert len(new_rdds(spark, before)) == KEEPING[name]
    assert not new_rdds(spark, before)


def test_scope_spares_caller_caches(spark, monkeypatch):
    monkeypatch.setattr(nms, "WEIGHTED_THRESHOLD", 0.3)
    before = registry(spark)
    polys = _chain(spark).withColumnRenamed("score", "priority").persist()
    assert polys.count() == 8
    mine = new_rdds(spark, before)
    with scope():
        assert _weighted(polys).count() == 8
    assert polys.storageLevel.useMemory
    assert new_rdds(spark, before) == mine
    polys.unpersist()
    assert not new_rdds(spark, before)


def test_failure_inside_scope_leaves_registry(spark, monkeypatch):
    # a call that returned keeps its storage until the scope exits; a call
    # that fails releases its own at once, and the failure exits the scope
    monkeypatch.setattr(nms, "_DRIVER_FIXPOINT_MAX", 0)
    monkeypatch.setattr(nms, "_MAX_ROUNDS", 1)
    left = spark.createDataFrame(
        [(f"p{i}", float(i), float(i)) for i in range(20)], "pid string, x double, y double"
    )
    right = left.selectExpr("concat('c', pid) AS cid", "x + 0.25 AS cx", "y AS cy")
    before = registry(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        with scope():
            out = knn.knn_join(left, right, k=2, left_id="pid", right_id="cid")
            assert out.count() == 40
            assert new_rdds(spark, before)
            nms.greedy_nms(_chain(spark), id_col="pid", score_col="score")
    assert not new_rdds(spark, before)
