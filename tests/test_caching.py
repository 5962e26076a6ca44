"""Cache and checkpoint ownership (operators/caching.py): one owner per
operator call stores blocks, a returned call holds only the storage its plan
reads, a failed call leaves the persistent-RDD registry as it found it, and
nothing outside caching.py touches storage directly."""

import ast
import pathlib

import pytest

from geotreehealth_spark.operators import components, nms
from geotreehealth_spark.operators.caching import owned

ROOT = pathlib.Path(__file__).resolve().parents[1]
STORAGE_ATTRS = {"persist", "cache", "localCheckpoint", "unpersist", "getPersistentRDDs"}


def _registry(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _new(spark, before: set) -> set:
    """RDDs registered since ``before`` (compared by id: the context cleaner
    may drop older, unreferenced RDDs meanwhile)."""
    return _registry(spark) - before


def _storage_calls(source: str) -> list[tuple[int, str]]:
    """(line, attr) of every storage attribute not reached through an
    owner — a name bound by `with owned() as o` or a parameter annotated
    ``Owner``, and then only its `persist`."""
    tree = ast.parse(source)
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
    files.append(ROOT / "__spark_entry__.py")
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
    )
    assert sorted(_storage_calls(src)) == [
        (2, "persist"), (3, "localCheckpoint"), (4, "persist"), (7, "unpersist")
    ]


def test_owner_spares_caller_caches(spark):
    base = spark.range(200).selectExpr("id", "id % 7 AS g").persist()
    before = _registry(spark)
    with owned() as o:
        assert o.persist(base) is base
        chk = o.checkpoint(base.where("g = 3"))
        assert chk.count() == 29
        o.release(chk)
    # the checkpoint job materialized the caller's cache first; releasing
    # the checkpoint and closing the owner left that cache alone
    assert base.storageLevel.useMemory
    assert len(_new(spark, before)) == 1
    base.unpersist()
    assert not _new(spark, before)


def test_owner_keeps_on_return_and_releases_all_on_failure(spark):
    before = _registry(spark)
    with owned() as o:
        tmp = o.persist(spark.range(100).selectExpr("id * 2 AS v"))
        assert tmp.count() == 100
        kept = o.keep(o.checkpoint(tmp.where("v % 3 = 0")))
    assert len(_new(spark, before)) == 1
    assert kept.count() == 34

    mid = _registry(spark)
    with pytest.raises(RuntimeError, match="injected"):
        with owned() as o:
            o.keep(o.checkpoint(spark.range(10).selectExpr("id + 1 AS w")))
            raise RuntimeError("injected")
    assert not _new(spark, mid)


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
    before = _registry(spark)
    out = nms.greedy_nms(polys, id_col="pid", score_col="score", threshold=0.3, cell_size=2.0)
    assert len(_new(spark, before)) == held
    got = {r.pid: r.selected for r in out.collect()}
    assert got == {f"b{i}": i % 2 == 0 for i in range(8)}
    assert len(_new(spark, before)) == held


def test_weighted_nms_releases_its_pair_cache(spark):
    polys = _chain(spark).withColumnRenamed("score", "priority")
    before = _registry(spark)
    out = nms.weighted_nms(polys, id_col="pid", priority_col="priority", threshold=0.3,
                           cell_size=2.0)
    # the polys and scored caches; the pair cache and the edge checkpoint
    # are gone
    assert len(_new(spark, before)) == 2
    assert out.count() == 8


def test_greedy_nms_failure_leaves_registry(spark, monkeypatch):
    monkeypatch.setattr(nms, "_DRIVER_FIXPOINT_MAX", 0)
    monkeypatch.setattr(nms, "_MAX_ROUNDS", 1)
    polys = _chain(spark)
    before = _registry(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        nms.greedy_nms(polys, id_col="pid", score_col="score", threshold=0.3, cell_size=2.0)
    assert not _new(spark, before)


def test_components_failure_leaves_registry(spark, monkeypatch):
    monkeypatch.setattr(components, "_MAX_ITERS", 1)
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    before = _registry(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        components.connected_components(edges)
    assert not _new(spark, before)
