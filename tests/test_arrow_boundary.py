"""The engine's Python boundary is Arrow (operators/udfs.py): no engine module
imports pandas or names a pandas entry point, and the shared boundary helpers
keep a NULL geometry NULL instead of lending it another row's polygon."""

import ast

import numpy as np

from geotreehealth_spark.geo import kernels, wkb
from geotreehealth_spark.operators import nms, udfs
from tests.test_options import ENGINE, trees

PANDAS_NAMES = {"pandas_udf", "mapInPandas", "applyInPandas", "toPandas"}


def _pandas_uses(src: str) -> list[str]:
    """pandas imports and pandas entry-point names in a module's code (and
    in the scripts embedded in it); comments and prose are not code."""
    out = []
    for tree in trees(src):
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                out += [a.name for a in n.names if a.name.split(".")[0] == "pandas"]
            elif isinstance(n, ast.ImportFrom):
                if (n.module or "").split(".")[0] == "pandas":
                    out.append(n.module)
                out += [a.name for a in n.names if a.name in PANDAS_NAMES]
            elif isinstance(n, ast.Name) and n.id in PANDAS_NAMES:
                out.append(n.id)
            elif isinstance(n, ast.Attribute) and n.attr in PANDAS_NAMES:
                out.append(n.attr)
    return out


def test_engine_has_no_pandas_boundary():
    found = {
        str(p.relative_to(ENGINE)): uses
        for p in sorted(ENGINE.rglob("*.py"))
        if (uses := _pandas_uses(p.read_text()))
    }
    assert found == {}, f"pandas at the engine's Python boundary: {found}"


def test_scan_self_check():
    assert _pandas_uses("import pandas as pd") == ["pandas"]
    assert _pandas_uses("from pandas import DataFrame") == ["pandas"]
    assert _pandas_uses("from pyspark.sql.functions import pandas_udf") == ["pandas_udf"]
    assert _pandas_uses("@F.pandas_udf('long')\ndef f(v):\n    return v") == ["pandas_udf"]
    assert _pandas_uses("df.mapInPandas(f, s)\ng.applyInPandas(f, s)") == [
        "mapInPandas", "applyInPandas",
    ]
    assert _pandas_uses('x = """\ny = df.toPandas()\n"""') == ["toPandas"]
    clean = "import pyarrow as pa\n# toPandas in a comment\ndf.mapInArrow(f, s)"
    assert _pandas_uses(clean) == []


def test_list_column_is_one_list_per_row():
    rows = np.arange(6, dtype=np.float64).reshape(3, 2)
    assert udfs.list_column(rows).to_pylist() == [[0.0, 1.0], [2.0, 3.0], [4.0, 5.0]]
    assert udfs.list_column(np.empty((0, 4))).to_pylist() == []


def _square(x0: float, y0: float, side: float) -> bytes:
    return wkb.encode_polygon(kernels.box_ring(x0, y0, x0 + side, y0 + side))


def test_null_polygon_stays_null_in_the_batch_memo(spark):
    """One batch holds a NULL beside distinct polygons: the NULL's ratio is
    NULL, not the ratio of the batch's last distinct polygon."""
    p, q = _square(0.0, 0.0, 10.0), _square(5.0, 0.0, 10.0)
    df = spark.createDataFrame(
        [(p, None), (p, q), (None, q)], "a binary, b binary"
    ).coalesce(1)
    got = [r.m for r in df.select(udfs.overlap_ratio_udf("a", "b").alias("m")).collect()]
    pq = kernels.polygon_overlap_ratio(wkb.decode_polygon(p), wkb.decode_polygon(q))
    assert got == [None, pq, None] and pq > 0.0


def test_null_polygon_contains_no_point(spark):
    p = _square(0.0, 0.0, 10.0)
    df = spark.createDataFrame(
        [(p, 5.0, 5.0), (None, 5.0, 5.0), (p, 15.0, 5.0)], "g binary, x double, y double"
    ).coalesce(1)
    got = [r.inside for r in df.select(udfs.pip_udf("g", "x", "y").alias("inside")).collect()]
    assert got == [True, False, False]


def test_greedy_nms_null_geometry_forms_no_conflict_edge(spark):
    """c2's geometry is NULL, its bbox that of c1 and c3: like a NULL bbox on
    the box path, it conflicts with nothing and stays selected, while c1
    still suppresses c3 (identical polygons)."""
    p = _square(0.0, 0.0, 10.0)
    df = spark.createDataFrame(
        [
            ("c1", 3.0, p, 0.0, 0.0, 10.0, 10.0),
            ("c2", 2.0, None, 0.0, 0.0, 10.0, 10.0),
            ("c3", 1.0, p, 0.0, 0.0, 10.0, 10.0),
        ],
        "crown_id string, score double, geometry_wkb binary, "
        "xmin double, ymin double, xmax double, ymax double",
    )
    out = nms.greedy_nms(df, id_col="crown_id", score_col="score", wkb_col="geometry_wkb")
    got = {r.crown_id: r.selected for r in out.collect()}
    assert got == {"c1": True, "c2": True, "c3": False}
