"""A repeat call reuses its generated code instead of compiling it again.

Spark keeps every compiled whole-stage-codegen and projection class in one
JVM-wide cache keyed on the code text. Two faults make a warm call compile
again: a cache smaller than the engine's working set (Spark's default of 100
entries; this sequence compiles well over 100 classes at sf0.001), and a
per-call value, such as a timestamp literal, inlined into the generated code.

The check runs with AQE off. Under AQE the stage-creation order, and so the
codegen stage ids and some join build sides, follows which stage finishes
first, so a repeat call may legitimately compile a renumbered copy of a
class. With AQE off the generated code is a pure function of the query, and
any class the second round compiles was evicted or changed between calls.
"""

import os
import sys
from contextlib import contextmanager

import pyspark.sql.functions as F

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import _harness  # noqa: E402
import __spark_entry__ as entry  # noqa: E402
from geotreehealth_spark import lineage, synth  # noqa: E402
from geotreehealth_spark.operators.caching import scope  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

SEQUENCE = ("knn_quadrant", "weighted_nms", "zonal_raster", "pipeline_e2e")


def _round(spark, queries) -> dict[str, int]:
    compiled = {}
    for name in SEQUENCE:
        before = _harness.compiles(spark)
        with scope():
            queries[name](spark, SF_DIR).count()
        compiled[name] = _harness.compiles(spark) - before
    return compiled


@contextmanager
def _aqe_off(spark):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_second_round_compiles_nothing(spark):
    queries = entry.queries()
    with _aqe_off(spark):
        first = _round(spark, queries)
        second = _round(spark, queries)
    recompiled = {name: n for name, n in second.items() if n}
    assert not recompiled, f"classes compiled again per query: {recompiled} (first round: {first})"


def test_lineage_run_compiles_nothing_new(spark, tmp_path):
    """The lineage rows' per-call values (wall time, completion timestamp)
    must stay out of the generated code: each run into a fresh checkpoint
    computes and records every partition through the same plans."""
    stems = synth.stems(spark, SF_DIR).withColumn(
        "part_key", (F.col("stem_key") % 4).cast("string")
    )

    def compute(df):
        return df.withColumn("dbh2", F.col("dbh") * 2)

    compiled = []
    with _aqe_off(spark):
        for run in range(2):
            before = _harness.compiles(spark)
            lineage.run_stage(spark, "s", stems, "part_key", compute, str(tmp_path / str(run)))
            compiled.append(_harness.compiles(spark) - before)
    assert compiled[1] == 0, f"classes compiled per run: {compiled}"
