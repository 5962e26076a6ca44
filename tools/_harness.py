"""Shared scaffolding for the timing tools in tools/.

One copy of bench.py's session and warm-up protocol, plus the tools' common
``q1 [q2 ...] [--passes N] [--sf DIR]`` command line. bench.py keeps its own
frozen copy of the same protocol, so numbers from these tools are comparable
to its records. Where bench.py sweeps the session's caches between queries,
the tools build and run each query inside ``caching.scope()``, which frees
the storage that query kept.

Importing this module puts the repository root on ``sys.path``, and on the
``PYTHONPATH`` that the Spark session started later hands its Python workers,
so a tool runs from any working directory.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))


def parse_args(argv: list[str]) -> tuple[list[str], int, str]:
    """``q1 [q2 ...] [--passes N] [--sf DIR]`` → (names, passes, sf_dir).

    passes defaults to 2; sf_dir to $SPARK_GRAFT_SF_DIR, and one of the two
    must name it.
    """
    names: list[str] = []
    passes = 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    i = 0
    while i < len(argv):
        if argv[i] == "--passes":
            passes = int(argv[i + 1]); i += 2
        elif argv[i] == "--sf":
            sf_dir = argv[i + 1]; i += 2
        else:
            names.append(argv[i]); i += 1
    if not sf_dir:
        sys.exit("no input tables: pass --sf DIR or set SPARK_GRAFT_SF_DIR")
    return names, passes, sf_dir


def start_session(
    app_name: str,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    sf_dir: str | None = None,
):
    """The engine's session (``cores`` defaults to $SPARK_GRAFT_CPUS), warmed
    outside timing: JVM, Python-UDF worker pool and Arrow path, plus the
    parquet reader when ``sf_dir`` is given."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from geotreehealth_spark.session import get_spark

    spark = get_spark(app_name=app_name, cores=cores, shuffle_partitions=shuffle_partitions)

    @F.arrow_udf(LongType())
    def _warm(v):
        return v

    spark.range(100000).select(F.sum(_warm(F.col("id")))).collect()
    if sf_dir:
        spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    return spark


def compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far. A call
    whose generated code is already in the JVM-wide class cache adds 0."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
