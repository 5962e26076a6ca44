"""Split a query's wall time into plan-build / optimize / execute phases.

Usage: python tools/profile_query.py <query> [--sf DIR] [--passes N]

For each pass prints:
  build   - python-side DataFrame construction (lazy)
  explain - analysis + optimization + physical planning (explainString cost)
  count   - full execution via .count() (bench protocol)
  compiles - classes Spark compiled during the pass; a warm pass reuses the
             cached classes and shows 0 unless its generated code changed
Helps decide whether a slow bench entry is driver/planning-bound or
execution-bound before touching the operator (guide §1 / §7.3).
"""

from __future__ import annotations

import sys
import time

import _harness  # puts the repository root on sys.path

import __spark_entry__ as entrymod
from geotreehealth_spark.operators.caching import scope
from plan_audit import plan_string


def main() -> None:
    names, passes, sf_dir = _harness.parse_args(sys.argv[1:])
    spark = _harness.start_session("profile-query", sf_dir=sf_dir)
    queries = entrymod.queries()

    for p in range(passes):
        for name in names:
            c0 = _harness.compiles(spark)
            with scope():
                t0 = time.time()
                df = queries[name](spark, sf_dir)
                t_build = time.time() - t0
                t0 = time.time()
                plan_string(df)
                t_explain = time.time() - t0
                t0 = time.time()
                n = df.count()
                t_count = time.time() - t0
            print(
                f"pass{p} {name}: build={t_build:.2f}s explain={t_explain:.2f}s "
                f"count={t_count:.2f}s compiles={_harness.compiles(spark) - c0} rows={n}",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
