"""Time a subset of the registered queries with bench.py's exact protocol.

Usage: python tools/bench_subset.py q1 [q2 ...] [--passes N] [--sf DIR]

Same session config, warmup and interleaved min-of-N passes as bench.py
(tools/_harness.py), each query's storage freed after it — produced numbers
are comparable to BENCH_r*.json entries. Used for the idle-host spot-reruns of individual
queries (VERDICT r4 "What's wrong" 4) and for A/B timing of operator variants
without paying the full 35-query headline sweep.
"""

from __future__ import annotations

import json
import sys
import time

import _harness  # puts the repository root on sys.path

import __spark_entry__ as entrymod
from geotreehealth_spark.operators.caching import scope


def main() -> None:
    names, passes, sf_dir = _harness.parse_args(sys.argv[1:])
    queries = entrymod.queries()
    unknown = [n for n in names if n not in queries]
    assert not unknown, f"unknown queries: {unknown}"
    spark = _harness.start_session("geotreehealth-bench-subset", sf_dir=sf_dir)

    per_query: dict[str, float] = {}
    for p in range(passes):
        for name in names:
            with scope():
                t0 = time.time()
                n = queries[name](spark, sf_dir).count()
                dt = time.time() - t0
            prev = per_query.get(name)
            per_query[name] = round(dt if prev is None else min(prev, dt), 3)
            print(f"# pass{p} {name}: {dt:.2f}s rows={n}", file=sys.stderr)

    cpus = spark.sparkContext.defaultParallelism
    print(json.dumps({"queries": per_query, "sf_dir": sf_dir, "cpus": cpus,
                      "passes": passes}))
    spark.stop()


if __name__ == "__main__":
    main()
