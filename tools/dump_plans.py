"""Dump .explain("formatted") for registered queries into plans/<tag>/.

Usage: python tools/dump_plans.py <tag> [suffix] [query ...]
  tag     subdirectory under plans/ (e.g. r06)
  suffix  'before' or 'after' (default 'before')
  query   subset of query names (default: all registered queries)

Each file is the formatted physical plan of the query as built
(pre-execution, AQE isFinalPlan=false) at the bench sf dir, normalized by
plan_audit.normalize — enough to verify Exchange counts, join strategies,
scan pushdown, and Python-boundary nodes without running Spark, and to diff
two commits' plans: `diff -r plans/<a> plans/<b>` shows only real changes.
Each query is built inside its own caching.scope(), which frees the storage
it kept, so that storage never shows up in a later query's plan. fingerprints.json beside the texts
holds the sha256 of each text; at sf0.001 it is the file
tests/test_plans.py checks, plans/fingerprints.json. An absolute tag writes
outside plans/.
"""

from __future__ import annotations

import json
import os
import sys

import _harness  # puts the repository root on sys.path
import __spark_entry__ as entrymod  # noqa: E402
from geotreehealth_spark.operators.caching import scope  # noqa: E402
from geotreehealth_spark.session import get_spark  # noqa: E402
from plan_audit import fingerprint, normalize, plan_string  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(_harness.REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-dump", cores=8)
    queries = entrymod.queries()
    if not names:
        names = list(queries)
    hashes = {}
    for name in names:
        try:
            with scope():
                p = normalize(plan_string(queries[name](spark, sf_dir)))
        except Exception as e:  # noqa: BLE001
            p = f"ERROR {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(p)
        hashes[name] = fingerprint(p)
        print(f"wrote {path} ({len(p)} chars)")
    with open(os.path.join(out_dir, "fingerprints.json"), "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
