"""Physical-plan audit: assert the scale invariants the engine advertises.

For every driver query this inspects the FORMATTED Catalyst plan and counts
the markers that decide 100-TB behavior:
- BatchEvalPython   row-at-a-time Python UDF — banned everywhere (the engine
                    uses only arrow UDFs / mapInArrow / applyInArrow)
- CartesianProduct  shuffled nested-loop pair blowup — allowed only in the
                    kNN family's documented bounded fallback branches
- BroadcastNestedLoopJoin — counted separately, NOT asserted: with a tiny
                    broadcast side this is the intended broadcast RANGE join
                    (tile grids, scalar thresholds); with a big side it would
                    be a bug, so the audit reports it for review
- WholeStageCodegen JVM codegen spans — expected on every non-trivial plan
- PushedFilters / ReadSchema — scan-level pushdown evidence
- WindowGroupLimit  the map-side per-key limit of a best_per_key pick
- struct_min_max    SortAggregate nodes over min(struct / max(struct — the
                    argmin spelling best_per_key replaced

Run as a script to dump the audit table for all queries (judge evidence);
tests/test_plans.py asserts the invariants per query class.
"""
from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# run-specific tokens of a formatted plan -> their stable spelling: two
# builds of the same plan in different sessions differ only in these
_VOLATILE = [
    (re.compile(r"#\d+"), "#"),  # expression ids
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_"),  # lambda variable suffixes
    (re.compile(r"^\(\d+\)", re.M), "(n)"),  # node numbers, detail headers
    (re.compile(r" \(\d+\)$", re.M), " (n)"),  # node numbers, tree lines
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[]"),
    # an RDD's creation site, which depends on what ran before in the
    # session: "NativeMethodAccessorImpl.java:0" or "<unknown>:0"
    (re.compile(r"(\b\w*RDD\[\d*\] at \w+) at [^\s,]+:\d+"), r"\1"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(...)"),
    (re.compile(r"(?:file:|(?<=[\s\[,]))/(?:[^\s/,\[\]()]+/)+"), "<dir>/"),  # file paths
]


def normalize(plan: str) -> str:
    """The plan text with expression ids, lambda suffixes, node numbers,
    plan ids, RDD ids and creation sites, statistics and directories
    rewritten, so that plans of the same query from different sessions or
    inputs compare equal."""
    for pattern, repl in _VOLATILE:
        plan = pattern.sub(repl, plan)
    return plan


def fingerprint(normalized: str) -> str:
    """sha256 of a normalized plan text: what plans/fingerprints.json keeps."""
    return hashlib.sha256(normalized.encode()).hexdigest()


def plan_string(df) -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(jmode.fromString("formatted"))


def audit(df, execute: bool = False) -> dict:
    # Spark 4.1.x formatted plans no longer carry "codegen id :" markers, and
    # under AQE the codegen explain reports 0 subtrees until the plan is
    # finalized by actual execution. execute=True therefore (a) runs the
    # query's own QueryExecution JVM-side (RDD count — no rows to the driver;
    # df.count() would NOT work, it builds a fresh QueryExecution) and then
    # (b) counts WholeStageCodegen subtrees from the codegen explain mode.
    if execute:
        df._jdf.queryExecution().executedPlan().execute().count()
    p = plan_string(df)
    spans = len(set(re.findall(r"codegen id : (\d+)", p)))
    if execute and spans == 0:
        jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        cg = df._jdf.queryExecution().explainString(jmode.fromString("codegen"))
        m = re.search(r"Found (\d+) WholeStageCodegen subtrees", cg)
        spans = int(m.group(1)) if m else 0
    return {
        "batch_eval_python": len(re.findall(r"BatchEvalPython", p)),
        "arrow_python": len(re.findall(r"ArrowEvalPython|MapInArrow|FlatMapGroupsInArrow", p)),
        "cartesian": len(re.findall(r"CartesianProduct", p)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", p)),
        "codegen_spans": spans,
        "exchanges": len(re.findall(r"\bExchange\b", p)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]*Is", p)),
        "window_group_limit": len(re.findall(r"^\(\d+\) WindowGroupLimit\b", p, re.M)),
        # one block per node in the formatted details: "(n) Name" + its args
        "struct_min_max": sum(
            bool(re.match(r"\(\d+\) SortAggregate\b", b) and re.search(r"(?:min|max)\(struct\(", b))
            for b in re.split(r"\n(?=\(\d+\) )", p)
        ),
        "plan": p,
    }


def main() -> None:
    import __spark_entry__ as entry
    from geotreehealth_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-audit", cores=8)
    print(f"{'query':28s} {'rowPy':>5s} {'arrow':>5s} {'cart':>4s} {'bnlj':>4s} {'wsc':>3s} {'exch':>4s}")
    for name, fn in entry.queries().items():
        try:
            a = audit(fn(spark, sf_dir))
            print(
                f"{name:28s} {a['batch_eval_python']:5d} {a['arrow_python']:5d} "
                f"{a['cartesian']:4d} {a['bnlj']:4d} {a['codegen_spans']:3d} {a['exchanges']:4d}"
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name:28s} ERROR {type(e).__name__}: {e}")
    spark.stop()


if __name__ == "__main__":
    main()
