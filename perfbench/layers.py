"""Per-layer metrics of a traced run.

Inputs are three passes over the same mix, right after set-up:

- pass A, untraced, whose jobs are harvested by job group: driver split,
  Spark job/stage/task counters, Python-worker SQL metrics, row counts;
- pass B, traced (spans around the engine's public calls, see tracing.py),
  which gives each layer's wall time and the jobs issued inside it;
- pass A2, untraced again.

Tracing overhead is pass B's wall time minus the mean of A and A2.
"""

from __future__ import annotations

import json
import os

from perfbench.tracing import self_times, union_length

JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
KNN_OPS = ("knn", "knn_quadrant", "knn_negative_frame")
TEXT_OPS = ("minhash_lsh_pairs", "simhash_pairs", "ngram_jaccard_pairs", "ann_lsh_topk", "dedup_exact")
TEXT_PAIR_OPS = ("minhash_lsh_pairs", "simhash_pairs", "ngram_jaccard_pairs")

# metric -> span names (pass B) whose union of intervals is the metric
SPAN_TIMES = {
    "operators.knn.s": ("operators.knn.knn_join", "operators.knn.quadrant_knn_join"),
    "operators.knn.quadrant_s": ("operators.knn.quadrant_knn_join",),
    "operators.pip_join.s": ("operators.pip_join.pip_join", "operators.pip_join.pip_assign_best"),
    "operators.matching.s": ("operators.matching.containing_else_nearest",),
    "operators.nms.s": ("operators.nms.weighted_nms",),
    "operators.zonal.s": ("operators.zonal.zonal_raster_stats",),
    "operators.tiling.s": ("operators.tiling.assign_tiles", "operators.tiling.tile_grid"),
    "docs.generate_s": ("docs.stems_to_docs", "docs.lidar_to_docs"),
    "docs.decode_s": ("docs.decode_stems", "docs.decode_lidar"),
    "media.load_lidar_s": ("media.load_lidar_points",),
    "text.minhash_s": ("text.minhash_lsh_pairs",),
    "text.simhash_s": ("text.simhash_dedup_pairs",),
    "text.ngram_jaccard_s": ("text.ngram_jaccard_pairs",),
    "text.ann_s": ("text.ann_lsh_topk",),
    "text.dedup_exact_s": ("text.exact_dedup",),
    "lineage.fingerprint_s": ("lineage.partition_fingerprints",),
    "catalog.write_s": ("catalog.overwrite_partitions", "catalog.append"),
    "catalog.read_s": ("catalog.read",),
}
SPAN_JOBS = {
    "operators.knn.jobs": SPAN_TIMES["operators.knn.s"],
    "operators.nms.jobs": SPAN_TIMES["operators.nms.s"],
}

COUNTS = ("spark.jobs", "spark.stages", "spark.tasks", "synth.scan_rows", "python.rows_received",
          "operators.knn.jobs", "operators.nms.jobs", "text.candidate_pairs",
          "lineage.partitions_recomputed", "lineage.partitions_skipped", "catalog.files_written")


def unit_of(name: str) -> str:
    if name in COUNTS:
        return "count"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_s", ".s")):
        return "s"
    return "ratio"


def _spec() -> dict:
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


def _node_sum(nodes, metric: str, name_filter=lambda n: True) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes if name_filter(n["name"]))


def _op_nodes(harvest: dict, record: list, ops: tuple[str, ...]) -> list[dict]:
    groups = {r[0] for r in record if r[1] in ops}
    jobs = {j["id"] for j in harvest["jobs"] if j["group"] in groups}
    return [n for n in harvest["nodes"] if set(n["jobs"]) & jobs]


def _join_rows(nodes) -> float:
    return _node_sum(nodes, "number of output rows", lambda n: n.startswith(JOIN_NODES))


def per_layer(workload, rec_a, h_a, untraced, spans_b, h_b, pass_b, cores, register_s, counts):
    """(result metrics, table lines). ``untraced`` is the (A, A2) pass
    times. The result carries BENCHMARK.json's per_layer metrics; a timed
    workload must produce every one of them."""
    m: dict[str, float] = {}
    pass_a = untraced[0]

    # driver: query build (incl. eager jobs inside the call), final action,
    # and op wall time no Spark job covers
    jobs_by_group: dict[str, list] = {}
    for j in h_a["jobs"]:
        jobs_by_group.setdefault(j["group"], []).append(j)
    gap = 0.0
    for group, _name, _build, _action, start, end, _rows in rec_a:
        ivs = [(max(j["start"], start), min(j["end"], end))
               for j in jobs_by_group.get(group, []) if j["start"] and j["end"]]
        gap += (end - start) - union_length([iv for iv in ivs if iv[1] > iv[0]])
    m["driver.build_s"] = sum(r[2] for r in rec_a)
    m["driver.action_s"] = sum(r[3] for r in rec_a)
    m["driver.gap_s"] = gap

    # spark: jobs / stages / tasks and task metrics of the untraced pass
    stages = list(h_a["stages"].values())
    m["spark.jobs"] = len(h_a["jobs"])
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = sum(s["tasks"] for s in stages)
    m["spark.executor_run_s"] = sum(s["run_s"] for s in stages)
    m["spark.executor_cpu_s"] = sum(s["cpu_s"] for s in stages)
    m["spark.gc_s"] = sum(s["gc_s"] for s in stages)
    m["spark.core_idle_s"] = pass_a * cores - m["spark.executor_run_s"]
    for key in ("spill_bytes", "shuffle_write_bytes", "shuffle_read_bytes"):
        m[f"spark.{key}"] = sum(s[key] for s in stages)
    m["spark.peak_exec_memory_bytes"] = max((s["peak_exec_memory_bytes"] for s in stages), default=0)
    longest = max(stages, key=lambda s: s["run_s"], default=None)
    m["spark.task_skew"] = (longest["task_max_ms"] / longest["task_med_ms"]
                            if longest and longest["task_med_ms"] > 0 else 1.0)

    # python: Arrow/pandas UDF boundary, from the Python exec nodes' SQL metrics
    py = [n for n in h_a["nodes"] if "data returned from Python workers" in n["metrics"]]
    m["python.run_s"] = _node_sum(py, "time to run Python workers")
    m["python.boot_s"] = (_node_sum(py, "time to start Python workers")
                          + _node_sum(py, "time to initialize Python workers"))
    m["python.bytes_sent"] = _node_sum(py, "data sent to Python workers")
    m["python.bytes_received"] = _node_sum(py, "data returned from Python workers")
    m["python.rows_received"] = _node_sum(py, "number of output rows")

    m["synth.register_s"] = register_s
    m["synth.scan_rows"] = _node_sum(h_a["nodes"], "number of output rows", lambda n: n.startswith("Scan"))

    # per-layer wall time (union of the layer's spans) and jobs inside it;
    # 0 for a layer the workload does not call
    by_name: dict[str, list] = {}
    for s in spans_b:
        by_name.setdefault(s["name"], []).append((s["start"], s["end"]))
    for metric, names in SPAN_TIMES.items():
        m[metric] = union_length([iv for n in names for iv in by_name.get(n, [])])
    for metric, names in SPAN_JOBS.items():
        ivs = [iv for n in names for iv in by_name.get(n, [])]
        m[metric] = sum(1 for j in h_b["jobs"] if any(s <= j["start"] <= e for s, e in ivs))

    # fan-out: candidate rows out of the joins per result row
    rows = {r[1]: r[6] for r in rec_a}
    if any(o in rows for o in KNN_OPS):
        res = sum(rows.get(o, 0) for o in KNN_OPS)
        m["operators.knn.candidates_per_result"] = _join_rows(_op_nodes(h_a, rec_a, KNN_OPS)) / max(res, 1)
    # pip_join matches are only known where the traced pass materialises
    # each call: join rows of the jobs inside pip_join spans per match
    pip = [s for s in spans_b if s["name"] == "operators.pip_join.pip_join" and "rows" in s]
    if pip:
        jobs = {j["id"] for j in h_b["jobs"]
                if any(s["start"] <= j["start"] <= s["end"] for s in pip)}
        cand = _join_rows([n for n in h_b["nodes"] if set(n["jobs"]) & jobs])
        m["operators.pip_join.candidates_per_match"] = cand / max(sum(s["rows"] for s in pip), 1)
    if any(o in rows for o in TEXT_OPS):
        cand = _join_rows(_op_nodes(h_a, rec_a, TEXT_OPS))
        m["text.candidate_pairs"] = cand
        m["text.pairs_per_candidate"] = sum(rows.get(o, 0) for o in TEXT_PAIR_OPS) / max(cand, 1)

    if counts.get("recomputed") or counts.get("skipped"):
        m["lineage.partitions_recomputed"] = counts["recomputed"]
        m["lineage.partitions_skipped"] = counts["skipped"]
        writes = [n for n in h_a["nodes"] if "number of written files" in n["metrics"]]
        m["catalog.bytes_written"] = _node_sum(writes, "written output")
        m["catalog.files_written"] = _node_sum(writes, "number of written files")

    lines = [f"  {'metric':<40} {'value':>16} unit"]
    lines += [f"  {k:<40} {v:>16.4f} {unit_of(k)}" for k, v in sorted(m.items())]
    lines.append(f"  pass_s untraced={untraced[0]:.4f},{untraced[1]:.4f} traced={pass_b:.4f} "
                 f"tracing_overhead_s={pass_b - sum(untraced) / 2:.4f}")
    lines.append(f"  {'span':<44} {'calls':>5} {'incl_s':>9} {'self_s':>9}")
    for name, row in sorted(self_times(spans_b).items()):
        lines.append(f"  {name:<44} {row['calls']:>5} {row['incl_s']:>9.4f} {row['self_s']:>9.4f}")

    spec = _spec()
    listed = [x["name"] for x in spec["per_layer"]]
    missing = [k for k in listed if k not in m]
    if missing and workload in {w["name"] for w in spec["workloads"]}:
        raise RuntimeError(f"per-layer metrics not measured on {workload}: {missing}")
    metrics = {k: {"value": m[k], "unit": unit_of(k)} for k in listed if k in m}
    return metrics, lines
