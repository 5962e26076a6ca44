"""Traced runs: spans around the benchmark's calls into each engine layer, and
job / stage / SQL-operator metrics harvested from Spark's status stores.

Spans are recorded from the benchmark's side only. ``Tracer.install`` wraps
the public functions listed in ``LAYERS`` wherever a loaded engine module
refers to them (including ``from x import f`` copies), records a span per call
(name, start, end, parent, run id) and restores the originals on
``uninstall``. Nothing in the engine changes. A wrapped call's DataFrame
result is persisted and counted inside its span, so each layer's own work
lands in its own span instead of in the final action.

Harvesting works with ``spark.ui.enabled=false``: the app status store
(jobs, stages, task quantiles) and the SQL status store (per-operator
metrics) are populated by the listener bus either way.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import re
import sys
import time

from py4j.protocol import Py4JJavaError

# layer -> [(module, attribute)], the public calls a span is recorded around.
# Span names are "<layer>.<attribute>".
LAYERS: dict[str, list[tuple[str, str]]] = {
    "synth": [("geotreehealth_spark.synth", f) for f in
              ("register_tpch_views", "stems", "crowns", "lidar", "tiles", "plots")],
    "docs": [("geotreehealth_spark.docs.generator", "stems_to_docs"),
             ("geotreehealth_spark.docs.generator", "lidar_to_docs"),
             ("geotreehealth_spark.docs.decode", "decode_stems"),
             ("geotreehealth_spark.docs.decode", "decode_lidar")],
    "media": [("geotreehealth_spark.media", "load_lidar_points")],
    "operators.knn": [("geotreehealth_spark.operators.knn", "knn_join"),
                      ("geotreehealth_spark.operators.knn", "quadrant_knn_join")],
    "operators.pip_join": [("geotreehealth_spark.operators.pip_join", "pip_join"),
                           ("geotreehealth_spark.operators.pip_join", "pip_assign_best")],
    "operators.matching": [("geotreehealth_spark.operators.matching", "containing_else_nearest")],
    "operators.nms": [("geotreehealth_spark.operators.nms", "weighted_nms")],
    "operators.zonal": [("geotreehealth_spark.operators.zonal", "zonal_raster_stats")],
    "operators.tiling": [("geotreehealth_spark.operators.tiling", "assign_tiles"),
                         ("geotreehealth_spark.operators.tiling", "tile_grid")],
    "text": [("geotreehealth_spark.text.dedup", f) for f in
             ("minhash_lsh_pairs", "simhash_dedup_pairs", "ngram_jaccard_pairs", "exact_dedup")]
            + [("geotreehealth_spark.text.similarity", "ann_lsh_topk")],
    "lineage": [("geotreehealth_spark.lineage", "partition_fingerprints"),
                ("geotreehealth_spark.lineage", "run_stage")],
    "catalog": [("geotreehealth_spark.catalog", "Catalog.overwrite_partitions"),
                ("geotreehealth_spark.catalog", "Catalog.append"),
                ("geotreehealth_spark.catalog", "Catalog.read")],
}


class Tracer:
    """In-memory span recorder; spans are dicts, parents are span ids."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span around the block; yields the span dict."""
        span = {
            "id": len(self.spans), "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "run": self.run_id,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()

    def _wrap(self, name: str, fn):
        from pyspark.sql import DataFrame

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as span:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    span["rows"] = out.count()
                return out

        return traced

    def install(self) -> None:
        """Wrap every LAYERS function in every loaded module that holds it."""
        for layer, targets in LAYERS.items():
            for modname, attr in targets:
                mod = importlib.import_module(modname)
                if "." in attr:  # a method: patch the class attribute
                    cls_name, meth = attr.split(".")
                    cls = getattr(mod, cls_name)
                    orig = cls.__dict__[meth]
                    setattr(cls, meth, self._wrap(f"{layer}.{meth}", orig))
                    self._patched.append((cls, meth, orig))
                    continue
                orig = getattr(mod, attr)
                wrapped = self._wrap(f"{layer}.{attr}", orig)
                holders = [m for m in list(sys.modules.values())
                           if getattr(m, "__name__", "").startswith(("geotreehealth_spark", "__spark_entry__"))]
                for holder in holders:
                    for key, val in list(vars(holder).items()):
                        if val is orig:
                            setattr(holder, key, wrapped)
                            self._patched.append((holder, key, orig))

    def uninstall(self) -> None:
        for holder, key, orig in reversed(self._patched):
            setattr(holder, key, orig)
        self._patched.clear()


def self_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: inclusive seconds, self seconds (minus the union of its
    children's intervals) and call count."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        covered = union_length([(c["start"], c["end"]) for c in children.get(s["id"], [])])
        row = out.setdefault(s["name"], {"incl_s": 0.0, "self_s": 0.0, "calls": 0})
        row["incl_s"] += dur
        row["self_s"] += dur - covered
        row["calls"] += 1
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# status-store harvest
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}


def parse_metric(text: str) -> float:
    """SQL metric display string -> number (bytes, seconds or a count).

    Accumulated metrics read 'total (min, med, max ...)\\n<total> (...)';
    single-task ones are just '<value> <unit>'; sums are '1,234'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def harvest(spark, groups: set[str]) -> dict:
    """Jobs, stages and SQL operator metrics for the given job groups.

    Returns {"jobs": [...], "stages": {...}, "nodes": [...]} where each job
    carries its group, submit/complete epoch seconds and stage ids, each stage
    its task metrics, and each SQL plan node (of executions whose jobs are in
    the groups) its name, execution id, job ids and parsed metrics."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    gw = spark.sparkContext._gateway
    quant = gw.new_array(gw.jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0

    jobs = []
    for j in _seq(store.jobsList(None)):
        group = _opt(j.jobGroup())
        if group not in groups:
            continue
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        jobs.append({
            "id": j.jobId(), "group": group,
            "start": sub.getTime() / 1000 if sub else None,
            "end": done.getTime() / 1000 if done else None,
            "stages": list(_seq(j.stageIds())),
        })
    stages = {}
    for sid in sorted({s for j in jobs for s in j["stages"]}):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never ran has no attempt data
            continue
        if st.numCompleteTasks() == 0:
            continue  # skipped: its shuffle output was reused
        med = mx = 0.0
        summ = _opt(store.taskSummary(sid, st.attemptId(), quant))
        if summ is not None:
            rt = summ.executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
        stages[sid] = {
            "tasks": st.numCompleteTasks(),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "peak_exec_memory_bytes": st.peakExecutionMemory(),
            "task_med_ms": med, "task_max_ms": mx,
        }
    job_ids = {j["id"] for j in jobs}
    sql = spark._jsparkSession.sharedState().statusStore()
    nodes = []
    for ex in _seq(sql.executionsList()):
        jids = {int(k) for k in _seq(ex.jobs().keys().toSeq())}
        if not jids & job_ids:
            continue
        eid = ex.executionId()
        values = sql.executionMetrics(eid)
        seen: set[int] = set()  # a reused subtree lists the same accumulators twice
        for node in _seq(sql.planGraph(eid).allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                acc = m.accumulatorId()
                v = _opt(values.get(acc))
                if v is not None and acc not in seen:
                    seen.add(acc)
                    metrics[m.name()] = parse_metric(v)
            if metrics:
                nodes.append({"exec": eid, "jobs": sorted(jids), "name": node.name(), "metrics": metrics})
    return {"jobs": jobs, "stages": stages, "nodes": nodes}
