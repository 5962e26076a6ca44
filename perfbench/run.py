"""Repo benchmark: one seeded workload, closed loop, one client, local[4].

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from --seed into a work directory inside the
checkout, starts a SparkSession on local[4], registers the views and runs the
warm-up pass (all of that is ``setup_s``), then runs timed passes over the
workload's operation mix until --seconds have elapsed, one operation at a
time. Every operation's output is checked (see workloads.py). The last stdout
line is the JSON result; the lines before it are a human-readable table.

With --trace 1 the run makes an untraced, a traced and another untraced
pass after set-up and prints the per-layer metrics instead (see layers.py,
tracing.py and README.md).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# per-process scratch: the JVM's local and temp dirs (fixed at JVM launch)
# plus one run-* directory per run; removed when the JVM has exited
PROC_WORK = os.path.join(ROOT, ".perfbench_work", f"pid-{os.getpid()}")
DRIVER_MEM = "1g"  # the engine's 24g default exceeds a 15 GB host


def host_probe_ms() -> float:
    """Fixed single-threaded CPU probe (median of 5), stamped beside results
    so a run taken on a throttled host can be told apart."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        h = b"perfbench"
        for _ in range(20_000):
            h = hashlib.sha256(h).digest()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat: the share of
    time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_rss_mb(root_pid: int) -> float:
    """VmRSS of a process plus that of its Python descendants, in MB. Other
    descendants are skipped: the JVM forks short-lived helpers (Hadoop's
    local file system shells out for permissions), and until such a child
    execs it shares the JVM's memory and would count it twice."""
    total_kb, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            if pid != root_pid:
                with open(f"/proc/{pid}/comm") as f:
                    if not f.read().startswith("python"):
                        continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
        stack.extend(_children(pid))
    return total_kb / 1024.0


class RssSampler:
    """Peak of the JVM tree's summed VmRSS (JVM plus the Python daemon and
    workers it forks), sampled every ``interval`` seconds on a thread while
    the timed passes run."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid, self.interval = root_pid, interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_mb(self.root_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def percentile_note(samples: list[float]) -> str:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 20:
        return f"median of {n} pass(es); no percentile has 10 samples beyond it"
    p = int((1 - 10 / n) * 100)
    value = statistics.quantiles(samples, n=100, method="inclusive")[p - 1]
    return f"median of {n} passes; p{p}={value:.4f}s"


class Bench:
    """One benchmark run: inputs, session, passes, checks, metrics."""

    def __init__(self, workload: str, seed: int, work: str, scale: float = 1.0):
        from perfbench import inputs

        self.workload, self.seed, self.work = workload, seed, work
        self.in_dir = os.path.join(work, "in")
        self.input_bytes = inputs.write(seed, self.in_dir, scale)
        self.run_id = f"{workload}-{seed}-{os.getpid()}"
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.jvm_pid = None
        self.incr = None
        self.recomputed = self.skipped = 0
        self.extra: dict[str, tuple[float, str]] = {}
        self.phases: dict[str, float] = {}
        self.op_log: list = []

    # -- session -----------------------------------------------------------
    def start(self) -> None:
        from geotreehealth_spark import synth
        from geotreehealth_spark.session import get_spark
        from pyspark import SparkContext

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(PROC_WORK, 'tmp')} -XX:-UsePerfData",
        }
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        t1 = time.perf_counter()
        synth.register_tpch_views(self.spark, self.in_dir)
        self.register_s = time.perf_counter() - t1
        self.phases["session"] = t1 - t0
        self.phases["register"] = self.register_s

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def release_caches(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    # -- operations --------------------------------------------------------
    def run_op(self, op, tag: str, record: list) -> float:
        """Build + materialise one operation, then check it (untimed).
        Appends (group, name, build_s, action_s, start, end, rows) to record."""
        group = f"pb:{self.run_id}:{tag}:{op.name}"
        self.group(group)
        self.attempted += 1
        start = time.time()
        t0 = time.perf_counter()
        result = None
        try:
            df = op.build(self.spark)
            t1 = time.perf_counter()
            result = df.toPandas()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            t1 = t2 = time.perf_counter()
            first_line = (str(exc).splitlines() or [""])[0][:200]
            self._fail(op.name, f"raised {type(exc).__name__}: {first_line}")
            traceback.print_exc(file=sys.stderr)
        end = time.time()
        self.group(f"pb:{self.run_id}:check")
        self.release_caches()
        if result is not None:
            reason = op.check(result)
            if reason:
                self._fail(op.name, reason)
        record.append((group, op.name, t1 - t0, t2 - t1, start, end, 0 if result is None else len(result)))
        return t2 - t0

    def _fail(self, name: str, reason: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {reason}")
        print(f"FAILED {name}: {reason}", file=sys.stderr)

    def run_pass(self, ops, tag: str, record: list, resume: bool = True) -> float:
        total = sum(self.run_op(op, tag, record) for op in ops)
        if resume and self.incr is not None:
            total += self.incremental_pass(tag, record)
        return total

    # -- incremental_resume ------------------------------------------------
    def incremental_setup(self) -> None:
        from perfbench.workloads import Incremental, Op

        self.incr = Incremental(self.spark, self.in_dir, os.path.join(self.work, "catalog"), self.seed)
        t = self.run_op(Op("full_build", lambda spark: self.incr.run()), "full", [])
        self.extra["full_build_s"] = (t, "s")
        n_rows = self.incr.lineage_rows()
        if n_rows != len(self.incr.keys):
            self._fail("full_build", f"{n_rows} lineage rows, want {len(self.incr.keys)}")
        self.extra["space_amp"] = (self.incr.disk_bytes() / self.input_bytes, "bytes/byte")

    def incremental_pass(self, tag: str, record: list) -> float:
        from perfbench.workloads import Op

        incr = self.incr
        n_changed = incr.mutate()
        total = 0.0
        for step, want in (("resume_changed", n_changed), ("resume_unchanged", 0)):
            before = incr.lineage_rows()
            total += self.run_op(Op(step, lambda spark: incr.run()), tag, record)
            self.group(f"pb:{self.run_id}:check")
            got = incr.lineage_rows() - before
            self.recomputed += got
            self.skipped += len(incr.keys) - got
            if got != want:
                self._fail(step, f"recomputed {got} partitions, want {want}")
        return total

    def incremental_final_check(self) -> None:
        from perfbench.workloads import fingerprint

        self.group(f"pb:{self.run_id}:check")
        resumed = fingerprint(self.incr.run().toPandas())
        scratch = fingerprint(self.incr.from_scratch())
        self.attempted += 1
        if resumed != scratch:
            self._fail("resume_vs_scratch", f"resumed {resumed} != from-scratch {scratch}")

    # -- the run -----------------------------------------------------------
    def ops(self):
        from perfbench import workloads

        return workloads.build_ops(self.workload, self.in_dir, self.seed)

    def setup(self, ops) -> float:
        from perfbench.workloads import RESUME

        t0 = time.perf_counter()
        self.start()
        if self.workload in RESUME:
            self.incremental_setup()

        # the full build has already warmed the resume path (its first
        # resume runs within a few % of later ones), so warm-up skips it
        t1 = time.perf_counter()
        self.run_pass(ops, "warmup", self.op_log, resume=False)
        self.phases["warmup"] = time.perf_counter() - t1
        return time.perf_counter() - t0

    def measure(self, ops, seconds: float) -> tuple[list[float], float]:
        passes = []
        t_end = time.perf_counter() + seconds
        with RssSampler(self.jvm_pid) as rss:
            while True:
                passes.append(self.run_pass(ops, f"p{len(passes)}", self.op_log))
                if time.perf_counter() >= t_end:
                    return passes, rss.peak

    def traced(self, ops) -> tuple[dict, list[str]]:
        """Untraced, traced and untraced passes; per-layer metrics. The two
        untraced passes bracket the traced one, so the JVM still warming
        from pass to pass does not read as negative tracing overhead."""
        from perfbench import layers
        from perfbench.tracing import Tracer, harvest

        rec_a: list = []
        self.recomputed = self.skipped = 0
        pass_a = self.run_pass(ops, "untraced", rec_a)
        counts = {"recomputed": self.recomputed, "skipped": self.skipped}
        tracer = Tracer(self.run_id)
        rec_b: list = []
        tracer.install()
        try:
            pass_b = self.run_pass(ops, "traced", rec_b)
        finally:
            tracer.uninstall()
        pass_a2 = self.run_pass(ops, "untraced2", [])
        h_a = harvest(self.spark, {r[0] for r in rec_a})
        h_b = harvest(self.spark, {r[0] for r in rec_b})
        return layers.per_layer(
            self.workload, rec_a, h_a, (pass_a, pass_a2), tracer.spans, h_b, pass_b, CORES,
            self.register_s, counts,
        )


def stop_gateway() -> None:
    """Shut down the py4j gateway JVM (and with it the Python workers it
    forked) and wait for it to exit. The JVM outlives ``SparkSession.stop``,
    and a process may start only one: pandas UDF objects cache their JVM
    handle, so runs sharing a process must share its JVM."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    shutil.rmtree(PROC_WORK, ignore_errors=True)


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: float = 1.0) -> tuple[dict, list[str]]:
    """One benchmark run; returns (result object, human-readable lines)."""
    from perfbench.workloads import WORKLOADS

    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; choose from {', '.join(WORKLOADS)}")
    work = os.path.join(PROC_WORK, f"run-{time.time_ns()}")
    os.makedirs(work)
    os.makedirs(os.path.join(PROC_WORK, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(PROC_WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(PROC_WORK, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    probe_before = host_probe_ms()
    ticks_before = cpu_ticks()
    bench = Bench(workload, seed, work, scale)
    lines = [f"perfbench workload={workload} seed={seed} cores={CORES} "
             f"driver_mem={DRIVER_MEM} trace={int(trace)}"]
    try:
        t0 = time.perf_counter()
        ops = bench.ops()
        bench.phases["oracle"] = time.perf_counter() - t0
        setup_s = bench.setup(ops)
        if trace:
            metrics, layer_lines = bench.traced(ops)
            lines += layer_lines
        else:
            passes, peak = bench.measure(ops, seconds)
            if bench.incr is not None:
                bench.incremental_final_check()
            fail_ratio = bench.failed / bench.attempted
            table = [
                ("setup_s", setup_s, "s", "session + view registration + full build (resume) + warm-up pass"),
                ("pass_s", statistics.median(passes), "s", percentile_note(passes)),
                ("fail_ratio", fail_ratio, "ratio", f"{bench.failed}/{bench.attempted} operations"),
                ("peak_rss_mb", peak, "MB", "peak summed VmRSS of the JVM and its Python workers"),
            ]
            table += [(k, v, u, "resume step (lineage.run_stage)") for k, (v, u) in bench.extra.items()]
            lines += [f"  {n:<14} {v:>14.4f} {u:<10} {note}" for n, v, u, note in table]
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "pass_s": {"value": statistics.median(passes), "unit": "s"},
                "peak_rss_mb": {"value": peak, "unit": "MB"},
            }
    finally:
        t0 = time.perf_counter()
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        bench.phases["close"] = time.perf_counter() - t0
    ticks_after = cpu_ticks()
    probe_after = host_probe_ms()
    steal = (ticks_after[0] - ticks_before[0]) / max(ticks_after[1] - ticks_before[1], 1)
    lines.append(f"host probe_ms before={probe_before:.1f} after={probe_after:.1f} "
                 f"steal={100 * steal:.1f}% (fixed single-threaded probe, and the share of "
                 f"CPU time the hypervisor took during the run; a large rise in either "
                 f"means a throttled host)")
    per_op: dict[str, list[str]] = {}
    for group, name, build_s, action_s, *_ in bench.op_log:
        per_op.setdefault(name, []).append(f"{build_s + action_s:.2f}")
    lines.append("op_s (warm-up pass first) " + " ".join(f"{k}={'/'.join(v)}" for k, v in per_op.items()))
    lines.append("phases_s " + " ".join(f"{k}={v:.2f}" for k, v in bench.phases.items()))
    lines += [f"FAILED {f}" for f in bench.failures]
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    return result, lines


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    # run as a script, sys.path[0] is perfbench/ itself: import the engine
    # and perfbench (as a package) from the repo root instead
    sys.path[0] = ROOT
    try:
        import __spark_entry__  # noqa: F401
        import geotreehealth_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine sources not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    try:
        result, lines = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_gateway()
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
