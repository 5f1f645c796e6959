"""Runs one workload in this process: set-up rounds, the timed loop, the
output checks, and for a traced run the per-layer breakdown.

One Python process, one local Spark session at a time, no client threads.
Ops run one after another; after each op the session is scrubbed the way
``bench.py`` does it (streaming memory-sink views dropped, session-scoped
checkpoints released, cache cleared), so every op starts from a clean block
manager.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import sys
import time
import types
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from perfbench import datagen, eventlog, reference
from perfbench.workloads import Op, Workload

# Set-up rounds are repeated and their median reported. Round 1 also
# launches the JVM; later rounds stop the SparkContext and start a fresh one
# in the same JVM, and generate and read the inputs again. The workload's
# warm-up (starting Python workers) runs once, after the last round, and is
# added to the median: it takes seconds, and the run budget allows it once.
SETUP_ROUNDS = 3
KERNEL_ROWS = 200_000


@dataclass
class OpSample:
    op: str
    layer: str
    pass_no: int
    build_s: float
    action_s: float
    release_s: float
    spans: list[eventlog.Span]
    rows_loaded: int
    load_s: float
    persistent_rdds_after_op: int
    leaked_rdds_after_scrub: int
    loadavg: tuple[float, float]
    steal_pct: float | None
    error: str | None = None
    result: Any = None
    problem: str | None = None

    @property
    def latency_s(self) -> float:
        return self.build_s + self.action_s


@dataclass
class LoadRecorder:
    """Wraps ``sources.load_table`` where the program's modules bound it, to
    count the rows and time each op's table loads from outside."""

    rows: dict[str, int]
    calls: list[tuple[str, float]] = field(default_factory=list)

    def install(self) -> None:
        from polars_numba_spark.sources import tables

        original = tables.load_table

        @functools.wraps(original)
        def load_table(spark, name, sf_dir=tables.DEFAULT_SF_DIR):
            t0 = time.perf_counter()
            try:
                return original(spark, name, sf_dir)
            finally:
                self.calls.append((name, time.perf_counter() - t0))

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("polars_numba_spark") and getattr(
                mod, "load_table", None
            ) is original:
                mod.load_table = load_table

    def since(self, mark: int) -> tuple[int, float]:
        calls = self.calls[mark:]
        return sum(self.rows.get(n, 0) for n, _ in calls), sum(s for _, s in calls)


class Runner:
    def __init__(self, wl: Workload, seed: int, work_dir: str, trace: bool):
        self.wl = wl
        self.seed = seed
        self.trace = trace
        self.work_dir = work_dir
        self.data_dir = wl.data_dir = os.path.join(work_dir, "data")
        self.event_dir = os.path.join(work_dir, "events")
        self.spark = None
        self.recorder = LoadRecorder({})
        self.setup_rounds: list[dict] = []
        self.warmup_s = 0.0

    # --- session -----------------------------------------------------------

    def _conf(self, event_log: bool) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            # SparkSession.builder keeps options between sessions: always set this
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def scrub(self) -> None:
        from polars_numba_spark.plans.checkpoint import release_session_checkpoints

        for table in self.spark.catalog.listTables():
            if table.name.startswith("pns_"):
                self.spark.catalog.dropTempView(table.name)
        release_session_checkpoints(self.spark)
        self.spark.catalog.clearCache()

    def persistent_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def setup_round(self, event_log: bool) -> None:
        """Session start, input generation and a first read of the inputs."""
        import polars_numba_spark as pns
        from polars_numba_spark.sources import tables

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = pns.get_spark(app_name=f"perfbench-{self.wl.name}", extra_conf=self._conf(event_log))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.recorder.rows = self.wl.generate(self.data_dir)
        t2 = time.perf_counter()
        for name in self.wl.tables:
            tables.load_table(self.spark, name, self.data_dir).write.format("noop").mode("overwrite").save()
        self.scrub()
        t3 = time.perf_counter()
        self.setup_rounds.append({
            "get_spark_s": t1 - t0, "generate_s": t2 - t1, "read_s": t3 - t2, "total_s": t3 - t0,
        })

    def setup(self, event_log: bool, rounds: int = SETUP_ROUNDS) -> None:
        for _ in range(rounds):
            self.setup_round(event_log)
        t0 = time.perf_counter()
        if self.wl.warmup is not None:
            self.wl.warmup(self.spark)
        self.warmup_s = time.perf_counter() - t0

    def jvm_retained_mb(self) -> tuple[float, float]:
        """Heap and non-heap memory the JVM still uses after a full GC."""
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getUsed() / 2**20, mx.getNonHeapMemoryUsage().getUsed() / 2**20

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in /proc status")

    # --- ops ---------------------------------------------------------------

    def run_op(self, op: Op, pass_no: int) -> OpSample:
        from pyspark.sql import DataFrame

        from bench import read_cpu_jiffies, steal_pct

        mark = len(self.recorder.calls)
        load0, jiffies0 = os.getloadavg()[0], read_cpu_jiffies()
        error, result = None, None
        w0, t0 = time.time(), time.perf_counter()
        t1 = w1 = None
        try:
            out = op.build(self.spark)
            t1, w1 = time.perf_counter(), time.time()
            result = out.toPandas() if isinstance(out, DataFrame) else out
        except Exception as exc:  # an op that raises is a failed op; the loop goes on
            error = f"{type(exc).__name__}: {exc}"[:500]
        t2, w2 = time.perf_counter(), time.time()
        if t1 is None:
            t1, w1 = t2, w2
        persistent = self.persistent_rdds()
        self.scrub()
        t3, w3 = time.perf_counter(), time.time()
        rows, load_s = self.recorder.since(mark)
        return OpSample(
            op=op.name, layer=op.layer, pass_no=pass_no,
            build_s=t1 - t0, action_s=t2 - t1, release_s=t3 - t2,
            spans=[
                eventlog.Span(f"{pass_no}/{op.name}/build", w0 * 1e3, w1 * 1e3),
                eventlog.Span(f"{pass_no}/{op.name}/action", w1 * 1e3, w2 * 1e3),
                eventlog.Span(f"{pass_no}/{op.name}/release", w2 * 1e3, w3 * 1e3),
            ],
            rows_loaded=rows, load_s=load_s,
            persistent_rdds_after_op=persistent, leaked_rdds_after_scrub=self.persistent_rdds(),
            loadavg=(round(load0, 2), round(os.getloadavg()[0], 2)),
            steal_pct=steal_pct(jiffies0, read_cpu_jiffies()),
            error=error, result=result,
        )

    def run_pass(self, order: list[Op], pass_no: int) -> tuple[float, list[OpSample]]:
        t0 = time.perf_counter()
        samples = [self.run_op(op, pass_no) for op in order]
        return time.perf_counter() - t0, samples

    def check(self, samples: list[OpSample]) -> None:
        ops = {op.name: op for op in self.wl.ops}
        for s in samples:
            if s.error is None:
                try:
                    s.problem = ops[s.op].check(s.result)
                except Exception as exc:  # a check that cannot run fails the op
                    s.problem = f"check raised {type(exc).__name__}: {exc}"[:500]
            s.result = None

    # --- runs --------------------------------------------------------------

    def run(self, seconds: float) -> dict:
        """Set up, then time whole passes over the ops: at least one, and
        another only while it should end within ``seconds``. The first pass
        also pays each op's first use in the session. A traced run times
        its passes with the event log on, then one untraced pass."""
        self.recorder.install()
        self.setup(event_log=self.trace)
        setup_s = statistics.median(r["total_s"] for r in self.setup_rounds) + self.warmup_s
        app_id = self.spark.sparkContext.applicationId
        order = list(self.wl.ops)
        passes: list[float] = []
        timed: list[OpSample] = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 + statistics.median(passes) <= seconds:
            wall, got = self.run_pass(order, len(passes))
            passes.append(wall)
            timed.extend(got)
        rss, (heap, non_heap) = self.jvm_peak_rss_mb(), self.jvm_retained_mb()
        self.spark.stop()  # also flushes and closes the event log
        samples = list(timed)
        if self.trace:
            layers, per_op = self._layers(app_id, timed, passes)
            self.setup(event_log=False, rounds=1)
            plain_wall, plain = self.run_pass(order, len(passes))
            self.spark.stop()
            samples += plain
            # the untraced pass runs in a warmer JVM: an upper bound
            layers["trace.overhead_s"] = statistics.median(passes) - plain_wall
            layers["session.jvm_peak_rss_mb"] = rss
        self.check(samples)
        lat = [s.latency_s for s in timed]
        by_op: dict[str, list[float]] = {}
        for s in timed:
            by_op.setdefault(s.op, []).append(s.latency_s)
        failed = [s for s in samples if s.error or s.problem]
        report = {
            "end_to_end": {
                "setup_s": setup_s,
                "wall_s": statistics.median(passes),
                "op_p50_s": statistics.median(lat),
                "op_max_s": max(statistics.median(v) for v in by_op.values()),
                "rows_per_s": sum(s.rows_loaded for s in timed) / sum(lat),
                "jvm_retained_mb": heap + non_heap,
            },
            "attempted": len(samples),
            "failed": len(failed),
            "fail_ratio": len(failed) / len(samples),
            "jvm_peak_rss_mb": rss,
            "jvm_heap_retained_mb": heap,
            "jvm_non_heap_mb": non_heap,
            "setup_rounds": self.setup_rounds,
            "passes": passes,
            "failures": [{"op": s.op, "pass": s.pass_no, "error": s.error, "problem": s.problem} for s in failed],
            "ops": [
                {
                    "op": s.op, "pass": s.pass_no, "build_s": s.build_s, "action_s": s.action_s,
                    "release_s": s.release_s, "rows_loaded": s.rows_loaded, "load_s": s.load_s,
                    "loadavg": s.loadavg, "steal_pct": s.steal_pct,
                }
                for s in samples
            ],
        }
        if self.trace:
            report.update(layers=layers, per_op=per_op)
        return report

    def _layers(self, app_id: str, traced: list[OpSample], passes: list[float]) -> tuple[dict, list[dict]]:
        log = eventlog.parse(eventlog.read_events(os.path.join(self.event_dir, app_id)))
        layers, per_op = layer_metrics(log, traced)
        layers.update(kernel_metrics(datagen.fold_events(self.seed, KERNEL_ROWS)))
        get_spark_s = [r["get_spark_s"] for r in self.setup_rounds]
        layers["session.jvm_launch_s"] = get_spark_s[0]
        layers["session.get_spark_s"] = statistics.median(get_spark_s)
        layers["trace.wall_s"] = statistics.median(passes)
        return layers, per_op


def kernel_metrics(cols: dict[str, np.ndarray]) -> dict[str, float]:
    """Rows per second of the fold and scan kernels called directly on the
    generated amounts, and the cost of compiling a step never seen before."""
    from polars_numba_spark.kernels import compile_step_function, get_folder, get_scanner

    valid = cols["amount_valid"]
    amounts = cols["amount"][valid]
    filled = np.where(valid, cols["amount"], 0.0)
    extra = (reference.CAP_LIMIT,)
    step = compile_step_function(reference.cap_step)
    folder, scanner = get_folder(1), get_scanner(1)

    def rate(fn) -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = fn()
            times.append(time.perf_counter() - t0)
        return n / statistics.median(times)

    def fold() -> int:
        folder(step, 0.0, extra, amounts)
        return len(amounts)

    def scan() -> int:
        out = np.empty(len(filled))
        scanner(step, 0.0, extra, out, ~valid, filled)
        return len(filled)

    fresh = types.FunctionType(reference.cap_step.__code__, reference.cap_step.__globals__, "cap_step_fresh")
    t0 = time.perf_counter()
    folder(compile_step_function(fresh), 0.0, extra, amounts[:1])
    compile_s = time.perf_counter() - t0
    return {
        "kernels.fold_rows_per_s": rate(fold),
        "kernels.scan_rows_per_s": rate(scan),
        "kernels.compile_s": compile_s,
    }


def layer_metrics(log: eventlog.EventLog, samples: list[OpSample]) -> tuple[dict, list[dict]]:
    """Per-op layer breakdown of the traced pass and its workload totals."""
    spans = [sp for s in samples for sp in s.spans]
    jobs = eventlog.attribute_jobs(log.jobs.values(), spans)
    pass_lo, pass_hi = spans[0].start_ms, spans[-1].end_ms
    per_op = []
    for s in samples:
        build, action, release = (eventlog.span_metrics(log, sp, jobs[sp.name]) for sp in s.spans)
        row = {"op": s.op, "layer": s.layer}
        for k in eventlog.SPAN_METRICS:
            row[k] = build[k] + action[k]
        row["streaming.trigger_ms_p50"] = max(build["streaming.trigger_ms_p50"], action["streaming.trigger_ms_p50"])
        row[f"{s.layer}.build_s"] = s.build_s
        row[f"{s.layer}.action_s"] = s.action_s
        if s.layer == "queries":
            row["queries.build_jobs"] = build["spark.jobs"]
            row["queries.action_jobs"] = action["spark.jobs"]
        row["sources.load_table_s"] = s.load_s
        row["plans.persistent_rdds_after_op"] = s.persistent_rdds_after_op
        row["plans.leaked_rdds_after_scrub"] = s.leaked_rdds_after_scrub
        row["plans.release_s"] = s.release_s
        row["wall_ms"] = build["wall_ms"] + action["wall_ms"]
        row["job_union_ms"] = build["job_union_ms"] + action["job_union_ms"]
        row["reconciled"] = build["reconciled"] and action["reconciled"] and release["reconciled"]
        per_op.append(row)
    batches = eventlog.progress_between(log, pass_lo, pass_hi)
    totals: dict[str, float] = {}
    summed = [
        *eventlog.SPAN_METRICS, "queries.build_s", "queries.action_s", "queries.build_jobs",
        "queries.action_jobs", "operators.build_s", "operators.action_s",
        "sources.load_table_s", "plans.release_s",
    ]
    for k in summed:
        totals[k] = float(sum(row.get(k, 0) for row in per_op))
    totals["streaming.trigger_ms_p50"] = eventlog.streaming_metrics(batches)["streaming.trigger_ms_p50"]
    for k in ("plans.persistent_rdds_after_op", "plans.leaked_rdds_after_scrub"):
        totals[k] = float(max(row[k] for row in per_op))
    totals["trace.unreconciled_ops"] = float(sum(not row["reconciled"] for row in per_op))
    totals["trace.unattributed_jobs"] = float(
        sum(pass_lo <= j.submit_ms <= pass_hi for j in jobs[None])
    )
    return totals, per_op


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM that PySpark launched for this process and wait for it.
    PySpark's gateway server exits when its stdin closes; the Python workers
    are its children and end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=timeout_s)


def clean(work_dir: str) -> None:
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)


def clean_scratch(work_dir: str) -> None:
    """Remove everything a run leaves in ``work_dir`` but its result files."""
    for name in os.listdir(work_dir):
        path = os.path.join(work_dir, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
