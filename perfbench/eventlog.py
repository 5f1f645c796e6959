"""Spark event-log parser for the traced run.

The traced run enables Spark's event log (uncompressed JSON lines, one file
per application) and records the wall-clock window of every span it times:
an op's build call, its action, and the scrub after it. Spans run one after
another in one process, so each Spark job belongs to the span whose window
holds the job's submission time. That also covers jobs that operators submit
from their own worker threads, which carry no job group or tag.

Tasks are attributed the same way, by launch time. From a span's jobs and
tasks this module derives the ``spark.*`` task metrics, the
Python plan-node metrics (``operators.py_*``), the streaming progress
metrics (``streaming.*``), and ``spark.driver_gap_ms``: span wall minus the
union of its job intervals.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
from dataclasses import dataclass, field
from typing import Iterable, Iterator

# SQL metric names of the Python plan nodes (MapInArrow, MapInPandas,
# FlatMapGroupsInPandas, ...) -> per-layer metric name.
PYTHON_SQL_METRICS = {
    "time to run Python workers": "operators.py_run_ms",
    "time to start Python workers": "operators.py_boot_ms",
    "time to initialize Python workers": "operators.py_init_ms",
    "data sent to Python workers": "operators.py_bytes_sent",
    "data returned from Python workers": "operators.py_bytes_received",
}

TASK_METRICS = (
    "spark.executor_run_ms",
    "spark.executor_cpu_ms",
    "spark.gc_ms",
    "spark.scheduler_delay_ms",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.fetch_wait_ms",
    "spark.input_bytes",
)

STREAMING_METRICS = (
    "streaming.batches",
    "streaming.trigger_ms_p50",
    "streaming.add_batch_ms",
    "streaming.planning_ms",
    "streaming.state_commit_ms",
)

SPAN_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.driver_gap_ms",
    *TASK_METRICS,
    *PYTHON_SQL_METRICS.values(),
    *STREAMING_METRICS,
)

_PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None = None


@dataclass
class Span:
    """A timed window on the wall clock, in epoch milliseconds."""

    name: str
    start_ms: float
    end_ms: float


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    failed: bool
    metrics: dict[str, float]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)


def read_events(path: str) -> Iterator[dict]:
    """Events of one application's log, written with rolling and compression
    off (one JSON object per line)."""
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def progress_between(log: EventLog, lo_ms: float, hi_ms: float) -> list[dict]:
    """Streaming progress events whose trigger started in ``[lo_ms, hi_ms]``."""
    def start_ms(p: dict) -> float:
        return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000.0

    return [p for p in log.progress if lo_ms <= start_ms(p) <= hi_ms]


def _task(ev: dict) -> Task:
    info = ev.get("Task Info", {})
    tm = ev.get("Task Metrics") or {}
    run = tm.get("Executor Run Time", 0)
    deser = tm.get("Executor Deserialize Time", 0)
    ser = tm.get("Result Serialization Time", 0)
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    getting = info.get("Getting Result Time", 0)
    fetch = finish - getting if getting else 0
    read = tm.get("Shuffle Read Metrics", {})
    metrics = {
        "spark.executor_run_ms": run,
        "spark.executor_cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
        "spark.gc_ms": tm.get("JVM GC Time", 0),
        # Spark UI's definition: task duration not spent deserializing,
        # running, serializing the result or shipping it back.
        "spark.scheduler_delay_ms": max(0, finish - launch - run - deser - ser - fetch),
        "spark.shuffle_write_bytes": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spark.shuffle_read_bytes": read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
        "spark.fetch_wait_ms": read.get("Fetch Wait Time", 0),
        "spark.input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
    }
    # The Python plan nodes' SQL metrics ride on the task's accumulator
    # updates, named as in the UI; all are "timing" (ms) or "size" (bytes).
    for acc in info.get("Accumulables", ()):
        name = PYTHON_SQL_METRICS.get(acc.get("Name"))
        if name is not None and "Update" in acc:
            metrics[name] = metrics.get(name, 0) + float(acc["Update"])
    failed = ev.get("Task End Reason", {}).get("Reason") != "Success"
    return Task(ev["Stage ID"], launch, failed, metrics)


def parse(events: Iterable[dict]) -> EventLog:
    log = EventLog()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            log.tasks.append(_task(ev))
        elif kind == _PROGRESS_EVENT:
            log.progress.append(ev["progress"])
    return log


def attribute_jobs(jobs: Iterable[Job], spans: list[Span]) -> dict[str, list[Job]]:
    """Jobs of each span, by submission time; ``None`` key holds the jobs
    submitted outside every span."""
    out: dict = {s.name: [] for s in spans}
    out[None] = []
    ordered = sorted(spans, key=lambda s: s.start_ms)
    for job in jobs:
        owner = None
        for s in ordered:
            if s.start_ms <= job.submit_ms <= s.end_ms:
                owner = s.name
                break
        out[owner].append(job)
    return out


def union_ms(intervals: Iterable[tuple[float, float]], lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``[start, end]`` intervals, clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_metrics(log: EventLog, span: Span, jobs: list[Job], tolerance_ms: float = 50.0) -> dict:
    """Per-layer metrics of one span from the jobs attributed to it.

    ``reconciled`` is true when the span's jobs lie inside its window (up to
    ``tolerance_ms`` of clock granularity): only then does the union of the
    job intervals plus ``spark.driver_gap_ms`` account for the span's wall
    time rather than for time the span did not measure.
    """
    wall = span.end_ms - span.start_ms
    intervals = [(j.submit_ms, j.end_ms if j.end_ms is not None else span.end_ms) for j in jobs]
    inside = union_ms(intervals, span.start_ms, span.end_ms)
    spill = union_ms(intervals) - inside
    out: dict = {m: 0.0 for m in SPAN_METRICS}
    out["spark.jobs"] = len(jobs)
    tasks = [t for t in log.tasks if span.start_ms <= t.launch_ms <= span.end_ms]
    out["spark.stages"] = len({t.stage_id for t in tasks})
    out["spark.tasks"] = len(tasks)
    out["spark.failed_tasks"] = sum(t.failed for t in tasks)
    for t in tasks:
        for k, v in t.metrics.items():
            out[k] += v
    out["spark.driver_gap_ms"] = wall - inside
    out.update(streaming_metrics(progress_between(log, span.start_ms, span.end_ms)))
    out["wall_ms"] = wall
    out["job_union_ms"] = inside
    out["spill_ms"] = spill
    out["reconciled"] = spill <= tolerance_ms
    return out


def streaming_metrics(batches: list[dict]) -> dict:
    triggers = [p.get("durationMs", {}).get("triggerExecution", 0) for p in batches]
    return {
        "streaming.batches": len(batches),
        "streaming.trigger_ms_p50": statistics.median(triggers) if triggers else 0.0,
        "streaming.add_batch_ms": sum(p.get("durationMs", {}).get("addBatch", 0) for p in batches),
        "streaming.planning_ms": sum(p.get("durationMs", {}).get("queryPlanning", 0) for p in batches),
        "streaming.state_commit_ms": sum(
            s.get("commitTimeMs", 0) for p in batches for s in p.get("stateOperators", ())
        ),
    }
