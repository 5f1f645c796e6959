"""Event-log parsing and window attribution on a small canned log.

The log holds five jobs: one in span ``a/build``, two overlapping ones in
``a/action``, one in ``b`` that ends 300 ms after the span does, and one
outside every span.
"""

import os

import pytest

from perfbench import eventlog

CANNED = os.path.join(os.path.dirname(__file__), "canned_eventlog.jsonl")
SPANS = [
    eventlog.Span("a/build", 1000, 2000),
    eventlog.Span("a/action", 2000, 5000),
    eventlog.Span("b", 5000, 6000),
]


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(eventlog.read_events(CANNED))


def test_parse_reads_jobs_tasks_and_progress(log):
    assert sorted(log.jobs) == [0, 1, 2, 3, 4]
    assert (log.jobs[2].submit_ms, log.jobs[2].end_ms) == (2500, 4000)
    assert len(log.tasks) == 6
    assert len(log.progress) == 1


def test_jobs_are_attributed_by_submission_time(log):
    jobs = eventlog.attribute_jobs(log.jobs.values(), SPANS)
    assert {k: [j.job_id for j in v] for k, v in jobs.items()} == {
        "a/build": [0],
        "a/action": [1, 2],
        "b": [3],
        None: [4],
    }


def test_union_merges_overlaps_and_clips():
    assert eventlog.union_ms([(2100, 3000), (2500, 4000)]) == 1900
    assert eventlog.union_ms([(0, 10), (20, 30)]) == 20
    assert eventlog.union_ms([(5100, 6300)], 5000, 6000) == 900
    assert eventlog.union_ms([]) == 0


def test_span_metrics_sum_tasks_and_python_nodes(log):
    jobs = eventlog.attribute_jobs(log.jobs.values(), SPANS)
    m = eventlog.span_metrics(log, SPANS[1], jobs["a/action"])
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 3
    assert m["spark.failed_tasks"] == 1
    assert m["spark.executor_run_ms"] == 700 + 650 + 1000
    assert m["spark.executor_cpu_ms"] == pytest.approx(600 + 500 + 900)
    assert m["spark.gc_ms"] == 15
    assert m["spark.shuffle_write_bytes"] == 3072
    assert m["spark.shuffle_read_bytes"] == 3500
    assert m["spark.fetch_wait_ms"] == 12
    # duration - run - deserialize (5) - result serialization (1), per task
    assert m["spark.scheduler_delay_ms"] == (750 - 706) + (750 - 656) + (1300 - 1006)
    assert m["operators.py_run_ms"] == 200
    assert m["operators.py_boot_ms"] == 30
    assert m["operators.py_init_ms"] == 40
    assert m["operators.py_bytes_sent"] == 1200
    assert m["operators.py_bytes_received"] == 500


def test_driver_gap_reconciles_with_span_wall(log):
    jobs = eventlog.attribute_jobs(log.jobs.values(), SPANS)
    m = eventlog.span_metrics(log, SPANS[1], jobs["a/action"])
    assert m["job_union_ms"] == 1900
    assert m["spark.driver_gap_ms"] == 3000 - 1900
    assert m["job_union_ms"] + m["spark.driver_gap_ms"] == m["wall_ms"]
    assert m["reconciled"]


def test_job_spilling_out_of_its_span_does_not_reconcile(log):
    jobs = eventlog.attribute_jobs(log.jobs.values(), SPANS)
    m = eventlog.span_metrics(log, SPANS[2], jobs["b"])
    assert m["job_union_ms"] == 900
    assert m["spill_ms"] == 300
    assert not m["reconciled"]


def test_streaming_progress_lands_in_its_span(log):
    jobs = eventlog.attribute_jobs(log.jobs.values(), SPANS)
    m = eventlog.span_metrics(log, SPANS[1], jobs["a/action"])
    assert m["streaming.batches"] == 1
    assert m["streaming.trigger_ms_p50"] == 900
    assert m["streaming.add_batch_ms"] == 600
    assert m["streaming.planning_ms"] == 50
    assert m["streaming.state_commit_ms"] == 70
    empty = eventlog.span_metrics(log, SPANS[0], jobs["a/build"])
    assert empty["streaming.batches"] == 0
    assert empty["spark.input_bytes"] == 4096

