"""Event-log roll-up against a small hand-built fixture.

    python3 -m pytest perfbench/tests -q

The fixture holds two spans of one benchmark job (a write job with a
Python stage, and a shuffle job) and one job without a span property.
One Python task reports more worker init time than the task lasted, as a
reused Python worker does.
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "data", "eventlog_small.jsonl")
GROUP = {"job1/1": "job1/0", "job1/2": "job1/0"}


@pytest.fixture(scope="module")
def job():
    rolled = eventlog.rollup(eventlog.read_events([FIXTURE]), group=GROUP)
    assert set(rolled) == {"job1/0"}  # the untagged job is ignored
    return rolled["job1/0"]


def test_every_layer_key_reported(job):
    assert set(eventlog.LAYER_KEYS) <= set(job)


def test_jobs_tasks_and_jvm(job):
    assert job["spark.jobs"] == 2
    assert job["task.count"] == 5
    assert job["task.run_ms"] == 3 * 90 + 2 * 100
    assert job["task.cpu_ms"] == pytest.approx(3 * 80 + 2 * 90)
    assert job["task.deser_ms"] == 10
    assert job["jvm.gc_ms"] == 5
    assert job["first_job_ms"] == 1100


def test_python_crossing(job):
    assert job["py.tasks"] == 3
    assert job["py.init_ms"] == 20 + 50 + 20  # task 1's init clipped below
    assert job["py.run_ms"] == 150
    assert job["py.bytes_in"] == 3000
    assert job["py.bytes_out"] == 1500
    assert job["py.boot_ms"] == 0


def test_python_init_clipped_to_the_task():
    # task 1 ran 100 ms, 50 of them in Python, but reports 400 ms of init:
    # the idle gap of a reused worker. Only the other 50 ms can be init.
    assert eventlog._py_init_ms({"py.init_ms": 400, "py.run_ms": 50}, 100) == 50
    assert eventlog._py_init_ms({"py.init_ms": 20, "py.run_ms": 50}, 100) == 20
    assert eventlog._py_init_ms({"py.init_ms": 20, "py.run_ms": 120}, 100) == 0


def test_scan_from_driver_and_task_metrics(job):
    assert job["scan.files"] == 2
    assert job["scan.bytes"] == 4096
    assert job["scan.passes"] == 1
    assert job["scan.ms"] == 15


def test_sink_write_and_commit(job):
    assert job["sink.files"] == 3
    assert job["sink.bytes"] == 9000
    assert job["sink.rows"] == 30
    assert job["sink.commit_ms"] == 3 * 3 + 7  # task commits + job commit
    assert job["sink.write_ms"] == 700  # the write execution's wall time
    assert job["cache.mb"] == 2.0  # peak of the cached rdd blocks


def test_shuffle_aggregate_and_straggler(job):
    assert job["shuffle.write_bytes"] == 200
    assert job["shuffle.read_bytes"] == 150
    assert job["shuffle.fetch_wait_ms"] == 8
    assert job["spill.bytes"] == 128
    assert job["agg.ms"] == 18
    # longest stage (stage 0, 500 ms): max task 400 ms / median 100 ms
    assert job["task.straggler"] == 4.0


def test_spans_stay_apart_without_grouping():
    rolled = eventlog.rollup(eventlog.read_events([FIXTURE]))
    assert set(rolled) == {"job1/1", "job1/2"}
    assert rolled["job1/1"]["py.tasks"] == 3
    assert rolled["job1/2"]["py.tasks"] == 0
    assert rolled["job1/2"]["task.straggler"] == 1.0

