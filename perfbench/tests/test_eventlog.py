"""Unit test of the stdlib event-log reader on a hand-written fixture.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.eventlog import WINDOW_METRICS, EventLog, union_ms  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixtures", "eventlog_tiny.jsonl")


@pytest.fixture(scope="module")
def log() -> EventLog:
    return EventLog.read(FIXTURE)


def test_parse_keeps_jobs_stages_and_tasks(log):
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.jobs[0].group == "agg#1#build"
    assert log.jobs[0].stage_ids == [0, 1]
    assert log.jobs[0].succeeded is True
    assert log.jobs[2].group is None and log.jobs[2].succeeded is False
    assert [s.id for s in log.stages] == [0, 1, 2]
    assert len(log.tasks) == 4


def test_window_totals(log):
    m = log.window(900, 2000, cores=2)
    assert list(m) == list(WINDOW_METRICS)
    expected = {
        "spark.jobs": 2, "spark.stages": 3, "spark.tasks": 4,
        "spark.job_s": 0.6, "spark.driver_residual_s": 0.5,
        "spark.serial_stage_share": 290 / 1100,
        "spark.task_run_s": 0.55, "spark.task_cpu_s": 0.34,
        "spark.core_util": 550 / 2200, "spark.task_skew": 200 / 150,
        "spark.gc_s": 0.015, "spark.spill_bytes": 512,
        "spark.shuffle_write_bytes": 1500, "spark.shuffle_read_bytes": 1500,
        "spark.shuffle_write_s": 0.008, "spark.shuffle_fetch_wait_s": 0.007,
        "spark.input_bytes": 6144, "spark.output_bytes": 256,
        "spark.python_start_s": 0.05, "spark.python_init_s": 0.015,
        "spark.python_run_s": 0.09, "spark.scan_s": 0.1,
        "spark.agg_build_s": 0.03, "spark.sort_s": 0.02,
    }
    assert m == pytest.approx(expected)


def test_job_time_plus_residual_is_wall_time(log):
    for lo, hi in ((900, 2000), (1200, 1700), (0, 6000)):
        m = log.window(lo, hi, cores=4)
        assert m["spark.job_s"] + m["spark.driver_residual_s"] == \
            pytest.approx((hi - lo) / 1e3)


def test_window_outside_any_job_is_empty(log):
    m = log.window(2000, 4000, cores=4)
    assert m["spark.jobs"] == m["spark.tasks"] == 0
    assert m["spark.driver_residual_s"] == pytest.approx(2.0)


def test_by_group(log):
    groups = log.by_group()
    assert set(groups) == {"agg#1#build", "agg#1#exec"}
    assert groups["agg#1#build"] == pytest.approx({
        "first_ms": 1000, "jobs": 1, "job_s": 0.4, "tasks": 3,
        "task_run_s": 0.38})
    assert groups["agg#1#exec"] == pytest.approx({
        "first_ms": 1600, "jobs": 1, "job_s": 0.2, "tasks": 1,
        "task_run_s": 0.17})


def test_union_ms_merges_overlaps_and_clips():
    assert union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert union_ms([(0, 10), (5, 20), (30, 40)], 8, 35) == 17
    assert union_ms([], 0, 10) == 0
