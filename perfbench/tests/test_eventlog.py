"""Tests of the event-log parser against a small log recorded from Spark
(two SQL executions in one job group, one without a group), slimmed to
the events and fields the parser reads.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "small_eventlog.jsonl")


@pytest.fixture(scope="module")
def groups():
    return eventlog.parse_file(LOG)


def test_jobs_and_tasks_are_charged_to_their_group(groups):
    assert set(groups) == {"registry.exec#0", ""}
    g = groups["registry.exec#0"]
    assert (g.jobs, g.tasks) == (2, 6)
    assert (groups[""].jobs, groups[""].tasks) == (1, 1)


def test_task_metrics_are_summed_in_seconds_and_bytes(groups):
    g = groups["registry.exec#0"]
    assert g.executor_run_s == pytest.approx((353 + 350 + 104 + 120 + 19 + 24) / 1000)
    assert g.executor_cpu_s == pytest.approx(0.532451945)
    assert g.gc_s == pytest.approx(0.068)
    assert g.shuffle_write_bytes == 266
    assert g.shuffle_read_bytes == 126 + 140
    assert g.spill_bytes == 0


def test_time_before_first_job_and_gaps_between_jobs(groups):
    g = groups["registry.exec#0"]
    # execution 0: start 261025 → job 262757; execution 1: 263993 → 264045
    assert g.pre_job_s == pytest.approx((1732 + 52) / 1000)
    # job 0 ends 263944, job 1 starts 264045
    assert g.job_gap_s == pytest.approx(0.101)
    assert groups[""].pre_job_s == pytest.approx(0.112)
    assert groups[""].job_gap_s == 0.0


def test_split_use_counts_scan_tasks_that_read_rows():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "probe.scan#probe"}},
        *(
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
                "Input Metrics": {"Bytes Read": b, "Records Read": r}}}
            for b, r in ((4096, 100), (512, 0), (0, 0))
        ),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    ]
    g = eventlog.parse(json.dumps(e) for e in lines)["probe.scan#probe"]
    assert (g.tasks, g.scan_tasks, g.tasks_with_input) == (3, 2, 1)
    assert g.job_times == [(1.0, 2.0)]


def test_overlapping_jobs_leave_no_gap():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": j, "Submission Time": s,
         "Stage IDs": [], "Properties": {"spark.jobGroup.id": "g#1"}}
        for j, s in ((0, 0), (1, 500))
    ] + [
        {"Event": "SparkListenerJobEnd", "Job ID": j, "Completion Time": e}
        for j, e in ((0, 1000), (1, 1500))
    ]
    assert eventlog.parse(json.dumps(e) for e in lines)["g#1"].job_gap_s == 0.0
