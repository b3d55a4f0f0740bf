"""Tests of the benchmark's statistics: the tail rule, the one interval
behind latency and throughput, and failure accounting.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import OpLog, halves_drift, tail  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    t = tail(xs)
    assert t.value == 90.0
    assert t.beyond == 10
    assert t.percentile == 90.0
    assert sum(1 for x in xs if x > t.value) == 10


def test_tail_is_order_insensitive_and_counts_n():
    xs = [5.0, 1.0, 4.0, 3.0, 2.0, 9.0, 8.0, 7.0, 6.0, 11.0, 10.0, 12.0]
    t = tail(xs)
    # n = 12: the 2nd smallest value has exactly 10 samples beyond it
    assert (t.value, t.beyond, t.n) == (2.0, 10, 12)
    assert t.percentile == pytest.approx(100 * 2 / 12)


def test_tail_below_eleven_samples_is_the_flagged_maximum():
    t = tail([3.0, 1.0, 2.0])
    assert (t.value, t.percentile, t.beyond, t.n) == (3.0, 100.0, 0, 3)


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        tail([])


def test_throughput_and_latency_share_one_interval():
    log = OpLog()
    t = 100.0
    for op, lat in enumerate([0.5, 1.0, 1.5, 1.0]):
        log.record(op, t, t + lat)
        log.rows[op] = 10
        t += lat + 7.0  # a long check between ops is not measured time
    s = log.summary()
    assert s["busy_s"] == pytest.approx(4.0)
    assert s["ops_per_s"] == pytest.approx(4 / 4.0)
    assert s["rows_per_s"] == pytest.approx(40 / 4.0)
    # one client, one interval: throughput is the inverse mean latency
    assert s["ops_per_s"] == pytest.approx(1 / (sum([0.5, 1.0, 1.5, 1.0]) / 4))
    assert s["latency_p50_s"] == pytest.approx(1.0)


def test_failures_count_against_attempts():
    log = OpLog()
    log.record(0, 0.0, 1.0)
    log.record(1, 1.0, 3.0, error="RuntimeError: boom")  # raised
    log.record(2, 3.0, 4.0)
    log.record(3, 4.0, 5.0)
    log.fail(2, "output hash differs")  # failed its check after completing
    s = log.summary()
    assert (s["attempted"], s["failed"], s["n"]) == (4, 2, 2)
    assert s["failed_ops_ratio"] == 0.5
    # failed ops spent measured time but complete nothing
    assert s["busy_s"] == pytest.approx(5.0)
    assert s["ops_per_s"] == pytest.approx(2 / 5.0)
    assert set(log.latencies) == {0, 3}
    assert log.errors[1].startswith("RuntimeError")


def test_first_failure_reason_is_kept():
    log = OpLog()
    log.record(0, 0.0, 1.0, error="raised")
    log.fail(0, "check")
    assert log.errors == {0: "raised"}
    assert log.failed == 1


def test_summary_without_a_completed_op_raises():
    log = OpLog()
    log.record(0, 0.0, 1.0, error="raised")
    with pytest.raises(ValueError):
        log.summary()


def test_halves_drift_compares_the_medians_of_the_halves():
    # the second half is 10% faster; an odd last sample is left out
    assert halves_drift([2.0, 1.0, 3.0, 0.9, 2.7, 1.8, 9.0]) == pytest.approx(-0.1)
    assert halves_drift([1.0]) is None
    assert halves_drift([2.0, 2.0, 2.0, 2.0]) == 0.0
