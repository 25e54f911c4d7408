"""Percentiles, failure accounting and span interval arithmetic."""

import math

import pytest

from perfbench.spans import union_ms
from perfbench.stats import FAILED, INF_MS, Outcomes, finite, percentile


def test_percentile_reports_value_and_sample_count():
    xs = list(range(1, 101))  # 1..100
    p50 = percentile(xs, 50)
    assert p50.value == pytest.approx(50.5)
    assert p50.n == 100 and p50.beyond == 50
    p90 = percentile(xs, 90)
    assert p90.value == pytest.approx(90.1)
    assert p90.n == 100 and p90.beyond == 10  # the 10 samples a p90 needs beyond it


def test_percentile_matches_numpy_linear_rule():
    np = pytest.importorskip("numpy")
    xs = [3.0, 9.5, 1.25, 7.0, 7.0, 12.0, 0.5]
    for q in (0, 10, 25, 50, 75, 90, 100):
        assert percentile(xs, q).value == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_edge_cases():
    assert percentile([4.0], 90) == percentile([4.0], 10)
    assert percentile([4.0], 90).n == 1
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_failed_op_misses_every_latency_limit():
    o = Outcomes()
    for ms in (10.0, 11.0, 12.0, 13.0):
        o.ok(ms)
    o.fail("boom")
    assert o.attempted == 5 and o.failed == 1
    assert math.isinf(o.pct(100).value)
    assert o.pct(50).value == 12.0  # the failure sorts last
    assert o.ok_time_ms() == 46.0


def test_failed_check_turns_a_recorded_op_into_a_failure():
    o = Outcomes()
    i = o.ok(5.0)
    o.ok(6.0)
    o.fail("wrong rows", i)
    assert o.attempted == 2 and o.failed == 1
    assert o.samples_ms[i] == FAILED
    assert o.failures == ["wrong rows"]


def test_infinite_percentile_becomes_a_finite_stand_in():
    assert finite(math.inf) == INF_MS
    assert finite(2.5) == 2.5


def test_union_of_job_intervals():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert union_ms([(0, 10), (2, 3)]) == 10
    assert union_ms([(5, 5), (7, 6)]) == 0
