"""Unit tests of the benchmark's own helpers: python -m pytest perfbench"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import (  # noqa: E402
    PeakRss,
    Span,
    Tracer,
    check_cores,
    median,
    quartile_spread,
    self_times,
    tail_percentile,
    tree_rss_bytes,
    within_bound,
    worse_by,
)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_tail_percentile_keeps_ten_samples_beyond():
    vals = list(range(1, 101))  # 1..100
    value, pct, n = tail_percentile(vals)
    assert n == 100
    assert value == 90  # 91..100 are the ten samples beyond it
    assert pct == 90.0
    assert sum(v > value for v in vals) == 10


def test_tail_percentile_small_and_unsorted_input():
    vals = [5.0, 1.0, 3.0, 2.0, 4.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
    value, pct, n = tail_percentile(vals)
    assert (value, n) == (2.0, 12)  # rank 1 of 12: 10 samples beyond
    assert pct == pytest.approx(100 * 2 / 12)
    with pytest.raises(ValueError):
        tail_percentile(range(10))


def _span(i, name, parent, start, end):
    return Span(i, name, parent, start, end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "root", None, 0, 100),
        _span(1, "a", 0, 10, 40),
        _span(2, "b", 0, 30, 60),  # overlaps a: covered 10..60 = 50
        _span(3, "c", 1, 15, 20),  # grandchild: not subtracted from root
        _span(4, "a", 0, 70, 80),
    ]
    st = self_times(spans)
    assert st["root"] == [pytest.approx((100 - 50 - 10) / 1e9)]
    assert st["a"] == [pytest.approx(25 / 1e9), pytest.approx(10 / 1e9)]
    assert st["b"] == [pytest.approx(30 / 1e9)]
    assert st["c"] == [pytest.approx(5 / 1e9)]


def test_tracer_nests_and_disabled_records_nothing():
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert all(s.end_ns >= s.start_ns for s in tr.spans)
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_bound_comparison_by_direction():
    assert worse_by(1.0, 1.2, "lower") == pytest.approx(0.2)
    assert worse_by(100.0, 80.0, "higher") == pytest.approx(0.2)
    assert worse_by(1.0, 0.5, "lower") < 0
    assert within_bound([1.0, 1.0, 1.0], [1.1, 1.1, 1.2], 0.15, "lower")
    assert not within_bound([1.0, 1.0, 1.0], [1.2, 1.2, 1.2], 0.15, "lower")
    assert within_bound([10.0], [9.0], 0.1, "higher")
    assert not within_bound([10.0], [8.9], 0.1, "higher")
    with pytest.raises(ValueError):
        worse_by(1.0, 1.0, "sideways")


def test_quartile_spread_matches_statistics_quantiles():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    # statistics.quantiles(n=4), exclusive method: 2.75, 5.5, 8.25
    assert quartile_spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)
    assert quartile_spread([2.0] * 10) == 0.0


def test_check_cores_refuses_more_than_affinity():
    check_cores(4, 4)
    with pytest.raises(ValueError, match="exceeds"):
        check_cores(8, 4)
    with pytest.raises(ValueError):
        check_cores(0, 4)


def test_peak_rss_keeps_the_highest_sample():
    assert tree_rss_bytes(os.getpid()) > 0
    rss = PeakRss()
    rss.sample()
    first = rss.peak
    assert first > 0
    rss.peak = first * 10
    rss.sample()
    assert rss.peak == first * 10
