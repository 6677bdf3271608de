"""Tests of the benchmark's own math: ``python3 -m pytest perfbench -q``."""

import statistics

import pytest

from stats import (
    Span, compare_metric, percentile, quantile_hd, quartiles,
    relative_spread, self_times, tail_percentile,
)


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == pytest.approx(2.5)
    assert percentile(xs, 90) == pytest.approx(3.7)
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_harrell_davis_quantile():
    # symmetric samples: the median estimate is the centre
    assert quantile_hd([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0)
    assert quantile_hd([7.0], 0.9) == 7.0
    # it is a weighted mean of order statistics: inside the sample range
    xs = [0.2, 0.25, 0.4, 0.5, 0.55, 0.8, 1.3, 1.6, 2.1, 2.6]
    assert min(xs) < quantile_hd(xs, 0.9) < max(xs)
    assert quantile_hd(xs, 0.5) < quantile_hd(xs, 0.9)
    # on many samples it agrees with the plain percentile
    big = [((i * 7919) % 1000) / 1000.0 for i in range(1000)]
    assert quantile_hd(big, 0.5) == pytest.approx(percentile(big, 50),
                                                  abs=0.01)
    assert quantile_hd(big, 0.9) == pytest.approx(percentile(big, 90),
                                                  abs=0.01)
    with pytest.raises(ValueError):
        quantile_hd([], 0.5)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(10) is None
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    assert tail_percentile(40) == 75


def test_quartiles_match_statistics_module():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    q1, q2, q3 = quartiles(xs)
    assert relative_spread(xs) == pytest.approx((q3 - q1) / q2)
    assert quartiles([3.0]) == (3.0, 3.0, 3.0)


def test_self_time_subtracts_nested_children():
    spans = [
        Span("request", 0.0, 10.0, None, 0),
        Span("client", 0.5, 9.5, 0, 0),
        Span("query", 1.0, 3.0, 1, 0),
        Span("spark.action", 4.0, 9.0, 1, 0),
        Span("catalyst", 4.0, 5.0, 3, 0),
    ]
    st = self_times(spans)
    assert st == pytest.approx([1.0, 2.0, 2.0, 4.0, 1.0])
    # self times of one tree always add up to the root's wall time
    assert sum(st) == pytest.approx(spans[0].duration)


def test_self_time_splits_parallel_children():
    spans = [
        Span("root", 0.0, 10.0, None, 0),
        Span("a", 1.0, 5.0, 0, 0),     # two threads under one parent
        Span("b", 3.0, 9.0, 0, 0),
    ]
    st = self_times(spans)
    # [0,1) root, [1,3) a, [3,5) a and b share, [5,9) b, [9,10) root
    assert st == pytest.approx([2.0, 3.0, 5.0])
    assert sum(st) == pytest.approx(10.0)


def test_compare_improved_needs_nine_tenths_and_spread():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    change = [p - 1.0 for p in parent]
    v = compare_metric(parent, change, better="lower", bound=0.05)
    assert v.verdict == "improved" and v.win_share == 1.0
    # higher-is-better flips the sign
    v = compare_metric(parent, change, better="higher", bound=0.05)
    assert v.verdict == "regressed" and v.win_share == 0.0


def test_compare_ties_count_for_neither_side():
    parent = [1.0] * 10
    change = [1.0] * 9 + [0.5]
    v = compare_metric(parent, change, better="lower", bound=0.1)
    assert v.win_share == pytest.approx(0.1)
    assert v.verdict == "unchanged"


def test_compare_regressed_beyond_bound_only():
    parent = [100.0 + i * 0.1 for i in range(10)]
    slightly = [p * 1.04 for p in parent]
    assert compare_metric(parent, slightly, better="lower",
                          bound=0.05).verdict == "unchanged"
    worse = [p * 1.2 for p in parent]
    assert compare_metric(parent, worse, better="lower",
                          bound=0.05).verdict == "regressed"


def test_compare_unresolved_when_parent_spread_exceeds_bound():
    parent = [50.0, 150.0, 60.0, 140.0, 70.0, 130.0, 80.0, 120.0, 90.0, 110.0]
    change = [p * 1.01 for p in reversed(parent)]
    v = compare_metric(parent, change, better="lower", bound=0.1)
    assert v.verdict == "unresolved"
    # without a bound (a per-layer metric) nothing is unresolved
    assert compare_metric(parent, change, better="lower",
                          bound=None).verdict == "unchanged"


def test_compare_rejects_unpaired_runs():
    with pytest.raises(ValueError):
        compare_metric([1.0], [1.0, 2.0], better="lower", bound=0.1)
    with pytest.raises(ValueError):
        compare_metric([1.0], [1.0], better="faster", bound=0.1)
