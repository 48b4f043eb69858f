"""Tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import statistics

import pytest

from stats import (
    MIN_BEYOND_TAIL,
    failed_frac,
    median,
    percentile,
    samples_beyond,
    tail,
    tail_percentile,
)


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 25) == 2.0
    assert percentile([1.0, 2.0], 50) == 1.5
    assert percentile([1.0, 2.0, 3.0, 4.0], 90) == pytest.approx(3.7)
    assert percentile([7.0], 99) == 7.0


def test_median_agrees_with_statistics():
    for xs in ([3.0], [1.0, 9.0], [4.0, 1.0, 8.0, 2.0, 6.0, 5.0]):
        assert median(xs) == statistics.median(xs)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_samples_beyond_counts_strictly_greater_ranks():
    # 20 samples: the median sits between ranks 9 and 10 → 10 above it
    assert samples_beyond(20, 50) == 10
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(100, 99) == 1
    assert samples_beyond(5, 100) == 0


@pytest.mark.parametrize("n", [20, 21, 33, 50, 100, 101, 1000, 5000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    p = tail_percentile(n)
    assert samples_beyond(n, p) >= MIN_BEYOND_TAIL
    if p < 99:
        assert samples_beyond(n, p + 1) < MIN_BEYOND_TAIL


def test_tail_percentile_known_values():
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    assert tail_percentile(20) == 52


@pytest.mark.parametrize("n", [1, 2, 8, 19])
def test_tail_is_maximum_below_twenty_samples(n):
    assert tail_percentile(n) == 100
    xs = [float(i) for i in range(n)]
    assert tail(xs) == (float(n - 1), 100)


def test_tail_keeps_every_sample():
    # one slow outlier among 30 samples moves the tail value when it
    # lies beyond the tail rank; no sample is ever discarded
    xs = [1.0] * 29 + [100.0]
    value, p = tail(xs)
    assert p == tail_percentile(30)
    assert value == percentile(xs, p)


def test_failed_frac():
    assert failed_frac(10, 0) == 0.0
    assert failed_frac(8, 2) == 0.25
    assert failed_frac(3, 3) == 1.0
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(5, 6)
    with pytest.raises(ValueError):
        failed_frac(5, -1)
