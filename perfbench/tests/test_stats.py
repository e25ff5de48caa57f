import statistics

import pytest

from perfbench.stats import Tally, median, percentile, quartiles, tail_percentile


def test_median_and_quartiles():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    assert median(values) == 3.5
    assert quartiles(values) == tuple(statistics.quantiles(values, n=4))
    assert quartiles([2.0]) == (2.0, 2.0, 2.0)


def test_percentile_interpolates_between_order_statistics():
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 50) == pytest.approx(50.5)
    assert percentile(values, 90) == pytest.approx(90.1)
    assert percentile([7.0], 90) == 7.0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(100) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(20) == 50.0
    assert tail_percentile(10) is None


def test_tally_counts_failures_against_attempts():
    t = Tally()
    for ok in (True, True, False, True):
        t.add(ok)
    assert (t.attempted, t.failed) == (4, 1)
