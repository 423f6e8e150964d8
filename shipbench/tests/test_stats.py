"""The "at least ten samples beyond" tail rule."""

import math

import pytest

from shipbench.stats import TAIL_BEYOND, steal_pct, tail


@pytest.mark.parametrize("n", [1, 5, 10, 11, 20])
def test_small_samples_report_the_slowest(n):
    samples = [float(i) for i in range(n)]
    assert tail(samples) == (100.0, n, n - 1.0)


def test_highest_percentile_with_ten_beyond():
    for n in range(21, 400):
        samples = [float(i) for i in range(n, 0, -1)]  # unsorted input
        pct, count, value = tail(samples)
        assert count == n
        assert pct > 50
        assert sum(1 for s in samples if s > value) >= TAIL_BEYOND
        # One percentile higher would leave fewer than ten beyond.
        assert n - math.ceil((pct + 1) * n / 100) < TAIL_BEYOND, n


def test_known_values():
    assert tail([float(i) for i in range(1, 101)]) == (90.0, 100, 90.0)
    assert tail([float(i) for i in range(1, 1001)]) == (99.0, 1000, 990.0)


def test_empty_sample_raises():
    with pytest.raises(ValueError):
        tail([])


def test_steal_share():
    before = [100, 0, 50, 800, 0, 0, 0, 50]
    after = [200, 0, 100, 1600, 0, 0, 0, 100]
    assert steal_pct(before, after) == pytest.approx(5.0)
    assert steal_pct(None, after) is None
