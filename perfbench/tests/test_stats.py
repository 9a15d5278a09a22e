from __future__ import annotations

import pytest

from perfbench.stats import percentile


def test_percentile_needs_ten_samples_beyond_it():
    assert percentile(list(range(20)), 50) == 9  # 10 samples above
    assert percentile(list(range(19)), 50) is None  # 9 above
    assert percentile(list(range(100)), 90) == 89
    assert percentile(list(range(99)), 90) is None
    assert percentile([], 50) is None


def test_percentile_is_order_free():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
    assert percentile(xs, 50) == percentile(sorted(xs), 50) == 3.0


@pytest.mark.parametrize("p", [0, 100, -1, 101])
def test_percentile_rejects_bounds(p):
    with pytest.raises(ValueError):
        percentile([1.0] * 50, p)
