"""The tail-percentile helper."""

import pytest

from stats import beyond, nearest_rank, tail


@pytest.mark.parametrize("n, percentile", [
    (1000, 99.0),  # 990th value: exactly 10 beyond
    (999, 95.0),   # p99 would leave 9
    (200, 95.0),
    (199, 90.0),
    (100, 90.0),
    (40, 75.0),
    (20, 50.0),
])
def test_highest_percentile_with_ten_beyond(n, percentile):
    values = [float(i) for i in range(n, 0, -1)]  # unsorted input
    t = tail(values)
    assert t.percentile == percentile
    assert t.samples == n
    assert beyond(n, percentile) >= 10
    assert t.value == nearest_rank(sorted(values), percentile)


def test_too_few_samples_has_no_tail():
    t = tail([1.0] * 19)
    assert t.percentile is None and t.value is None and t.samples == 19
    assert tail([]).samples == 0


def test_nearest_rank():
    assert nearest_rank([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    assert nearest_rank([1.0, 2.0, 3.0, 4.0], 75) == 3.0
    assert nearest_rank([5.0], 99.9) == 5.0
