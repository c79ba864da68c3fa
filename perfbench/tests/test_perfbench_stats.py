"""Percentile sample-count rule, spread and span self-time arithmetic.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

import pytest

from perfbench.stats import (
    beyond,
    percentile,
    self_times,
    spread,
    tail_percentile,
    union_length,
)


def test_nearest_rank_percentile():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile(xs, 100) == 100.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_beyond_counts_samples_above_the_percentile():
    assert beyond(100, 90) == 10
    assert beyond(99, 90) == 9
    assert beyond(20, 50) == 10
    assert beyond(1, 50) == 0


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 99, 90) is None
    assert tail_percentile([float(i) for i in range(100)], 90) == 89.0
    assert tail_percentile([1.0] * 19, 50) is None
    assert tail_percentile([float(i) for i in range(20)], 50) == 9.0


def test_spread_is_interquartile_distance_over_median():
    # quantiles(n=4) of 1..9 (exclusive method): 2.5 and 7.5
    assert spread([float(i) for i in range(1, 10)]) == pytest.approx(5.0 / 5.0)
    assert spread([2.0] * 10) == 0.0


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 4), (1, 2)]) == 4.0
    assert union_length([(1, 2), (0, 4), (3, 5)]) == 5.0


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_direct_children_only():
    spans = [
        span(1, None, 0.0, 10.0),
        span(2, 1, 1.0, 4.0),
        span(3, 2, 2.0, 3.0),  # grandchild: counted against 2, not 1
        span(4, 1, 5.0, 6.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_with_overlapping_and_overhanging_children():
    spans = [
        span(1, None, 0.0, 10.0),
        span(2, 1, 1.0, 5.0),
        span(3, 1, 4.0, 6.0),  # overlaps 2: covered time is 1..6
        span(4, 1, 9.0, 12.0),  # overhangs the parent: only 9..10 counts
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert sum(st.values()) >= 0
