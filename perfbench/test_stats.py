"""Tests for the benchmark's arithmetic. Run: python3 -m pytest perfbench -q"""

import pytest

from stats import (bytes_per_input_byte, driver_gap, median, percentile,
                   recall_at_k, union_length)


def test_percentile_nearest_rank_and_count():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(vals, 50) == (3.0, 5)
    assert percentile(vals, 90) == (5.0, 5)
    assert percentile(vals, 100) == (5.0, 5)
    assert percentile([7.0], 90) == (7.0, 1)
    # 20 samples: p90 is the 18th smallest
    assert percentile(list(range(1, 21)), 90) == (18, 20)


def test_percentile_rejects_empty_and_bad_q():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


def test_median_even_and_odd():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_union_length_merges_overlaps_and_nesting():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([]) == 0
    # clipping to the call's window
    assert union_length([(-5, 1), (9, 20)], lo=0, hi=10) == 2


def test_driver_gap_is_wall_minus_job_union():
    # call 0..10, jobs cover 1..4 and 3..6 (union 5) and 8..12 (clipped 2)
    assert driver_gap(0, 10, [(1, 4), (3, 6), (8, 12)]) == pytest.approx(3)
    assert driver_gap(0, 10, []) == 10
    assert driver_gap(0, 10, [(-1, 11)]) == 0


def test_recall_at_k():
    assert recall_at_k([1, 2, 3], [1, 2, 3]) == 1.0
    assert recall_at_k([1, 9, 3, 8], [1, 2, 3, 4], k=4) == 0.5
    # only the first k of each list count
    assert recall_at_k([4, 1], [1, 2, 3, 4], k=2) == 0.5
    assert recall_at_k([1], [], k=10) == 1.0


def test_bytes_per_input_byte():
    # 3 ASCII bytes + 2 bytes of 'é' + 2 vectors x 4 dims x 4 bytes = 37
    assert bytes_per_input_byte(74, ["abc", "é"], 2, 4) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        bytes_per_input_byte(10, [], 0, 4)
