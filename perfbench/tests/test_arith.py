"""Unit tests for the benchmark's arithmetic.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.arith import pass_order, self_times, spread, tail, union_length  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = tail(samples)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(s > value for s in samples) == 10


def test_tail_at_small_counts():
    value, pct, n = tail([float(i) for i in range(20)])
    assert (value, pct, n) == (9.0, 50.0, 20)
    # the eleventh largest of eleven is the minimum, at percentile 100/11
    value, pct, _ = tail([5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert value == 1.0
    assert pct == pytest.approx(100 / 11)


def test_tail_is_order_insensitive_and_counts_ties():
    samples = [3.0] * 15 + [1.0] * 5
    assert tail(samples)[0] == 3.0
    assert tail(list(reversed(samples))) == tail(samples)


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_union_merges_overlaps_and_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3  # unsorted input
    assert union_length([(1, 1), (3, 2)]) == 0  # empty and inverted


def test_union_clips_to_window():
    # driver gap of a 10 s window whose jobs cover [1,4] and [9,10]: 6 s
    window = (0.0, 10.0)
    jobs = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0), (-5.0, -1.0)]
    covered = union_length(jobs, window)
    assert covered == 4.0
    assert (window[1] - window[0]) - covered == 6.0


def test_self_time_subtracts_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 1, "start": 5.0, "end": 6.0},
    ]
    st = self_times(spans)
    assert st == {1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0}
    assert sum(st.values()) == 10.0  # self times partition the root


def test_self_time_with_overlapping_threaded_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 4.0, "end": 8.0},
    ]
    assert self_times(spans)[1] == 4.0


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(12)]
    a = pass_order(names, seed=3, pass_index=0)
    assert sorted(a) == sorted(names)
    assert a == pass_order(names, seed=3, pass_index=0)
    assert a != pass_order(names, seed=3, pass_index=1)
    assert a != pass_order(names, seed=4, pass_index=0)
    assert names == [f"q{i}" for i in range(12)]  # input untouched


def test_spread_is_iqr_over_median():
    assert spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    values = [float(v) for v in range(1, 11)]
    assert spread(values) == pytest.approx((8.25 - 2.75) / 5.5)
