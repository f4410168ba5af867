"""Tests for the benchmark's metric arithmetic (no Spark needed).

    python -m pytest perfbench/tests -q
"""

import os
import sys
from dataclasses import dataclass

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import oracle  # noqa: E402


@dataclass
class S:
    sid: int
    start: float
    end: float
    parent: int | None


def test_union_counts_overlap_once():
    assert metrics.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert metrics.union_length([(1, 3), (0, 2)]) == 3  # unsorted input
    assert metrics.union_length([(0, 4), (1, 2)]) == 4  # nested
    assert metrics.union_length([(0, 1), (1, 2)]) == 2  # touching
    assert metrics.union_length([]) == 0
    assert metrics.union_length([(3, 3), (5, 4)]) == 0  # empty and inverted


def test_clip_cuts_to_window():
    assert metrics.clip([(-1, 1), (2, 3), (4, 9), (10, 11)], 0, 5) == [
        (0, 1), (2, 3), (4, 5)]


def test_driver_gap_is_wall_minus_job_union():
    # op runs 10..20; jobs cover 11..13 and 12..15 (overlap) and 19..25
    # (clipped to 20): covered 4 + 1 = 5 s, gap 5 s
    assert metrics.driver_gap(10, 20, [(11, 13), (12, 15), (19, 25)]) == 5
    assert metrics.driver_gap(0, 3, []) == 3


def test_self_time_subtracts_child_cover():
    spans = [
        S(1, 0.0, 10.0, None),   # root: children cover 2..5 and 4..7 -> 5 s
        S(2, 2.0, 5.0, 1),       # has a child covering 3..4 -> 2 s self
        S(3, 4.0, 7.0, 1),
        S(4, 3.0, 4.0, 2),
        S(5, 8.0, 12.0, 1),      # leaks past the parent: only 8..10 counts
    ]
    got = metrics.self_times(spans)
    assert got == {1: 10 - 5 - 2, 2: 2.0, 3: 3.0, 4: 1.0, 5: 4.0}


def test_fail_frac():
    assert metrics.fail_frac(1, 4) == 0.25
    assert metrics.fail_frac(0, 7) == 0
    with pytest.raises(ValueError):
        metrics.fail_frac(0, 0)


def test_slot_util():
    assert metrics.slot_util(8.0, 4.0, 4) == 0.5
    assert metrics.slot_util(1.0, 0.0, 4) == 0.0


def test_profile_compare_tolerates_float_reorder_only():
    want = [3.0, 3.0, 0.1 + 0.2 + 0.3]
    assert oracle.same_profile([3.0, 3.0, 0.3 + 0.2 + 0.1], want) is None
    assert oracle.same_profile([3.0, 2.0, 0.6], want) is not None
    assert oracle.same_profile([3.0, 3.0], want) is not None
    assert oracle.same_profile([3.0, None, 0.6], [3.0, None, 0.6]) is None


def test_canonical_rows_ignore_order():
    import pandas as pd

    a = pd.DataFrame({"b": [2, 1], "a": ["x", None]})
    b = pd.DataFrame({"a": [None, "x"], "b": [1, 2]})
    assert oracle.canonical(a) == oracle.canonical(b)
    want = {"cols": ["a", "b"], "rows": oracle.canonical(b)[1]}
    assert oracle.compare_rows(a, want) is None
    assert oracle.compare_rows(a.iloc[:1], want) is not None
