"""Tests of the benchmark's arithmetic.  Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import math
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def test_interval_union_merges_overlaps_and_nesting():
    # [0,2] and [1,3] overlap -> [0,3]; [4,5] contains [4.2,4.8]
    ivs = [(1.0, 3.0), (0.0, 2.0), (4.0, 5.0), (4.2, 4.8)]
    assert stats.interval_union(ivs) == pytest.approx(4.0)


def test_interval_union_touching_and_degenerate():
    assert stats.interval_union([(0.0, 1.0), (1.0, 2.0)]) == pytest.approx(2.0)
    assert stats.interval_union([(3.0, 3.0), (5.0, 4.0)]) == 0.0
    assert stats.interval_union([]) == 0.0


def test_driver_gap_is_wall_minus_busy_union():
    # two concurrent stages must not count their overlap twice
    wall = 1.0
    busy = stats.interval_union([(10.0, 10.4), (10.2, 10.6)])
    assert wall - busy == pytest.approx(0.4)


@pytest.mark.parametrize("n", [11, 20, 21, 28, 40, 100, 1000])
def test_tail_percentile_leaves_ten_beyond(n):
    p = stats.tail_percentile(n)
    beyond = n - math.ceil(p * n / 100)
    assert beyond >= stats.TAIL_MIN_BEYOND
    if p < 99:  # the next percentile up would leave fewer than ten
        assert n - math.ceil((p + 1) * n / 100) < stats.TAIL_MIN_BEYOND


def test_tail_percentile_known_values():
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(10) is None


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile([3.0], 90) == 3.0


def test_error_rate_counts():
    assert stats.error_rate(50, 0) == 0.0
    assert stats.error_rate(40, 2) == pytest.approx(0.05)
    assert stats.error_rate(0, 0) == 0.0
    with pytest.raises(ValueError):
        stats.error_rate(3, 4)


def test_query_order_is_a_seeded_permutation():
    qs = [f"q{i}" for i in range(12)]
    a = stats.query_order(qs, seed=7, pass_no=3)
    assert sorted(a) == sorted(qs)
    assert a == stats.query_order(list(reversed(qs)), seed=7, pass_no=3)
    assert a != stats.query_order(qs, seed=8, pass_no=3)
    assert a != stats.query_order(qs, seed=7, pass_no=4)


def test_query_order_stable_across_interpreters():
    # independent of PYTHONHASHSEED: a fresh interpreter gives the same order
    here = os.path.dirname(os.path.abspath(__file__))
    code = "import stats; print(','.join(stats.query_order(list('abcdefgh'), 5, 2)))"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=here,
        env={**os.environ, "PYTHONHASHSEED": "123"},
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert out == ",".join(stats.query_order(list("abcdefgh"), 5, 2))
