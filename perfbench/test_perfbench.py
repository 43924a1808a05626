"""Tests of the benchmark's own checker, generator and span arithmetic.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
from spans import self_times  # noqa: E402


def _brute_skyline(P: np.ndarray) -> np.ndarray:
    le = (P[:, None, :] <= P[None, :, :]).all(axis=2)
    lt = (P[:, None, :] < P[None, :, :]).any(axis=2)
    return np.flatnonzero(~(le & lt).any(axis=0))


def test_check_accepts_the_exact_skyline():
    for d in (2, 3, 4):
        P = gen.points(1500, d, "anti_correlated", seed=d)
        assert check.skyline_problems(P, _brute_skyline(P)) == []


def test_check_accepts_duplicate_survivors():
    P = np.array([[1, 5], [1, 5], [5, 1], [6, 6]], dtype=float)
    assert check.skyline_problems(P, [0, 1, 2]) == []
    assert check.skyline_problems(P, [0, 2]) != []


def test_check_rejects_one_extra_dominated_row():
    P = gen.points(2000, 3, "anti_correlated", seed=11)
    sky = _brute_skyline(P)
    extra = np.setdiff1d(np.arange(len(P)), sky)[0]
    problems = check.skyline_problems(P, np.append(sky, extra))
    assert any("dominated by another result row" in p for p in problems)


def test_check_rejects_one_missing_survivor():
    P = gen.points(2000, 4, "anti_correlated", seed=12)
    sky = _brute_skyline(P)
    problems = check.skyline_problems(P, sky[1:])
    assert any("dominated by no result row" in p for p in problems)


def test_cached_check_compares_against_the_verified_set(tmp_path):
    P = gen.points(800, 3, "uniform", seed=3)
    sky = _brute_skyline(P)
    assert check.check_skyline_cached(str(tmp_path), "k", P, sky) == []
    assert os.path.exists(tmp_path / "k.npy")
    assert check.check_skyline_cached(str(tmp_path), "k", P, sky[::-1]) == []
    assert check.check_skyline_cached(str(tmp_path), "k", P, sky[1:]) != []


def test_same_seed_gives_identical_inputs_and_another_seed_does_not(tmp_path):
    for d in (2, 3, 4):
        a, b, c = (tmp_path / f"{n}{d}.parquet" for n in "abc")
        gen.write_points_parquet(str(a), gen.points(5000, d, "anti_correlated", 7))
        gen.write_points_parquet(str(b), gen.points(5000, d, "anti_correlated", 7))
        gen.write_points_parquet(str(c), gen.points(5000, d, "anti_correlated", 8))
        assert filecmp.cmp(a, b, shallow=False)
        assert not filecmp.cmp(a, c, shallow=False)
    la = gen.wire_lines(gen.points(100, 2, "uniform", 7))
    assert la == gen.wire_lines(gen.points(100, 2, "uniform", 7))
    assert la != gen.wire_lines(gen.points(100, 2, "uniform", 8))
    assert la[0].startswith("0,") and len(la[0].split(",")) == 3


def test_anti_correlated_points_lie_near_the_hyperplane():
    for d, eps in gen.EPSILON.items():
        P = gen.points(10_000, d, "anti_correlated", 1)
        assert P.min() >= 0 and P.max() <= gen.DOMAIN
        assert np.array_equal(P, np.floor(P))
        if d < 4:  # at d=4 the band is wider than the domain allows
            s = P.sum(axis=1)
            assert abs(np.median(s) - d * gen.DOMAIN / 2) < eps * gen.DOMAIN * d + d


def test_table_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None)]
    d1 = check.table_digest(["x", "y", "z"], rows)
    d2 = check.table_digest(["z", "x", "y"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert d1 == d2
    assert d1 != check.table_digest(["x", "y", "z"], rows[:1])


def test_self_time_subtracts_child_spans():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 5.0, "end": 6.0},
        {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st == {1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0}
