"""Kernel unit/property tests (SURVEY.md §5.3: brute-force oracle,
idempotence, containment, duplicate retention, NaN policy)."""

from __future__ import annotations

import numpy as np
import pytest

from query_skyline_qos_flink_spark.operators.skyline_kernel import (
    skyline_mask,
    skyline_mask_brute,
)


@pytest.mark.parametrize("n,d,seed", [(0, 2, 0), (1, 3, 1), (17, 2, 2), (500, 2, 3),
                                      (2000, 3, 4), (1500, 4, 5), (3000, 2, 6)])
def test_matches_bruteforce(n, d, seed):
    rng = np.random.default_rng(seed)
    pts = rng.integers(0, 40, size=(n, d)).astype(float)  # small domain -> many ties
    assert (skyline_mask(pts) == skyline_mask_brute(pts)).all()


def test_duplicates_retained():
    pts = np.array([[1.0, 1.0], [1.0, 1.0], [0.0, 2.0], [2.0, 0.0], [2.0, 2.0]])
    assert skyline_mask(pts).tolist() == [True, True, True, True, False]


def test_all_identical_points_survive():
    pts = np.ones((100, 3))
    assert skyline_mask(pts).all()


def test_nan_rows_excluded():
    pts = np.array([[np.nan, 1.0], [1.0, 1.0], [np.nan, np.nan]])
    assert skyline_mask(pts).tolist() == [False, True, False]


def test_equal_float_sums_across_leaves(monkeypatch):
    """General float mode: a dominator whose computed sum rounds equal to
    its victim's (4.0 + 1e-45 == 4.0) is still tested when the two sit
    in different k-d leaves, whatever their input order."""
    from query_skyline_qos_flink_spark.operators import skyline_kernel

    monkeypatch.setattr(skyline_kernel, "_LEAF_ROWS", 1)
    pts = np.array([[4.0, 1e-45, 0.0], [4.0, 0.0, 0.0]])
    assert skyline_mask(pts).tolist() == [False, True]
    assert skyline_mask(pts[::-1]).tolist() == [True, False]


def test_idempotence_and_containment():
    rng = np.random.default_rng(9)
    pts = rng.random((4000, 3))
    m = skyline_mask(pts)
    sky = pts[m]
    assert skyline_mask(sky).all()  # skyline(skyline(T)) == skyline(T)
    assert sky.shape[0] <= pts.shape[0]


def test_incremental_update_equals_batch():
    rng = np.random.default_rng(11)
    pts = rng.random((5000, 3))
    sky = pts[:0]
    for i in range(0, 5000, 700):
        union = np.concatenate([sky, pts[i:i + 700]], axis=0)
        sky = union[skyline_mask(union)]
    ref = pts[skyline_mask(pts)]
    assert sorted(map(tuple, sky)) == sorted(map(tuple, ref))


def test_partition_invariance_random_splits():
    """skyline(T) == skyline(union of per-part skylines) for random splits —
    the associativity fact the two-phase operator relies on."""
    rng = np.random.default_rng(13)
    pts = rng.integers(0, 60, size=(3000, 3)).astype(float)
    ref = sorted(map(tuple, pts[skyline_mask(pts)]))
    for parts in (2, 5, 16):
        assign = rng.integers(0, parts, size=3000)
        partials = [pts[(assign == p)] for p in range(parts)]
        locals_ = [q[skyline_mask(q)] for q in partials if q.size]
        merged = np.concatenate(locals_, axis=0)
        got = sorted(map(tuple, merged[skyline_mask(merged)]))
        assert got == ref


class TestSkyband:
    def test_matches_brute_force_mixed_inputs(self):
        from query_skyline_qos_flink_spark.operators.skyline_kernel import (
            skyband_mask,
            skyband_mask_brute,
            skyline_mask,
        )

        rng = np.random.default_rng(7)
        for trial in range(25):
            n = int(rng.integers(1, 300))
            d = int(rng.integers(2, 5))
            k = int(rng.integers(1, 6))
            if trial % 3 == 0:
                pts = rng.integers(0, 10, size=(n, d)).astype(float)  # ties
            elif trial % 3 == 1:
                pts = rng.normal(size=(n, d))
            else:
                pts = rng.normal(size=(n, d))
                pts[rng.random(n) < 0.15] = np.nan
            m, c = skyband_mask(pts, k)
            mb, cb = skyband_mask_brute(pts, k)
            assert (m == mb).all()
            # exact counts for members; certified >= k bound for the rest
            assert (c[m] == cb[m]).all()
            valid = ~np.isnan(pts).any(axis=1)
            assert (c[~m & valid] >= k).all()
            if k == 1:
                assert (m == skyline_mask(pts)).all()

    def test_skyband_nested_supersets(self):
        from query_skyline_qos_flink_spark.operators.skyline_kernel import skyband_mask

        rng = np.random.default_rng(11)
        pts = rng.normal(size=(500, 3))
        prev = None
        for k in (1, 2, 4, 8):
            m, _ = skyband_mask(pts, k)
            if prev is not None:
                assert (m | ~prev).all()  # k-skybands nest: prev ⊆ current
            prev = m


class TestOnionLayers:
    def test_matches_iterated_brute_peel(self):
        from query_skyline_qos_flink_spark.operators.skyline_kernel import (
            onion_layers,
            skyline_mask_brute,
        )

        rng = np.random.default_rng(29)
        for trial in range(30):
            n = int(rng.integers(1, 400))
            d = int(rng.integers(2, 5))
            kmax = int(rng.integers(1, 5))
            if trial % 3 == 0:
                pts = rng.integers(0, 8, size=(n, d)).astype(float)  # ties
            elif trial % 3 == 1:
                pts = rng.normal(size=(n, d))
            else:
                pts = rng.normal(size=(n, d))
                pts[rng.random(n) < 0.15] = np.nan
            got = onion_layers(pts, kmax)
            exp = np.zeros(n, dtype=np.int64)
            remaining = np.flatnonzero(~np.isnan(pts).any(axis=1))
            for layer in range(1, kmax + 1):
                if remaining.size == 0:
                    break
                mask = skyline_mask_brute(pts[remaining])
                exp[remaining[mask]] = layer
                remaining = remaining[~mask]
            assert (got == exp).all()

    def test_layer_one_is_skyline(self):
        from query_skyline_qos_flink_spark.operators.skyline_kernel import (
            onion_layers,
            skyline_mask,
        )

        rng = np.random.default_rng(31)
        pts = rng.normal(size=(600, 3))
        assert ((onion_layers(pts, 4) == 1) == skyline_mask(pts)).all()
