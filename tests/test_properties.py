"""Hypothesis property tests for the skyline kernel (SURVEY.md §5.3)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from query_skyline_qos_flink_spark.operators.skyline_kernel import (
    skyline_mask,
    skyline_mask_brute,
)


points_strategy = st.integers(min_value=1, max_value=400).flatmap(
    lambda n: st.integers(min_value=1, max_value=4).flatmap(
        lambda d: st.lists(
            st.lists(
                st.one_of(
                    st.integers(min_value=0, max_value=12).map(float),
                    st.floats(min_value=0, max_value=100, allow_nan=False, width=32),
                ),
                min_size=d, max_size=d,
            ),
            min_size=n, max_size=n,
        )
    )
)


@settings(max_examples=60, deadline=None)
@given(points_strategy)
def test_kernel_equals_bruteforce(rows):
    pts = np.asarray(rows, dtype=np.float64)
    assert (skyline_mask(pts) == skyline_mask_brute(pts)).all()


def _leafy_points(d):
    value = st.one_of(
        st.integers(min_value=0, max_value=6).map(float),
        st.sampled_from([0.0, -0.0]),
        st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
    )
    # a NaN goes into column c of a row when c < d (about 1 row in 5)
    row = st.tuples(st.lists(value, min_size=d, max_size=d),
                    st.integers(min_value=0, max_value=4 * d))
    return st.tuples(st.lists(row, min_size=1, max_size=400),
                     st.sampled_from(["mixed", "integral", "duplicates"]))


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=3, max_value=5).flatmap(_leafy_points))
def test_kernel_equals_bruteforce_across_leaves(case):
    """skyline_mask with 4-row k-d leaves (so up to 400 rows cross ~100
    leaves and the elimination pre-pass) equals brute force: ties, +-0.0,
    NaN rows, all-duplicates, exact-sum and general float modes."""
    from unittest import mock

    from query_skyline_qos_flink_spark.operators import skyline_kernel

    rows, shape = case
    pts = np.asarray([r for r, _ in rows], dtype=np.float64)
    if shape == "integral":
        pts = np.abs(np.round(pts)) % 5  # a small domain: many ties
    elif shape == "duplicates":
        pts = np.repeat(pts[:1], len(pts), axis=0)
    for i, (_, c) in enumerate(rows):
        if c < pts.shape[1]:
            pts[i, c] = np.nan
    with mock.patch.object(skyline_kernel, "_LEAF_ROWS", 4):
        assert (skyline_mask(pts) == skyline_mask_brute(pts)).all()


def _anti_correlated(rng, n, d, eps, domain=10000.0):
    """The reference producer's anti-correlated shape: a random direction
    scaled onto the hyperplane sum(v) ~ d * domain / 2, floored."""
    mean, slack = domain / 2.0 * d, eps * domain * d
    target = rng.random(n) * (2 * slack) + (mean - slack)
    unit = rng.random((n, d))
    return np.clip(np.floor(unit * (target / unit.sum(axis=1))[:, None]), 0.0, domain)


def test_kernel_equals_bruteforce_bench_shapes():
    """Fixed-seed parity at the benchmark's shapes, a few thousand rows
    each: 3-D and 4-D anti-correlated (4-D floors ~22% of rows to the
    origin) and 5-D uniform, at the default and at a small leaf size."""
    from unittest import mock

    from query_skyline_qos_flink_spark.operators import skyline_kernel

    rng = np.random.default_rng(2019)
    shapes = [
        _anti_correlated(rng, 4000, 3, 0.05),
        _anti_correlated(rng, 3000, 4, 0.9),
        np.floor(rng.random((4000, 5)) * 10001.0),
    ]
    for pts in shapes:
        ref = skyline_mask_brute(pts)
        assert (skyline_mask(pts) == ref).all()
        with mock.patch.object(skyline_kernel, "_LEAF_ROWS", 64):
            assert (skyline_mask(pts) == ref).all()


@settings(max_examples=40, deadline=None)
@given(points_strategy, st.integers(min_value=1, max_value=7))
def test_partition_invariance(rows, parts):
    pts = np.asarray(rows, dtype=np.float64)
    ref = sorted(map(tuple, pts[skyline_mask(pts)]))
    assign = np.arange(len(pts)) % parts
    sky = pts[:0]
    for p in range(parts):
        union = np.concatenate([sky, pts[assign == p]], axis=0)
        sky = union[skyline_mask(union)]
    assert sorted(map(tuple, sky)) == ref


@settings(max_examples=40, deadline=None)
@given(points_strategy)
def test_idempotence_containment_duplicates(rows):
    pts = np.asarray(rows, dtype=np.float64)
    mask = skyline_mask(pts)
    sky = pts[mask]
    assert skyline_mask(sky).all()  # idempotent
    # duplicate retention: every copy of a surviving value-tuple survives
    surviving = {tuple(r) for r in sky}
    for i, row in enumerate(pts):
        if tuple(row) in surviving:
            assert mask[i]


# --------------------------------------------------------------------------
# k-skyband kernel properties
# --------------------------------------------------------------------------


@settings(max_examples=50, deadline=None)
@given(points_strategy, st.integers(min_value=1, max_value=6))
def test_skyband_equals_bruteforce(rows, k):
    from query_skyline_qos_flink_spark.operators.skyline_kernel import (
        skyband_mask,
        skyband_mask_brute,
    )

    pts = np.array(rows, dtype=np.float64)
    m, c = skyband_mask(pts, k)
    mb, cb = skyband_mask_brute(pts, k)
    assert (m == mb).all()
    assert (c[m] == cb[m]).all()
    assert (c[~m] >= k).all()  # certified exclusion bound


@settings(max_examples=40, deadline=None)
@given(points_strategy, st.integers(min_value=1, max_value=5), st.integers(min_value=2, max_value=5))
def test_skyband_partition_superset(rows, k, parts):
    """The union of per-part k-skybands is a superset of the global
    k-skyband (kernel fact B2) — the distributed phase-1 contract."""
    from query_skyline_qos_flink_spark.operators.skyline_kernel import skyband_mask

    pts = np.array(rows, dtype=np.float64)
    gmask, _ = skyband_mask(pts, k)
    local_keep = np.zeros(len(pts), dtype=bool)
    for p in range(parts):
        idx = np.arange(len(pts)) % parts == p
        if idx.any():
            lm, _ = skyband_mask(pts[idx], k)
            local_keep[np.nonzero(idx)[0][lm]] = True
    assert (local_keep | ~gmask).all()  # global band ⊆ union of local bands


@settings(max_examples=10, deadline=None)
@given(
    vecs=st.lists(
        st.lists(st.floats(min_value=-8, max_value=8, allow_nan=False, width=32),
                 min_size=4, max_size=4),
        min_size=1, max_size=25,
    )
)
def test_int8_quantization_spark_vs_python_twin(spark, vecs):
    """Spark's ``with_int8_codes`` == an independent plain-Python
    reimplementation of the documented arithmetic (double widening, two
    IEEE ops, exact floor, clamp, corpus-global scale) on arbitrary
    float32 vectors — the same definition the duckdb oracle embeds."""
    import math

    from query_skyline_qos_flink_spark.operators.quantize import with_int8_codes

    arr = np.array(vecs, dtype=np.float32)
    maxabs = float(np.abs(arr.astype(np.float64)).max())
    expect = [
        [max(-127, math.floor(float(x) * 127.0 / maxabs)) for x in v]
        if maxabs > 0 else [0] * len(v)
        for v in arr
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(arr)],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: list(r["q8"]) for r in with_int8_codes(df).collect()}
    for i, exp in enumerate(expect):
        assert got[i] == exp


@settings(max_examples=50, deadline=None)
@given(
    points_strategy,
    st.lists(st.integers(min_value=0, max_value=12).map(float), min_size=4, max_size=4),
)
def test_reverse_skyline_kernel_properties(rows, qraw):
    """count_refuters_vs vs the brute oracle: for every row, the kernel's
    count-minus-self over the FULL point set is zero iff the brute mask
    keeps the row; and thinning against ANY refuter subset (the phase-1
    pool shape) yields a superset of the answer."""
    from query_skyline_qos_flink_spark.operators.skyline_kernel import (
        count_refuters_vs,
        reverse_skyline_mask_brute,
    )

    pts = np.asarray(rows, dtype=np.float64)
    q = np.asarray(qraw[: pts.shape[1]], dtype=np.float64)
    w = np.abs(q[None, :] - pts)
    counts = count_refuters_vs(pts, w, pts)
    self_c = (w > 0).any(axis=1).astype(np.int64)
    keep = (counts - self_c) == 0
    brute = reverse_skyline_mask_brute(pts, q)
    assert (keep == brute).all()
    # phase-1 soundness: a pool-thinned mask never drops an answer row
    pool = pts[:: max(1, len(pts) // 7)]
    pool_counts = count_refuters_vs(pts, w, pool)
    # the pool may or may not contain each row itself; ignoring self-
    # subtraction entirely only makes thinning LESS aggressive than any
    # correct variant, except it could wrongly drop a row refuted only by
    # itself — so subtract the max possible self-contribution instead
    thin_keep = (pool_counts - self_c) <= 0
    assert (~brute[~thin_keep]).all() if (~thin_keep).any() else True


@settings(max_examples=50, deadline=None)
@given(points_strategy, st.integers(min_value=1, max_value=4))
def test_kdominant_kernel_properties(rows, k):
    """count_kdominators_vs vs the brute oracle, plus the structural
    facts the operator leans on: zero count iff brute keeps the row, and
    k = d recovers ordinary dominance (skyline mask)."""
    from query_skyline_qos_flink_spark.operators.skyline_kernel import (
        count_kdominators_vs,
        kdominant_mask_brute,
        skyline_mask_brute,
    )

    pts = np.asarray(rows, dtype=np.float64)
    d = pts.shape[1]
    kk = min(k, d)
    counts = count_kdominators_vs(pts, pts, kk)
    brute = kdominant_mask_brute(pts, kk)
    assert ((counts == 0) == brute).all()
    assert (kdominant_mask_brute(pts, d) == skyline_mask_brute(pts)).all()


@settings(max_examples=50, deadline=None)
@given(points_strategy, st.integers(min_value=1, max_value=6))
def test_chunked_dominated_filter_equals_single_pass(rows, n_chunks):
    """The fact the multi-slice skyline verify (operators/skyline.py,
    _broadcast_verify over _stride_slices) relies on: progressively
    filtering candidates against an arbitrary partition of the reference
    set (logical AND across slices) equals one pass against the whole
    reference — strict dominance is a set property."""
    from query_skyline_qos_flink_spark.operators.skyline_kernel import (
        dominated_mask_vs_sorted,
    )

    pts = np.asarray(rows, dtype=np.float64)

    def dominated_by(cand, ref):
        if ref.shape[0] == 0 or cand.shape[0] == 0:
            return np.zeros(cand.shape[0], dtype=bool)
        rs = ref.sum(axis=1)
        order = np.argsort(rs, kind="stable")
        return dominated_mask_vs_sorted(
            cand, cand.sum(axis=1), ref[order], rs[order]
        )

    single = pts[~dominated_by(pts, pts)]
    assign = np.arange(len(pts)) % n_chunks
    cur = pts
    for c in range(n_chunks):
        ref = pts[assign == c]
        cur = cur[~dominated_by(cur, ref)]
    assert sorted(map(tuple, cur)) == sorted(map(tuple, single))


@settings(max_examples=50, deadline=None)
@given(points_strategy, st.integers(min_value=1, max_value=6))
def test_dominator_counts_additive_over_reference_partition(rows, n_chunks):
    """The fact the multi-slice skyband verify (_DominatorCount.distributed
    over _stride_slices) relies on: dominator counts sum exactly across
    any partition of the reference set."""
    from query_skyline_qos_flink_spark.operators.skyline_kernel import (
        _count_dominators_vs,
    )

    pts = np.asarray(rows, dtype=np.float64)
    whole = _count_dominators_vs(pts, pts)
    assign = np.arange(len(pts)) % n_chunks
    partial = np.zeros(len(pts), dtype=np.int64)
    for c in range(n_chunks):
        partial += _count_dominators_vs(pts, pts[assign == c])
    assert (partial == whole).all()


# 2-D points with heavy ties, duplicates, signed zeros, infinities and NaN
coords_2d = st.one_of(
    st.integers(min_value=0, max_value=12).map(float),
    st.sampled_from([0.0, -0.0, np.inf, -np.inf, np.nan]),
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
)
points_2d_strategy = st.lists(st.tuples(coords_2d, coords_2d), min_size=1, max_size=400)


@settings(max_examples=100, deadline=None)
@given(points_2d_strategy)
def test_kernel_2d_equals_bruteforce(rows):
    """skyline_mask's O(n log n) d == 2 branch (the frontier rule) keeps
    exactly the rows the brute-force definition keeps, every duplicate
    copy of a survivor included."""
    pts = np.asarray(rows, dtype=np.float64)
    assert (skyline_mask(pts) == skyline_mask_brute(pts)).all()


@settings(max_examples=100, deadline=None)
@given(points_2d_strategy)
def test_frontier_2d_is_distinct_skyline_pairs(rows):
    """frontier_2d returns each distinct surviving pair once, in
    ascending d0 — the shape the 2-D partial merge relies on."""
    from query_skyline_qos_flink_spark.operators.skyline_kernel import frontier_2d

    pts = np.asarray(rows, dtype=np.float64)
    valid = pts[~np.isnan(pts).any(axis=1)]
    f0, f1 = frontier_2d(valid[:, 0], valid[:, 1])
    assert (np.diff(f0) > 0).all()
    want = {tuple(r) for r in pts[skyline_mask_brute(pts)]}
    assert set(zip(f0.tolist(), f1.tolist())) == want

