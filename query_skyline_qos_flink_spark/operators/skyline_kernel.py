"""Vectorized numpy skyline (Pareto-frontier) kernels.

Semantics (parity with the reference's dominance relation,
``/root/reference/java/org.main/ServiceTuple.java:67-77``):

    p dominates q  <=>  forall i: p[i] <= q[i]  AND  exists i: p[i] < q[i]

All dimensions are MINIMIZED (the caller negates MAX dimensions before
invoking the kernel).  Duplicate / tied points do NOT dominate each other,
so every copy of a non-dominated point is retained — this matches the
reference's BNL (``FlinkSkyline.java:407-444``) and the duckdb NOT-EXISTS
oracle form.

Algorithm (``skyline_mask``, d >= 3): block-pruned BNL over k-d leaves,
after the MBR-oriented approach (ICDE 2019, PAPERS.md).  Rows are sorted
by coordinate sum, then:

1. **elimination pre-pass** — the skyline of the ``_LEAF_ROWS``
   smallest-sum rows drops every row it dominates (on uniform data this
   removes almost everything; without it the leaves lose to plain BNL);
2. **leaves** — the rest is cut into k-d leaves of at most
   ``_LEAF_ROWS`` rows (halving at the median of the widest dimension),
   and each leaf's local skyline is one pairwise block test, the
   forward pass's intra-block step (a leaf never exceeds one block);
3. **leaf pairs** — each leaf's survivors meet only the survivors of
   leaves that could dominate one of them: the other leaf's survivor min
   corner is <= this leaf's survivor max corner on every dimension and
   < on one, and its min sum is below this leaf's max sum (strictly in
   exact mode).  That test scans a sum-sorted prefix
   (``dominated_mask_vs_sorted``).

Exact by transitivity: every global skyline point survives its own leaf
and lies inside that leaf's survivor bounds, so every dominated row meets
a skyline dominator in some comparable leaf.  d == 2 takes the
O(n log n) frontier rule instead (:func:`frontier_2d`).

Two numeric modes, chosen per call:

* **exact-sums fast path** — when every value is integral and small enough
  that coordinate sums are exact in float64 (always true for the
  reference's integer-domain producers): dominance reduces to
  ``all(<=) AND sum<`` (strictly smaller sum encodes 'exists strictly
  smaller'; equal exact sums with all(<=) means equality).
* **general path** — arbitrary floats: computed sums can round two
  different sums to equality (hypothesis found this: ``4.0 + 1e-45 ==
  4.0``), so the test is ``all(<=) AND any(!=)`` (given all(<=), 'exists
  strictly smaller' is exactly 'not identical').  Float addition is
  monotone, so ``fl_sum(p) <= fl_sum(q)`` still holds for dominators: the
  NON-strict sum comparison stays valid as a pruning bound, for both the
  sky prefix and the leaf-pair test.  No step relies on a dominator
  preceding its victim in sum order (the blocks test all pairs), so
  computed-sum ties are harmless.

All dominance tests run column-at-a-time over transposed contiguous
vectors (column slices of row-major matrices are strided and memory-bound);
no (m, k, d) tensor is ever materialized.  Rows containing NaN are excluded
(engine policy: a null/NaN dimension excludes the row — SURVEY.md §7).
"""

from __future__ import annotations

import numpy as np

# Block size of the skyband forward pass.
_BLOCK = 2048
# Max rows per k-d leaf of skyline_mask (and of its elimination
# pre-pass's head); a leaf is one pairwise block, so its planes are views
# of the call's scratch (keep <= _M_CHUNK).
_LEAF_ROWS = 512
# Sky-side / cand-side chunks for the dominance planes.  Round-15
# retune after the scratch-plane refactor: the old 4096 x 32768 plane
# (128 MB) streamed from RAM every pass; 2048 x 8192 (16 MB) keeps the
# three planes inside the per-core L2/L3 share — measured on the 10M
# 3-D anti-correlated verify (135k survivors): warm reps 12-15 s at
# 128 MB planes -> 2.6-2.8 s at 16 MB, 1M shapes ~2x faster too.
# Shrinking further (1024 x 8192) is within noise of 2048 while paying
# more alive-compaction overhead per chunk.
_K_CHUNK = 8192
_M_CHUNK = 2048


def sums_exact(arr: np.ndarray) -> bool:
    """True when coordinate sums of ``arr`` are exact in float64: all
    values integral with headroom for d additions (the reference's
    integer-domain data always qualifies)."""
    d = max(1, arr.shape[1])
    bound = 2.0 ** 51 / d
    return bool((np.abs(arr) < bound).all() and (arr == np.floor(arr)).all())


def exact_f32(arr: np.ndarray) -> np.ndarray | None:
    """float32 view of ``arr`` if every value is exactly representable
    (true for integer-domain data) — halves the memory traffic of the
    comparison kernels without changing results; None when lossy."""
    f32 = arr.astype(np.float32)
    return f32 if (f32.astype(np.float64) == arr).all() else None


class _ChunkScratch:
    """Per-call scratch for :func:`_dom_chunk`: three bool planes sized
    to the call's real (m_chunk, k_chunk) cap, handed to every chunk as
    views.

    Round-15 root cause for allocating these ONCE per kernel call: the
    naive broadcast expressions (``A <= B`` per dim) materialized ~7
    fresh 128 MB temporaries per chunk — at 32 concurrent workers that
    is gigabytes/second of glibc ``mmap``/zero/``munmap``, and every
    ``munmap`` triggers TLB-shootdown IPIs across all cores, so the
    whole box episodically sank into 65-75% SYSTEM time (verify reps
    1.5 s → 5-12 s, box-wide — even JVM stages crawled).  With ``out=``
    comparisons into reused planes the steady-state allocation rate is
    three buffers per kernel call."""

    __slots__ = ("dom", "tmp", "neq")

    def __init__(self, m: int, k: int):
        self.dom = np.empty((m, k), dtype=bool)
        self.tmp = np.empty((m, k), dtype=bool)
        self.neq = np.empty((m, k), dtype=bool)

    def planes(self, a: int, k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(dom, tmp, neq) as CONTIGUOUS (a, k) views: a narrow [:a, :k]
        slice of a wide plane strides one page per row."""
        return tuple(p.reshape(-1)[: a * k].reshape(a, k)
                     for p in (self.dom, self.tmp, self.neq))


def _dom_chunk(sky_t: np.ndarray, ks: int, ke: int, ss: np.ndarray,
               C_t: np.ndarray, alive: np.ndarray, cs: np.ndarray,
               exact: bool, scratch: "_ChunkScratch | None" = None) -> np.ndarray:
    """(len(alive), ke-ks) bool: sky row dominates candidate row."""
    d = sky_t.shape[0]
    a, k = alive.size, ke - ks
    if scratch is None:
        scratch = _ChunkScratch(a, k)
    dom, tmp, neq = scratch.planes(a, k)
    ca = cs[alive][:, None]
    if exact:
        np.less(ss[None, :], ca, out=dom)
        for j in range(d):
            np.less_equal(sky_t[j][ks:ke][None, :], C_t[j][alive][:, None], out=tmp)
            np.logical_and(dom, tmp, out=dom)
        return dom
    np.less_equal(ss[None, :], ca, out=dom)
    for j in range(d):
        np.less_equal(sky_t[j][ks:ke][None, :], C_t[j][alive][:, None], out=tmp)
        np.logical_and(dom, tmp, out=dom)
    neq[:] = False
    for j in range(d):
        np.not_equal(sky_t[j][ks:ke][None, :], C_t[j][alive][:, None], out=tmp)
        np.logical_or(neq, tmp, out=neq)
    np.logical_and(dom, neq, out=dom)
    return dom


def dominated_mask_vs_sorted(cand: np.ndarray, cand_sum: np.ndarray,
                             sky_sorted: np.ndarray, sky_sum_sorted: np.ndarray,
                             exact: bool = False,
                             scratch: "_ChunkScratch | None" = None) -> np.ndarray:
    """Bool mask over ``cand``: dominated by some row of ``sky_sorted``,
    which is sorted ascending by (computed) coordinate sum, so each
    candidate chunk only scans the sky prefix up to its max sum — strict
    prefix in exact mode, inclusive in general mode (float addition
    monotonicity makes the non-strict bound sound).  Safe when the sky
    contains the candidate rows themselves (self and duplicate pairs are
    never 'strictly smaller somewhere').  A caller in a loop hoists one
    :class:`_ChunkScratch` of at least (min(m, _M_CHUNK), min(k, _K_CHUNK))."""
    m = cand.shape[0]
    out = np.zeros(m, dtype=bool)
    if sky_sorted.shape[0] == 0 or m == 0:
        return out
    order = np.argsort(cand_sum, kind="stable")
    side = "left" if exact else "right"
    sky_t = np.ascontiguousarray(sky_sorted.T)
    if scratch is None:
        scratch = _ChunkScratch(min(m, _M_CHUNK), min(sky_sorted.shape[0], _K_CHUNK))
    for ms in range(0, m, _M_CHUNK):
        sel = order[ms:ms + _M_CHUNK]
        C_t = np.ascontiguousarray(cand[sel].T)
        cs = cand_sum[sel]
        kmax = int(np.searchsorted(sky_sum_sorted, cs.max(), side=side))
        if kmax == 0:
            continue
        sub = np.zeros(len(sel), dtype=bool)
        for ks in range(0, kmax, _K_CHUNK):
            alive = np.flatnonzero(~sub)
            if alive.size == 0:
                break
            ke = min(ks + _K_CHUNK, kmax)
            dom = _dom_chunk(sky_t, ks, ke, sky_sum_sorted[ks:ke], C_t, alive, cs,
                             exact, scratch)
            sub[alive] |= dom.any(axis=1)
        out[sel] = sub
    return out


def _intra_dominated(A: np.ndarray, As: np.ndarray, exact: bool,
                     scratch: _ChunkScratch) -> np.ndarray:
    """Pairwise within one block: mask of rows dominated by another row.

    Same ``out=``-into-scratch discipline as :func:`_dom_chunk`: the
    (n, n) planes are views of the caller's scratch (a block is
    ≤ ``_LEAF_ROWS`` rows, so they fit)."""
    n, d = A.shape
    A_t = np.ascontiguousarray(A.T)
    dom, tmp, neq = scratch.planes(n, n)
    if exact:
        np.less(As[:, None], As[None, :], out=dom)  # (l, k): sum_l < sum_k
        for j in range(d):
            np.less_equal(A_t[j][:, None], A_t[j][None, :], out=tmp)
            np.logical_and(dom, tmp, out=dom)
        return dom.any(axis=0)
    np.less_equal(As[:, None], As[None, :], out=dom)
    for j in range(d):
        np.less_equal(A_t[j][:, None], A_t[j][None, :], out=tmp)
        np.logical_and(dom, tmp, out=dom)
    neq[:] = False
    for j in range(d):
        np.not_equal(A_t[j][:, None], A_t[j][None, :], out=tmp)
        np.logical_or(neq, tmp, out=neq)
    np.logical_and(dom, neq, out=dom)
    return dom.any(axis=0)


def frontier_2d(d0: np.ndarray, d1: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact 2-D frontier of (d0, d1) pairs, both minimized, as distinct
    pairs in ascending d0: per distinct d0 keep the min d1, then keep the
    pairs whose strict-predecessor running min (in d0 order) exceeds
    their d1.  O(n log n); pure comparisons and mins — no arithmetic — so
    it is float-exact and matches the relational ``groupBy(d0).min(d1)``
    + strict-prefix-min plan bit for bit.  The frontier is a
    skyline-merge monoid (``F(A ∪ B) = F(F(A) ∪ F(B))``), which is what
    makes the per-partition partial + driver merge of the 2-D skyline
    exact.  NaN-free input."""
    n = d0.shape[0]
    if n == 0:
        return d0, d1
    order = np.lexsort((d1, d0))  # by d0, ties by d1: first-per-d0 = min d1
    d0s, d1s = d0[order], d1[order]
    first = np.empty(n, dtype=bool)
    first[0] = True
    np.not_equal(d0s[1:], d0s[:-1], out=first[1:])
    d0u, d1u = d0s[first], d1s[first]
    pm = np.minimum.accumulate(d1u)
    keep = np.empty(d0u.shape[0], dtype=bool)
    keep[0] = True
    np.greater(pm[:-1], d1u[1:], out=keep[1:])
    return d0u[keep], d1u[keep]


def skyline_mask(points: np.ndarray) -> np.ndarray:
    """Return a boolean mask selecting the skyline rows of ``points``.

    ``points``: (n, d) float array, all dims minimized.  NaN rows -> False.
    d == 2 takes the O(n log n) frontier rule (:func:`frontier_2d`): a
    row survives iff its pair is a frontier pair, so every copy of a
    surviving pair survives.
    """
    pts = np.asarray(points, dtype=np.float64)
    if pts.ndim != 2:
        raise ValueError(f"points must be 2-D, got shape {pts.shape}")
    n, d = pts.shape
    if n == 0:
        return np.zeros(0, dtype=bool)
    valid = ~np.isnan(pts).any(axis=1)
    keep = np.zeros(n, dtype=bool)
    if not valid.any():
        return keep
    vidx = np.flatnonzero(valid)
    vp = pts[vidx]
    if d == 2:
        f0, f1 = frontier_2d(vp[:, 0], vp[:, 1])
        i = np.minimum(np.searchsorted(f0, vp[:, 0]), f0.shape[0] - 1)
        keep[vidx] = (f0[i] == vp[:, 0]) & (f1[i] == vp[:, 1])
        return keep
    sums = vp.sum(axis=1)
    exact = sums_exact(vp)
    # rows in ascending-sum order: the pre-pass head is a prefix, and any
    # id subset taken in id order is a sum-sorted sky
    order = np.argsort(sums, kind="stable")
    sp = vp[order]
    ssum = sums[order]
    # exact f32 fast path for the comparison kernels (sums stay f64)
    sp32 = exact_f32(sp)
    work = sp32 if sp32 is not None else sp
    nv = work.shape[0]
    scratch = _ChunkScratch(min(nv, _M_CHUNK), min(nv, _K_CHUNK))
    # elimination pre-pass: the skyline of the _LEAF_ROWS smallest-sum
    # rows drops every row it dominates
    head = np.arange(min(nv, _LEAF_ROWS))
    head = head[~_intra_dominated(work[head], ssum[head], exact, scratch)]
    rest = np.flatnonzero(
        ~dominated_mask_vs_sorted(work, ssum, work[head], ssum[head], exact, scratch)
    )
    # each leaf's local survivors, their corners and sum range
    leaves = [ix[~_intra_dominated(work[ix], ssum[ix], exact, scratch)]
              for ix in _kd_leaves(work, rest)]
    cat = np.concatenate(leaves)
    sizes = [ix.size for ix in leaves]
    starts = np.cumsum([0] + sizes[:-1])
    lo = np.minimum.reduceat(work[cat], starts)
    hi = np.maximum.reduceat(work[cat], starts)
    smin = np.minimum.reduceat(ssum[cat], starts)
    smax = np.maximum.reduceat(ssum[cat], starts)
    by_sum = np.argsort(cat)
    surv = cat[by_sum]
    surv_leaf = np.repeat(np.arange(len(leaves)), sizes)[by_sum]
    below = np.less if exact else np.less_equal
    dead = np.zeros(nv, dtype=bool)
    for li, ix in enumerate(leaves):
        # leaves whose survivors could dominate one of this leaf's: a
        # dominator is <= everywhere and < somewhere, so its leaf's min
        # corner is too (and its sum is at most the victim's)
        near = ((lo <= hi[li]).all(axis=1) & (lo < hi[li]).any(axis=1)
                & below(smin, smax[li]))
        near[li] = False
        sky = surv[near[surv_leaf]]
        if sky.size:
            dead[ix] = dominated_mask_vs_sorted(work[ix], ssum[ix], work[sky], ssum[sky],
                                                exact, scratch)
    keep[vidx[order[surv[~dead[surv]]]]] = True
    return keep


def _kd_leaves(pts: np.ndarray, idx: np.ndarray) -> list[np.ndarray]:
    """Row ids ``idx`` of ``pts`` cut into k-d leaves of at most
    ``_LEAF_ROWS`` rows, each split halving at the median of the widest
    dimension."""
    leaves, todo = [], [idx]
    while todo:
        ix = todo.pop()
        if ix.size <= _LEAF_ROWS:
            leaves.append(ix)
            continue
        sub = pts[ix]
        j = int(np.argmax(sub.max(axis=0) - sub.min(axis=0)))
        half = ix.size // 2
        part = np.argpartition(sub[:, j], half)
        todo += [ix[part[:half]], ix[part[half:]]]
    return leaves


def onion_layers(points: np.ndarray, max_layers: int) -> np.ndarray:
    """1-based onion-peel layer per row, up to ``max_layers``.

    ``layers[i] = L`` iff row i is in the skyline of the rows remaining
    after peeling layers ``< L`` (Chomicki et al.'s iterated skyline);
    ``0`` for rows peeled past ``max_layers`` and for NaN rows.  Each
    peel is one :func:`skyline_mask` pass over the remaining rows, so
    total cost is ``O(max_layers * n * |layer|)`` — never quadratic in
    ``n`` unless the data is one long dominance chain."""
    pts = np.asarray(points, dtype=np.float64)
    n = pts.shape[0]
    layers = np.zeros(n, dtype=np.int64)
    remaining = np.flatnonzero(~np.isnan(pts).any(axis=1))
    for layer in range(1, max_layers + 1):
        if remaining.size == 0:
            break
        mask = skyline_mask(pts[remaining])
        layers[remaining[mask]] = layer
        remaining = remaining[~mask]
    return layers


def skyline_mask_brute(points: np.ndarray) -> np.ndarray:
    """O(n^2) reference oracle for tests (<= a few thousand rows)."""
    pts = np.asarray(points, dtype=np.float64)
    n = pts.shape[0]
    keep = np.zeros(n, dtype=bool)
    valid = ~np.isnan(pts).any(axis=1)
    for i in range(n):
        if not valid[i]:
            continue
        p = pts[i]
        le = (pts[valid] <= p).all(axis=1)
        lt = (pts[valid] < p).any(axis=1)
        keep[i] = not (le & lt).any()
    return keep


# --------------------------------------------------------------------------
# k-skyband: points with fewer than k dominators (k=1 is the skyline)
# --------------------------------------------------------------------------
#
# Structural facts the distributed operator relies on (proofs in
# operators/skyline.py::skyband):
#   (B1) dom(q) ⊊ dom(p) whenever q dominates p (transitivity), so every
#        dominator of a k-skyband point is itself in the k-skyband;
#   (B2) the k-skyband of any SUBSET is a superset of the global
#        k-skyband restricted to that subset (removing rows can only
#        lower dominator counts);
#   (B3) if |dom(p)| >= k then at least k of p's dominators are k-skyband
#        points (sort dom(p) by sum/lex: the i-th element has < i
#        dominators, all inside dom(p)).

_SKYBAND_CHUNK = 8192


def dominance_planes(cand: np.ndarray, pts: np.ndarray, cand_dominates: bool,
                     scratch: "_ChunkScratch | None" = None):
    """The (candidate x point) dominance planes, one cache-sized block at a
    time: yields ``(ps, ms, plane, tmp)`` where ``plane[i, j]`` is True iff
    ``cand[ms + i]`` strictly dominates ``pts[ps + j]`` (``cand_dominates``)
    or ``pts[ps + j]`` strictly dominates ``cand[ms + i]`` (otherwise), and
    ``tmp`` is a free scratch plane of the same shape.  Both views are
    reused by the next block, so consume them before resuming.

    Chunked on BOTH sides (_M_CHUNK candidates x _SKYBAND_CHUNK points, 16
    MB planes after the r15 retune) so the boolean planes stay cache-sized
    however large either side grows — single-side chunking at band sizes
    in the tens of thousands allocates multi-hundred-MB temporaries per
    dimension and turns the pass memory-bound.  Per-dim comparisons go
    ``out=`` into the scratch planes (round-15 allocator-churn
    discipline); callers in a loop hoist one :class:`_ChunkScratch`."""
    m, d = cand.shape
    if m == 0 or pts.shape[0] == 0:
        return
    if scratch is None:
        scratch = _ChunkScratch(min(m, _M_CHUNK), min(pts.shape[0], _SKYBAND_CHUNK))
    for ps in range(0, pts.shape[0], _SKYBAND_CHUNK):
        pc = pts[ps : ps + _SKYBAND_CHUNK]
        for ms in range(0, m, _M_CHUNK):
            cc = cand[ms : ms + _M_CHUNK]
            a, b = cc.shape[0], pc.shape[0]
            le, eq, tmp = scratch.dom[:a, :b], scratch.neq[:a, :b], scratch.tmp[:a, :b]
            le[:] = True
            eq[:] = True
            for j in range(d):
                cj = cc[:, j][:, None]
                pj = pc[:, j][None, :]
                if cand_dominates:
                    np.less_equal(cj, pj, out=tmp)
                else:
                    np.less_equal(pj, cj, out=tmp)
                np.logical_and(le, tmp, out=le)
                np.equal(cj, pj, out=tmp)
                np.logical_and(eq, tmp, out=eq)
            np.logical_not(eq, out=eq)
            np.logical_and(le, eq, out=le)
            yield ps, ms, le, tmp


def _count_dominators_vs(cand: np.ndarray, sky: np.ndarray,
                         scratch: "_ChunkScratch | None" = None) -> np.ndarray:
    """Exact count of ``sky`` rows dominating each ``cand`` row."""
    counts = np.zeros(cand.shape[0], dtype=np.int64)
    for _ps, ms, plane, _tmp in dominance_planes(cand, sky, False, scratch):
        counts[ms : ms + plane.shape[0]] += plane.sum(axis=1, dtype=np.int64)
    return counts


def skyband_mask(points: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(mask, counts) over the input order: ``mask[i]`` iff point i has
    fewer than ``k`` dominators; ``counts[i]`` is the EXACT dominator
    count where ``mask[i]`` (for excluded points it is a certified lower
    bound >= k, counted against skyband members only — see B3).

    Forward pass in dominance-compatible order (exact-sum order when sums
    are exact, lexicographic otherwise — a dominator always precedes its
    victims) keeping only the running skyband: by B1 counting against the
    running set is exact for members, and by B3 it still certifies
    exclusion for non-members.  O(n * |skyband|) like the skyline BNL,
    not O(n^2).  NaN rows are excluded (mask False, count -1)."""
    pts = np.asarray(points, dtype=np.float64)
    n = pts.shape[0]
    mask = np.zeros(n, dtype=bool)
    counts = np.full(n, -1, dtype=np.int64)
    valid = ~np.isnan(pts).any(axis=1)
    idx = np.nonzero(valid)[0]
    if idx.size == 0:
        return mask, counts
    vpts = pts[idx]
    if sums_exact(vpts):
        order = np.argsort(vpts.sum(axis=1), kind="stable")
    else:
        order = np.lexsort(vpts.T[::-1])
    vpts = vpts[order]
    sky: np.ndarray | None = None
    vcounts = np.empty(vpts.shape[0], dtype=np.int64)
    vflags = np.empty(vpts.shape[0], dtype=bool)
    d = vpts.shape[1]
    pb = min(vpts.shape[0], _BLOCK)
    # ONE scratch for the whole forward pass: the intra-block planes
    # (<= _BLOCK square) and every _count_dominators_vs call (<= _BLOCK x
    # _SKYBAND_CHUNK) slice the same buffers — without the hoist the
    # n/_BLOCK calls each re-mmap ~3 x 16-50 MB planes (round-15 review)
    scratch = _ChunkScratch(pb, max(pb, min(vpts.shape[0], _SKYBAND_CHUNK)))
    for bs in range(0, vpts.shape[0], _BLOCK):
        blk = vpts[bs : bs + _BLOCK]
        m = blk.shape[0]
        base = (
            _count_dominators_vs(blk, sky, scratch)
            if sky is not None and sky.shape[0]
            else np.zeros(m, dtype=np.int64)
        )
        flags = np.empty(m, dtype=bool)
        # identical recurrence (c_i = base_i + |{j < i : dom[j,i] and
        # flags_j}|), iterated MEMBER-to-member (round 17): in
        # dominance-compatible order contributions only flow FORWARD, so
        # once the scan passes position p its running count is final —
        # the next member is the first remaining position whose running
        # count is < k (one vectorized scan), and only MEMBER rows pay a
        # domination-row computation against the block tail.  The former
        # shape built the full m x m intra-block dominance matrix per
        # block (the kernel's hot spot at ~0.5 s of a warm s30 — band
        # members are few, so almost all of that matrix was never read);
        # the worst case (every row a member) costs what the old matrix
        # did.  Counts and flags stay bit-identical to the per-row loop
        # (parity-swept in tests).
        c_run = base  # running counts; base is a fresh array per block
        flags[:] = False
        i = 0
        while i < m:
            rem = np.nonzero(c_run[i:] < k)[0]
            if rem.size == 0:
                break
            j = i + int(rem[0])
            flags[j] = True
            if j + 1 < m:
                tail = blk[j + 1 :]
                strict = (blk[j] <= tail).all(axis=1)
                strict &= ~(blk[j] == tail).all(axis=1)
                c_run[j + 1 :] += strict
            i = j + 1
        vcounts[bs : bs + m] = c_run
        vflags[bs : bs + m] = flags
        newsky = blk[flags]
        if newsky.shape[0]:
            sky = newsky if sky is None else np.concatenate([sky, newsky], axis=0)
    inv = idx[order]
    mask[inv] = vflags
    counts[inv] = vcounts
    return mask, counts


def skyband_mask_brute(points: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """O(n^2) reference oracle for tests: exact dominator counts for ALL
    valid rows (not just members)."""
    pts = np.asarray(points, dtype=np.float64)
    n = pts.shape[0]
    mask = np.zeros(n, dtype=bool)
    counts = np.full(n, -1, dtype=np.int64)
    valid = ~np.isnan(pts).any(axis=1)
    vpts = pts[valid]
    for pos, i in enumerate(np.nonzero(valid)[0]):
        p = pts[i]
        le = (vpts <= p).all(axis=1)
        eq = (vpts == p).all(axis=1)
        c = int((le & ~eq).sum())
        counts[i] = c
        mask[i] = c < k
    return mask, counts


# --------------------------------------------------------------------------
# Reverse skyline (Dellis & Seeger, VLDB'07): refuter counting
# --------------------------------------------------------------------------
#
# p is in the (monochromatic) reverse skyline of query point q iff no OTHER
# dataset row r dynamically-dominates q with respect to p:
#     forall d: |r_d - p_d| <= |q_d - p_d|,  exists d: |r_d - p_d| < |q_d - p_d|.
# The per-candidate half-widths w_i = |q - p_i| are fixed, so refuting is a
# box-membership count — the same chunked column-at-a-time shape as
# dominance_planes, with an absolute-difference comparison.


def count_refuters_vs(cand: np.ndarray, widths: np.ndarray, pts: np.ndarray) -> np.ndarray:
    """For each candidate row i: count of ``pts`` rows r with
    |r_j - cand_ij| <= widths_ij on EVERY dim and < on at least one
    (``widths[i] = |q - cand[i]|``).  Chunked on both sides so boolean
    temporaries stay cache-sized.

    NOTE: counts are taken against ALL of ``pts`` — a row identical to the
    candidate (including the candidate's own row when ``pts`` contains it)
    refutes whenever ``widths[i]`` is nonzero somewhere; callers subtract
    the self row (exact coordinate-duplicates legitimately refute each
    other under the r != p definition)."""
    cand = np.asarray(cand, dtype=np.float64)
    widths = np.asarray(widths, dtype=np.float64)
    pts = np.asarray(pts, dtype=np.float64)
    m, d = cand.shape
    counts = np.zeros(m, dtype=np.int64)
    if m == 0 or pts.shape[0] == 0:
        return counts
    # per-CALL scratch planes (round-15 allocator-churn discipline).
    # The naive form was the worst offender in the family: the |r - c|
    # broadcast made a fresh FLOAT64 plane (8x the bool size) per dim
    # per chunk on top of the two bool temporaries.
    pa, pb = min(m, _M_CHUNK), min(pts.shape[0], _SKYBAND_CHUNK)
    f_p = np.empty((pa, pb), dtype=np.float64)
    le_p = np.empty((pa, pb), dtype=bool)
    lt_p = np.empty((pa, pb), dtype=bool)
    tmp_p = np.empty((pa, pb), dtype=bool)
    for ms in range(0, m, _M_CHUNK):
        cc = cand[ms : ms + _M_CHUNK]
        wc = widths[ms : ms + _M_CHUNK]
        sub = counts[ms : ms + _M_CHUNK]
        for ks in range(0, pts.shape[0], _SKYBAND_CHUNK):
            rc = pts[ks : ks + _SKYBAND_CHUNK]
            a, b = cc.shape[0], rc.shape[0]
            fj = f_p[:a, :b]
            le, lt, tmp = le_p[:a, :b], lt_p[:a, :b], tmp_p[:a, :b]
            le[:] = True
            lt[:] = False
            for j in range(d):
                np.subtract(rc[:, j][None, :], cc[:, j][:, None], out=fj)
                np.abs(fj, out=fj)
                wj = wc[:, j][:, None]
                np.less_equal(fj, wj, out=tmp)
                np.logical_and(le, tmp, out=le)
                np.less(fj, wj, out=tmp)
                np.logical_or(lt, tmp, out=lt)
            np.logical_and(le, lt, out=le)
            sub += le.sum(axis=1, dtype=np.int64)
    return counts


def reverse_skyline_mask_brute(points: np.ndarray, q: np.ndarray) -> np.ndarray:
    """O(n^2) reference oracle for tests: mask[i] iff no OTHER row refutes
    row i (self excluded by row position, so exact coordinate-duplicates
    refute each other).  NaN rows are excluded from both sides."""
    pts = np.asarray(points, dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    n = pts.shape[0]
    keep = np.zeros(n, dtype=bool)
    valid = ~np.isnan(pts).any(axis=1)
    vidx = np.nonzero(valid)[0]
    vpts = pts[vidx]
    for pos, i in enumerate(vidx):
        p = pts[i]
        w = np.abs(q - p)
        diff = np.abs(vpts - p)
        le = (diff <= w).all(axis=1)
        lt = (diff < w).any(axis=1)
        ref = le & lt
        ref[pos] = False  # self row never refutes
        keep[i] = not ref.any()
    return keep


# --------------------------------------------------------------------------
# k-dominant skyline (Chan et al., CIKM'06): relaxed dominance for high d
# --------------------------------------------------------------------------
#
# r k-dominates p iff r <= p on AT LEAST k of the d dims and r < p on at
# least one dim (any strict dim is automatically one of the <= dims).
# k = d recovers ordinary dominance; k < d is NOT transitive — cyclic
# k-dominance exists, so none of the skyline subset facts (B1-B3) apply
# and the distributed operator uses the reverse-skyline filter-then-verify
# shape instead.  A row never k-dominates itself or an exact duplicate
# (no strict dim), so no self-exclusion bookkeeping is needed.


def count_kdominators_vs(cand: np.ndarray, pts: np.ndarray, k: int) -> np.ndarray:
    """For each candidate row i: count of ``pts`` rows r with
    ``#{j: r_j <= cand_ij} >= k`` and ``any j: r_j < cand_ij``.  Chunked
    on both sides so integer/boolean temporaries stay cache-sized."""
    cand = np.asarray(cand, dtype=np.float64)
    pts = np.asarray(pts, dtype=np.float64)
    m, d = cand.shape
    counts = np.zeros(m, dtype=np.int64)
    if m == 0 or pts.shape[0] == 0:
        return counts
    # per-CALL scratch planes (round-15 allocator-churn discipline)
    pa, pb = min(m, _M_CHUNK), min(pts.shape[0], _SKYBAND_CHUNK)
    cnt_p = np.empty((pa, pb), dtype=np.int16)
    lt_p = np.empty((pa, pb), dtype=bool)
    tmp_p = np.empty((pa, pb), dtype=bool)
    for ms in range(0, m, _M_CHUNK):
        cc = cand[ms : ms + _M_CHUNK]
        sub = counts[ms : ms + _M_CHUNK]
        for ks in range(0, pts.shape[0], _SKYBAND_CHUNK):
            rc = pts[ks : ks + _SKYBAND_CHUNK]
            a, b = cc.shape[0], rc.shape[0]
            le_cnt, lt, tmp = cnt_p[:a, :b], lt_p[:a, :b], tmp_p[:a, :b]
            le_cnt[:] = 0
            lt[:] = False
            for j in range(d):
                rj = rc[:, j][None, :]
                cj = cc[:, j][:, None]
                np.less_equal(rj, cj, out=tmp)
                le_cnt += tmp
                np.less(rj, cj, out=tmp)
                np.logical_or(lt, tmp, out=lt)
            np.greater_equal(le_cnt, k, out=tmp)
            np.logical_and(tmp, lt, out=tmp)
            sub += tmp.sum(axis=1, dtype=np.int64)
    return counts


def kdominant_mask_brute(points: np.ndarray, k: int) -> np.ndarray:
    """O(n^2) reference oracle for tests: mask[i] iff no row k-dominates
    row i.  NaN rows are excluded from both sides."""
    pts = np.asarray(points, dtype=np.float64)
    n = pts.shape[0]
    keep = np.zeros(n, dtype=bool)
    valid = ~np.isnan(pts).any(axis=1)
    vpts = pts[valid]
    for i in range(n):
        if not valid[i]:
            continue
        p = pts[i]
        le_cnt = (vpts <= p).sum(axis=1)
        lt = (vpts < p).any(axis=1)
        keep[i] = not ((le_cnt >= k) & lt).any()
    return keep
