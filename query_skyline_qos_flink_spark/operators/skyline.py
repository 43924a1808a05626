"""DataFrame skyline operator — Spark-first multi-strategy execution.

The reference implements skyline as a two-phase Flink topology: spatial
``keyBy`` -> per-partition BNL -> single global BNL merge
(``/root/reference/java/org.main/FlinkSkyline.java:110-174,407-444,514-569``).
The structural insight (SURVEY.md §2.3) is that skyline-merge is an
associative, commutative, idempotent monoid: ``SKY(A ∪ B) = SKY(SKY(A) ∪
SKY(B))``.  This module picks a physical strategy the way Catalyst picks a
join: by shape.

* **d == 2 — frontier partials merged driver-side, exchange-free.**
  2-D skyline is "sort by x, keep prefix-minima of y".  Ungrouped
  (round 17): a ``mapInArrow`` pass over just the two dim columns emits
  each partition's (d0, min-d1) frontier pairs (the frontier is a
  skyline-merge monoid, so local frontiers compose exactly); one count
  job gates a driver-side exact merge, and the survivors broadcast into
  the final semi-join — NO hash exchange anywhere.  Past the gate (an
  adversarial frontier-sized input) the pairs feed the former relational
  plan: ``groupBy(d0).min(d1)`` -> two-pass range-partitioned running
  strict-predecessor min (literal boundaries, per-range local
  prefix-min + broadcast cross-range offsets — no single task ever
  sorts all distinct d0 values) -> broadcast semi-join back.  Grouped:
  the prefix-min window partitions by the group keys (parallel by key).

* **d >= 3 — two-phase, one global-pass dispatch.**
  Phase 1 needs no shuffle at all: ``mapInPandas`` computes a local
  skyline per *input partition* (Arrow-batched, incremental), so only
  local-skyline survivors ever hit the wire.  The merge counts the
  cached survivors (one tree-merge round first if they exceed
  ``_VERIFY_MAX_ROWS``) and hands them to :func:`_verify`, the family's
  one global pass, which picks the physical path by size:
  - ``n <= _DRIVER_VERIFY_MAX_ROWS`` — collect once, finish on the
    driver with the same kernel, re-enter as a local relation;
  - ``n <= _VERIFY_MAX_ROWS`` — **broadcast-verify**: ship the survivor
    dim-matrix to every task and drop dominated rows in parallel.  This
    replaces the reference's single-threaded global BNL — the PDF's own
    bottleneck (§5.5) — with an embarrassingly parallel pass, valid
    because every non-survivor is dominated by some survivor
    (transitivity);
  - larger — chunked: one broadcast pass per ``_VERIFY_MAX_ROWS``-row
    uniform chunk of the survivors.
  The same dispatch finishes the k-skyband (and through it
  top-dominating) with a dominator-count kernel, and the skycube's
  full-space and per-subspace merges.

At 100 TB: phase 1 parallelism = input splits; shuffle volume is
``O(sum of local skyline sizes)``, not ``O(input)``; every broadcast is
dims only (d doubles/row) and at most ``_VERIFY_MAX_ROWS`` rows.  No
driver-side collect of anything larger than the survivor dim-matrix.

MAX dimensions are handled by negation; duplicates/ties are retained
(SURVEY.md §1.1); rows with NULL/NaN in any skyline dimension are excluded
(documented engine policy).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from .caching import persist_balanced as _persist_balanced
from .caching import persist_bounded as _persist
from .caching import release_local_checkpoint
from .fanout import fanout_narrow_scan as _fanout
from .joins import null_safe_semi_join
from .layout import range_bucket
from .skyline_kernel import (
    _count_dominators_vs,
    dominance_planes,
    dominated_mask_vs_sorted,
    exact_f32,
    skyline_mask,
    sums_exact,
)

_PREP = "__sk_"

# Max candidate rows for one broadcast-verify pass (see _verify); above
# this the skyline merge runs a tree-merge round first, and the verify
# goes chunk by chunk.
_VERIFY_MAX_ROWS = 400_000
# Candidate sets at or below this row count finish DRIVER-side: the same
# chunked numpy kernels the distributed verify broadcasts run once on the
# driver over the already-collected matrix, and the result re-enters Spark
# as a local relation.  The distributed verify pass exists to spread
# O(n x m) comparison volume across cores, but at m <= this bound the
# whole candidate-vs-candidate block is <= ~2.7e8 boolean ops (~0.2 s on
# one core) while the distributed form pays 1-2 extra driver round-trips
# plus a python-worker broadcast pass per call — pure fixed latency at
# bench scale and wasted scheduling at cluster scale (guide §1.2: remove
# passes before tuning them).  Results are identical: same kernel, same
# duplicate-retention policy (the skyline-merge monoid).  Read only by
# _verify.
_DRIVER_VERIFY_MAX_ROWS = 16_384
# Whole-input driver fast path for the filter-then-verify family
# (skyband, top_dominating, reverse/k-dominant, prob_skyline): when the
# optimizer's own size estimate says the prepared input is small, collect
# it ONCE and run the identical kernels on the driver instead of paying
# the family's 3-8 driver round-trips (local pass + candidate collect +
# counting scan + assembly joins — measured 25 jobs / 51 stages for one
# warm s30 call, ~60 ms of driver gap per job).  The distributed shape is
# unchanged above the gates: the BYTES gate reads
# ``optimizedPlan().stats().sizeInBytes`` (driver-side, no job — file
# size for a parquet scan, so a 100 TB input can never probe-collect),
# and the ROWS gate re-checks the actual collected count, falling back to
# the distributed path when the estimate lied.  Scale-adaptive by data
# size, not by core count (the driver fallback at cluster scale is the
# same code it is locally).
_DRIVER_INPUT_MAX_BYTES = 256 << 20
_DRIVER_INPUT_MAX_ROWS = 65_536
# Single-threaded kernel budget for a whole-input driver path, in element
# comparisons (~1 s of numpy on one core): a path whose thinning or
# verify block would exceed it falls back to the distributed shape, whose
# identical kernels parallelize across the scan.  Calibrated to admit
# s27's bench shape (20k rows x 4096 pool x 3 dims = 2.5e8, measured
# ~0.3 s) while blocking the 65k^2-row pathological class (1.3e10).
_DRIVER_KERNEL_MAX_OPS = 400_000_000


def _collect_small_input(prepped: DataFrame, cols: Sequence[str]):
    """Collect ``cols`` of ``prepped`` as a pyarrow Table when the plan's
    size estimate fits the driver gate; None (no job when the estimate is
    large) otherwise.  See ``_DRIVER_INPUT_MAX_BYTES``.

    When the optimizer carries a row-count estimate (CBO stats or a
    LocalRelation), a count past ``_DRIVER_INPUT_MAX_ROWS`` skips the
    collect entirely (round-16 ADVICE: a shape that can never take the
    driver path shouldn't pull 256 MB just to learn that) — best-effort,
    since plain parquet scans usually estimate bytes only."""
    try:
        stats = prepped._jdf.queryExecution().optimizedPlan().stats()
        est = int(stats.sizeInBytes())
    except Exception:  # pragma: no cover - Connect / exotic plan
        return None
    try:
        rc = stats.rowCount()
        if rc.isDefined() and int(rc.get().longValue()) > _DRIVER_INPUT_MAX_ROWS:
            return None
    except Exception:  # pragma: no cover - estimate-only stats
        pass
    if est > _DRIVER_INPUT_MAX_BYTES:
        return None
    tbl = prepped.select(*cols).toArrow()
    if tbl.num_rows > _DRIVER_INPUT_MAX_ROWS:
        return None
    return tbl
_TREE_FANOUT = 32
# Max 2-D survivor rows to broadcast into the final semi-join (row = two
# doubles + group keys; 2M rows ≈ tens of MB — well inside executor memory,
# vastly cheaper than shuffling the full input on float keys).
_BROADCAST_SURVIVOR_MAX = 2_000_000
# Max collected (d0, min-d1) frontier-pair rows for the ungrouped 2-D
# driver merge (16 bytes/row -> 32 MB at the bound, well inside
# maxResultSize).  The per-partition frontier pass bounds what reaches
# the driver to the UNION of local frontiers, and the count gate (one
# job over the persisted pairs) decides before anything is pulled; past
# the gate the former relational machinery runs over the pairs — which
# are a (usually much smaller) certified superset of the survivor set,
# so the fallback only ever shrinks the exchange.  Scale-adaptive by
# data, not cores: a 100 TB adversarial input (globally d0-sorted with
# descending d1 — every row on its local frontier) fails the count gate
# and keeps the distributed relational shape.
_2D_FRONTIER_DRIVER_MAX_ROWS = 2_000_000
# Compact cadence for the frontier partial's buffered pairs: bounds task
# memory at ~64 MB of float64 pairs regardless of partition size.
_2D_FRONTIER_COMPACT_ROWS = 4_000_000
# Total bytes of the fused skycube's 2^d - 2 broadcast keysets (dim values
# are 8-byte doubles); beyond this the cube falls back to the per-subspace
# broadcast-semi-join loop, whose broadcasts are one subspace at a time.
_SKYCUBE_KEYSET_MAX_BYTES = 128 << 20


Direction = str  # 'min' | 'max'


def _norm_dims(dims: Sequence) -> list[tuple[str, Direction]]:
    out: list[tuple[str, Direction]] = []
    for d in dims:
        if isinstance(d, str):
            out.append((d, "min"))
        else:
            col, direction = d
            direction = direction.lower()
            if direction not in ("min", "max"):
                raise ValueError(f"direction must be min|max, got {direction}")
            out.append((col, direction))
    if not out:
        raise ValueError("at least one skyline dimension required")
    return out


def _prep(df: DataFrame, dims: Sequence) -> tuple[DataFrame, list[str]]:
    """Add minimized double columns __sk_i and drop NULL/NaN rows.

    One parsed projection + one parsed filter (round 17): the former
    per-dim ``withColumn`` chain re-analyzed the growing plan once per
    dim per call — every skyline-family operator pays _prep at least
    once, several pay it twice (measured ~0.2 s/call on the fused
    skycube's cached child).  Same Catalyst expressions."""
    nd = _norm_dims(dims)
    if any(c.startswith(_PREP) for c in df.columns):
        # defensive: an input already carrying __sk_* columns keeps the
        # former withColumn REPLACE semantics (no internal caller does)
        prep_cols = []
        for i, (col, direction) in enumerate(nd):
            name = f"{_PREP}{i}"
            expr = F.col(col).cast("double")
            if direction == "max":
                expr = -expr
            df = df.withColumn(name, expr)
            prep_cols.append(name)
        cond = None
        for name in prep_cols:
            c = F.col(name).isNotNull() & ~F.isnan(F.col(name))
            cond = c if cond is None else (cond & c)
        return df.where(cond), prep_cols
    prep_cols = []
    # backtick-quote passthrough names: a raw `a-b` would parse as SQL
    # arithmetic (round-17 review finding)
    exprs = ["`" + c.replace("`", "``") + "`" for c in df.columns]
    conds = []
    for i, (col, direction) in enumerate(nd):
        name = f"{_PREP}{i}"
        src = f"CAST(`{col.replace('`', '``')}` AS DOUBLE)"
        exprs.append((f"-{src}" if direction == "max" else src) + f" AS `{name}`")
        conds.append(f"(`{name}` IS NOT NULL AND NOT isnan(`{name}`))")
        prep_cols.append(name)
    return df.selectExpr(*exprs).where(" AND ".join(conds)), prep_cols


def _local_skyline_iter(prep_cols: list[str]):
    """mapInPandas function: incremental per-partition skyline.

    Keeps only the partition's current skyline in memory (the reference
    buffers 5,000 rows then runs BNL, ``FlinkSkyline.java:232,286-289``;
    Arrow batches play that role here, with the running skyline carried
    across batches)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur: pd.DataFrame | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            allrows = pdf if cur is None else pd.concat([cur, pdf], ignore_index=True)
            pts = allrows[prep_cols].to_numpy(dtype=np.float64)
            mask = skyline_mask(pts)
            cur = allrows if mask.all() else allrows.loc[mask]
        if cur is not None and not cur.empty:
            yield cur

    return fn


def _grouped_skyline(prep_cols: list[str]):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = pdf[prep_cols].to_numpy(dtype=np.float64)
        return pdf.loc[skyline_mask(pts)]

    return fn


def _frontier_2d(d0: np.ndarray, d1: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact 2-D frontier of (d0, d1) pairs, both minimized: per distinct
    d0 keep the min d1, then keep the pairs whose strict-predecessor
    running min (in d0 order) exceeds their d1.  Pure comparisons and
    mins — no arithmetic — so it is float-exact and matches the
    relational ``groupBy(d0).min(d1)`` + strict-prefix-min plan bit for
    bit.  The frontier is a skyline-merge monoid (``F(A ∪ B) =
    F(F(A) ∪ F(B))``), which is what makes the per-partition partial +
    driver merge below exact."""
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


def _frontier_2d_partial(d0_name: str, d1_name: str):
    """mapInArrow function: per-partition (d0, min-d1) frontier pairs.
    Buffer-and-compact (the skyband cadence): the running frontier is
    re-derived every ``_2D_FRONTIER_COMPACT_ROWS`` buffered rows, so task
    state stays bounded while the pass still runs one vectorized kernel
    per compaction instead of per Arrow batch."""

    def fn(batches):
        import pyarrow as pa

        b0: list[np.ndarray] = []
        b1: list[np.ndarray] = []
        buffered = 0

        def compact() -> None:
            nonlocal b0, b1, buffered
            f0, f1 = _frontier_2d(np.concatenate(b0), np.concatenate(b1))
            b0, b1, buffered = [f0], [f1], f0.shape[0]

        for batch in batches:
            if batch.num_rows == 0:
                continue
            b0.append(np.asarray(batch.column(0), dtype=np.float64))
            b1.append(np.asarray(batch.column(1), dtype=np.float64))
            buffered += batch.num_rows
            if buffered >= _2D_FRONTIER_COMPACT_ROWS:
                compact()
        if buffered:
            compact()
            yield pa.RecordBatch.from_arrays(
                [pa.array(b0[0], pa.float64()), pa.array(b1[0], pa.float64())],
                [d0_name, d1_name],
            )

    return fn


def _frontier_2d_collect(prepped: DataFrame, prep_cols: list[str]):
    """Run the per-partition 2-D frontier partial pass; when the pair
    volume fits ``_2D_FRONTIER_DRIVER_MAX_ROWS`` (one count job over the
    persisted pairs decides), return ``(pairs_df, (d0, d1) float64
    arrays)`` of the exact merged frontier; otherwise ``(pairs_df,
    None)`` and the caller falls back to a distributed shape over the
    pairs.  Shared by :func:`_skyline_2d_relational` and
    :func:`thick_skyline` (which consumes the frontier tuples directly)."""
    d0 = prep_cols[0]
    pairs = _persist(
        _fanout(prepped)
        .select(*prep_cols)
        .mapInArrow(
            _frontier_2d_partial(d0, "__m1"),
            schema=f"`{d0}` double, __m1 double",
        )
    )
    if pairs.count() > _2D_FRONTIER_DRIVER_MAX_ROWS:
        return pairs, None
    tbl = pairs.toArrow()
    return pairs, _frontier_2d(
        tbl.column(0).to_numpy(zero_copy_only=False),
        tbl.column(1).to_numpy(zero_copy_only=False),
    )


def _skyline_2d_relational(
    prepped: DataFrame, prep_cols: list[str], group_by: Sequence[str] | None
) -> DataFrame:
    """Pure-SQL 2-D path: survivors are exactly the (d0, min-d1) pairs whose
    strict-predecessor running min (in d0 order) is above their d1.

    Grouped: the prefix-min window partitions by the group keys (parallel by
    key).  Ungrouped: a naive ``Window.partitionBy()`` would funnel every
    distinct d0 value through ONE task — at 100x scale with a high-
    cardinality double dimension that is the plan you don't want — so the
    running min is computed in two passes instead: range-partition the
    distinct d0 values, take per-range strict-predecessor minima locally,
    then broadcast the (tiny, one-row-per-range) cross-range prefix minima
    back as offsets.  No stage ever holds more than one range's values."""
    d0, d1 = prep_cols
    keys = list(group_by or [])
    if not keys:
        # Ungrouped (round 17): per-partition frontier partials merged
        # driver-side — the ann_ivf centroid-partials pattern (guide §2.4:
        # remove the exchange outright).  The former shape paid a full
        # groupBy(d0) hash exchange over every distinct d0 (600k rows at
        # the bench shape) plus a two-pass range-partitioned window and
        # THREE driver actions; the frontier monoid (see _frontier_2d)
        # means only local-frontier pairs ever leave a partition, one
        # count job gates the pull, and the exact merge runs once on the
        # driver.  Past the gate the pairs feed the former relational
        # machinery unchanged (they are a certified superset of the
        # survivors, so the exchange it pays is strictly smaller than
        # before).  Final semi-join back is the same broadcast shape.
        pairs, merged = _frontier_2d_collect(prepped, prep_cols)
        if merged is not None:
            import pyarrow as pa

            f0, f1 = merged
            surv = prepped.sparkSession.createDataFrame(
                pa.table(
                    {d0: pa.array(f0, pa.float64()), d1: pa.array(f1, pa.float64())}
                )
            )
            if f0.shape[0] <= _BROADCAST_SURVIVOR_MAX:
                surv = F.broadcast(surv)
            return null_safe_semi_join(prepped, surv, eq_cols=[d0, d1])
        # oversized-frontier fallback: the relational plan below, fed by
        # the (already persisted, partition-deduplicated) pairs
        grp = _persist(pairs.groupBy(d0).agg(F.min("__m1").alias("__m1")))
    else:
        # persist: the aggregate is read by the window subplan AND bounds
        # the broadcast decision below (survivors are a subset of its
        # rows, one per distinct (keys, d0) — counting the cached
        # aggregate is a near-free job, where counting the survivors
        # themselves would materialize the whole window subplan twice).
        grp = _persist(prepped.groupBy(*keys, d0).agg(F.min(d1).alias("__m1")))
    if keys:
        w = Window.partitionBy(*keys).orderBy(d0)
        pm = F.min("__m1").over(w.rowsBetween(Window.unboundedPreceding, -1))
        surv = grp.withColumn("__pm", pm)
    else:
        # pass 0: derive literal range boundaries for d0 once, driver-side
        # (approxQuantile over the distinct-d0 aggregate).  ANY boundary
        # choice is correct — it only balances work — and because the same
        # literals feed both subplans below (the windowed local prefix-min
        # AND the offs aggregate), the range-bucket assignment cannot
        # diverge between plan instantiations.  This removes the earlier
        # correctness dependency on repartitionByRange +
        # spark_partition_id(), which was only safe while Spark reused one
        # physical exchange (RangePartitioner samples bounds with an
        # rdd-derived seed) or a cache fence survived until every action.
        n_ranges = int(
            prepped.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        # ONE action materializes the persisted aggregate AND returns both
        # the range boundaries and the row count (the broadcast bound
        # below) — replacing the former approxQuantile pass + separate
        # count() job pair.
        stats = grp.select(
            F.count(F.lit(1)).alias("__n"),
            # low accuracy (1000) is deliberate: boundaries only BALANCE
            # the buckets (any split is correct), and accuracy 10000 costs
            # ~4x the sketch time for no planning benefit
            F.percentile_approx(
                d0, [i / n_ranges for i in range(1, n_ranges)], 1_000
            ).alias("__q"),
        ).first()
        grp_rows = stats["__n"]
        bounds = sorted(set(stats["__q"] or []))
        ranged = grp.withColumn("__pid", range_bucket(d0, bounds))
        w_local = Window.partitionBy("__pid").orderBy(d0)
        pm_local = F.min("__m1").over(w_local.rowsBetween(Window.unboundedPreceding, -1))
        # pass 2: cross-range offsets, computed DRIVER-side — one tiny agg
        # job over the cached aggregate (<= n_ranges rows collected).
        # Embedding the strict-predecessor range minima as a literal array
        # removes an exchange + broadcast-join from the final job: the
        # per-row offset lookup becomes element_at(<literal>, __pid + 1).
        rmins = {
            r["__pid"]: r["__rmin"]
            for r in ranged.groupBy("__pid").agg(F.min("__m1").alias("__rmin")).collect()
        }
        n_buckets = len(bounds) + 1
        run, prefix = None, []  # prefix[i] = min over buckets < i (None for first)
        for i in range(n_buckets):
            prefix.append(run)
            if i in rmins:
                run = rmins[i] if run is None else min(run, rmins[i])
        off_lit = F.expr(
            "array({})".format(
                ",".join(
                    "CAST(NULL AS DOUBLE)" if v is None else f"CAST('{float(v)!r}' AS DOUBLE)"
                    for v in prefix
                )
            )
        )
        # least() ignores NULLs: first range has no offset, first row of a
        # range has no local predecessor
        surv = ranged.withColumn(
            "__pm", F.least(pm_local, F.element_at(off_lit, F.col("__pid") + 1))
        )
    surv = (
        surv.where(F.col("__pm").isNull() | (F.col("__pm") > F.col("__m1")))
        .select(*keys, F.col(d0), F.col("__m1").alias(d1))
    )
    # null-SAFE equality on group keys (NULL is a normal group, matching the
    # d>=3 groupBy path); d0/d1 are never null (filtered in _prep).
    # Broadcast decision: without a hint the semi-join plans as
    # SortMergeJoin and shuffles the WHOLE input on float keys before AQE
    # can downgrade it — the dominant cost at any scale.  The cached
    # aggregate's row count upper-bounds the survivor count, so the hint is
    # safe whenever that bound is; above the bound, fall back to SMJ/AQE.
    # The ungrouped branch already has the count from the stats action;
    # the grouped branch pays one (cached-aggregate) count job.
    if keys:
        grp_rows = grp.count()
    if grp_rows <= _BROADCAST_SURVIVOR_MAX:
        surv = F.broadcast(surv)
    return null_safe_semi_join(prepped, surv, eq_cols=[d0, d1], null_safe_cols=keys)


def _broadcast_verify(
    cur: DataFrame, prep_cols: list[str], ref: DataFrame | None = None
) -> DataFrame:
    """One broadcast pass of the skyline filter: every task checks its
    rows against the full reference dim-matrix and drops the dominated
    ones (self/duplicate pairs fail the strict test).

    ``ref`` (default: ``cur`` itself) supplies the reference matrix; the
    chunked merge passes one uniform chunk of the candidates per pass,
    and passing a known skyline lets callers re-verify an arbitrary row
    set against it — e.g. bench.py's 1M sizecheck runs the WHOLE input
    through this with the distributed result as ``ref``: the surviving
    row count equals the result count iff the result is exactly the
    skyline (a false survivor would be dominated and drop; a missed
    survivor would pass and add)."""
    spark = cur.sparkSession
    self_ref = ref is None
    dims_pdf = (cur if self_ref else ref).select(*prep_cols).toPandas()
    arr = np.ascontiguousarray(dims_pdf.to_numpy(dtype=np.float64))
    ssum = arr.sum(axis=1)
    order = np.argsort(ssum, kind="stable")
    arr, ssum = arr[order], ssum[order]
    exact = sums_exact(arr)
    # exact f32 fast path (integer-domain data): halves comparison traffic.
    # When ref IS the candidate set (self_ref), the flags computed from
    # ``arr`` cover the candidates too, so the f32 matrix can be broadcast
    # directly.  When ref is an EXTERNAL reference (chunked merge, verify
    # probes), the candidates may not share ref's exactness — deciding the
    # fast paths from ref alone corrupts results (r10 ADVICE: an f32-exact
    # ref chunk vs a non-f32-representable candidate like 0.1 reports
    # domination that f64 denies) — so broadcast the f64 matrix plus the
    # ref-side eligibility flags and re-qualify PER CANDIDATE BATCH below.
    f32 = exact_f32(arr)
    if self_ref and f32 is not None:
        arr = np.ascontiguousarray(f32)
    bc = spark.sparkContext.broadcast((arr, ssum, f32 is not None, exact, self_ref))

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sky, sky_sum, ref_f32_ok, ref_exact, self_mode = bc.value
        sky32 = sky if sky.dtype == np.float32 else None
        for pdf in batches:
            if pdf.empty:
                continue
            pts = pdf[prep_cols].to_numpy(dtype=np.float64)
            psum = pts.sum(axis=1)
            if self_mode:
                # candidates are ref rows: ref-wide flags already cover them
                cand, work, exact_mode = (
                    pts.astype(np.float32) if ref_f32_ok else pts, sky, ref_exact
                )
            else:
                # fast paths only when this batch qualifies too: exact-sum
                # mode needs BOTH sides' computed sums exact, the f32 kernel
                # needs both sides losslessly representable (the general
                # f64 path is exact for arbitrary floats, so disqualifying
                # a batch costs speed, never correctness)
                exact_mode = ref_exact and sums_exact(pts)
                cand32 = exact_f32(pts) if ref_f32_ok else None
                if cand32 is not None:
                    if sky32 is None:
                        sky32 = sky.astype(np.float32)
                    cand, work = cand32, sky32
                else:
                    cand, work = pts, sky
            dom = dominated_mask_vs_sorted(cand, psum, work, sky_sum, exact=exact_mode)
            out = pdf.loc[~dom]
            if not out.empty:
                yield out

    return cur.mapInPandas(verify, schema=cur.schema)


def _dim_matrix(tbl, prep_cols: list[str]) -> np.ndarray:
    """Contiguous float64 (rows x dims) matrix of a collected Arrow
    table's prep columns."""
    return np.ascontiguousarray(
        tbl.select(prep_cols).to_pandas().to_numpy(dtype=np.float64)
    )


def _verify(frame: DataFrame, n: int, kernel: "_Verify"):
    """THE global pass of the skyline family: finish the ``n`` counted,
    cached phase-1 candidates in ``frame`` with ``kernel``, on one of
    three physical paths chosen by size — the one place that choice is
    made:

    * ``n <= _DRIVER_VERIFY_MAX_ROWS`` — driver: collect once, run the
      kernel on the driver, re-enter as a local relation
      (:func:`_finish_on_driver`);
    * ``n <= _VERIFY_MAX_ROWS`` — broadcast: ship the candidate
      dim-matrix to every task and verify in parallel;
    * otherwise — chunked: verify against ``<= _VERIFY_MAX_ROWS``-row
      uniform chunks of the candidates, one broadcast pass per chunk.

    The broadcast bound is tested first, so no path ever holds more than
    ``_VERIFY_MAX_ROWS`` candidates, whatever the two gates are set to.
    Every path runs the same kernel over the same candidate set, so the
    rows are identical (forced-gate parity test).  Returns ``(result,
    kept Arrow table)``; the table is None off the driver path, and
    callers that need the rows driver-side reuse it instead of paying a
    collect job."""
    if n > _VERIFY_MAX_ROWS:
        return kernel.chunked(frame, n), None
    if n <= _DRIVER_VERIFY_MAX_ROWS:
        return _finish_on_driver(frame, kernel.on_driver, kernel.col)
    return kernel.broadcast(frame), None


def _finish_on_driver(frame: DataFrame, kernel, col: str | None = None):
    """Collect ``frame`` once as Arrow, run ``kernel(tbl) -> (keep,
    values)`` on the driver, keep the selected rows (appending ``values``
    as ``col`` when given) and re-enter them as a local relation.  At the
    driver gate the whole candidate-vs-candidate block is a fraction of
    a second on one core, while the distributed form pays a dims-collect
    job plus a python-worker pass.  The Arrow round trip preserves Spark
    types exactly (see :func:`_keyed_candidates`).  Returns ``(result,
    kept Arrow table)``."""
    import pyarrow as pa

    tbl = frame.toArrow()
    keep, values = kernel(tbl)
    out = tbl if keep.all() else tbl.filter(pa.array(keep))
    if col is not None:
        out = out.append_column(col, pa.array(values[keep]))
    return frame.sparkSession.createDataFrame(out), out


class _Verify:
    """A global-pass kernel for :func:`_verify`.  Subclasses give the
    driver form (``on_driver(tbl) -> (keep, values)``; ``col`` names the
    appended ``values`` column, None when nothing is appended) and one
    broadcast pass against a reference matrix (``against(frame, ref,
    first)``; ``ref`` None = the candidates themselves, ``first`` marks
    the first pass of a chunk chain)."""

    col: str | None = None

    def __init__(self, prep_cols: list[str]):
        self.prep_cols = prep_cols

    def broadcast(self, frame: DataFrame) -> DataFrame:
        return self.against(frame, None, True)

    def chunked(self, frame: DataFrame, n: int) -> DataFrame:
        """Verify against ``<= _VERIFY_MAX_ROWS``-row chunks of the
        candidates, one broadcast pass per chunk, chained lazily.  Exact
        because both kernels compose over ANY partition of the reference
        set (property-tested): a row survives the skyline filter iff no
        chunk dominates it, and dominator counts add up across chunks
        (rows drop the moment the running count reaches ``k`` — counts
        only grow).  A row meeting its own chunk is harmless (the strict
        test never counts self or duplicate pairs).  Total work
        O(n x |result|) across all cores with O(_VERIFY_MAX_ROWS x d)
        broadcast per pass; it replaced a ``repartition(1)`` single-task
        merge (10M 4-D anti-correlated points, ~1M survivors: >10 min on
        one task, under a minute here).

        Chunks are a uniform row key (:func:`_uniform_chunk_col`), NOT a
        dim hash, so an all-duplicates corpus cannot collapse into one
        oversized chunk.  The row key is unstable under recomputation, so
        the assignment is pinned with an eager ``localCheckpoint``
        (fail-stop on block loss, where an evicted ``persist`` would
        silently recompute a different, overlapping assignment — r11
        ADVICE).  Its lifetime is this loop: every pass pulls its chunk
        eagerly, the returned chain references only ``frame`` and the
        broadcasts, so the checkpoint is released on exit.  (An
        ascending-coordinate-sum chunk ORDER for the counting chain was
        A/B-probed at 10M 3-D k=4 and reverted: 285 s cold / 173 s warm
        vs uniform's 294 / 177 — noise; SCALE.md.)"""
        n_chunks = -(-n // _VERIFY_MAX_ROWS)
        assign = (
            frame.select(*self.prep_cols)
            .withColumn("__vchunk", _uniform_chunk_col(n_chunks))
            .localCheckpoint(eager=True)
        )
        try:
            for i in range(n_chunks):
                ref = assign.where(F.col("__vchunk") == i).drop("__vchunk")
                frame = self.against(frame, ref, i == 0)
        finally:
            release_local_checkpoint(assign)
        return frame


class _SkylineFilter(_Verify):
    """The skyline merge kernel: keep the candidates no candidate strictly
    dominates.  On the driver ``SKY(candidates)`` via :func:`skyline_mask`
    equals the verify-vs-self result by the skyline-merge monoid;
    distributed passes are :func:`_broadcast_verify` with its f32 and
    exact-sum fast paths."""

    def on_driver(self, tbl):
        return skyline_mask(_dim_matrix(tbl, self.prep_cols)), None

    def against(self, frame, ref, first):
        return _broadcast_verify(frame, self.prep_cols, ref)


class _DominatorCount(_Verify):
    """The k-skyband kernel: exact dominator counts against the candidate
    union, keeping rows with fewer than ``k`` and appending the count as
    ``col``.  Exact for true members (B1: all their dominators are in the
    union) and exclusion-certifying for false survivors (B3), whether the
    O(m^2) block runs once on the driver or in every task.  Counts do not
    tree-merge, so unions past ``_TREE_FANOUT x _VERIFY_MAX_ROWS`` (~12.8M
    rows, >3 GB of stacked float64 chunk broadcasts per worker at d=4)
    raise — at that band volume the query itself is mis-specified."""

    def __init__(self, prep_cols: list[str], k: int, col: str):
        super().__init__(prep_cols)
        self.k, self.col = k, col

    def on_driver(self, tbl):
        arr = _dim_matrix(tbl, self.prep_cols)
        counts = _count_dominators_vs(arr, arr)
        return counts < self.k, counts

    def against(self, frame, ref, first):
        from pyspark.sql.types import LongType, StructField, StructType

        cols, k, col = self.prep_cols, self.k, self.col
        ref_pdf = (frame if ref is None else ref).select(*cols).toPandas()
        bc = frame.sparkSession.sparkContext.broadcast(
            np.ascontiguousarray(ref_pdf.to_numpy(dtype=np.float64))
        )
        # fresh StructType: .add() on DataFrame.schema would mutate the
        # frame's CACHED StructType in place
        schema = (
            StructType(list(frame.schema.fields) + [StructField(col, LongType())])
            if first
            else frame.schema
        )

        def count_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            sky = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                counts = _count_dominators_vs(pdf[cols].to_numpy(dtype=np.float64), sky)
                if not first:
                    counts += pdf[col].to_numpy()
                keep = counts < k
                if keep.any():
                    out = pdf.loc[keep].copy()
                    out[col] = counts[keep]
                    yield out

        return frame.mapInPandas(count_pass, schema=schema)

    def chunked(self, frame, n):
        if n > _TREE_FANOUT * _VERIFY_MAX_ROWS:
            raise ValueError(
                f"skyband: candidate union has {n} rows "
                f"(> {_TREE_FANOUT * _VERIFY_MAX_ROWS}); raise k selectivity "
                "or partition count"
            )
        return super().chunked(frame, n)


def skyline(
    df: DataFrame,
    dims: Sequence,
    group_by: Sequence[str] | None = None,
) -> DataFrame:
    """Skyline (Pareto frontier) of ``df`` over ``dims``.

    ``dims``: list of column names (minimized) or ``(name, 'min'|'max')``
    pairs.  ``group_by``: optional grouping keys — skyline computed per
    group.  Returns the original columns of ``df`` (all of them), with
    non-skyline rows removed.
    """
    out_cols = df.columns
    prepped, prep_cols = _prep(df, dims)

    if len(prep_cols) == 1 and not group_by:
        # 1-D skyline = all rows carrying the global minimum (ties kept):
        # one partial-agg min + a broadcast single-row semi-join — pure
        # codegen, no Python, no persist/count actions.  Matters for the
        # skycube, where half the subspaces of a 3-dim cube are 1-D.
        d0 = prep_cols[0]
        mn = prepped.agg(F.min(d0).alias("__sk_min"))
        return (
            prepped.join(
                F.broadcast(mn), F.col(d0) == F.col("__sk_min"), "leftsemi"
            ).select(*out_cols)
        )

    if len(prep_cols) == 2:
        return _skyline_2d_relational(prepped, prep_cols, group_by).select(*out_cols)

    if group_by:
        res = (
            prepped.groupBy(*[F.col(k) for k in group_by])
            .applyInPandas(_grouped_skyline(prep_cols), schema=prepped.schema)
        )
        return res.select(*out_cols)

    local = _local_skyline_iter(prep_cols)
    # phase-1 parallelism = input splits; a single-row-group source file
    # has exactly one effective split, so prove-and-fan-out first
    # (operators/fanout.py — conditional, driver-side, no job)
    phase1 = _fanout(prepped).mapInPandas(local, schema=prepped.schema)
    return _merge_survivors(phase1, prep_cols).select(*out_cols)


def _merge_survivors(local_df: DataFrame, prep_cols: list[str]) -> DataFrame:
    """Global merge of local-skyline survivors (see :func:`_skyline_merge`)."""
    return _skyline_merge(local_df, prep_cols)[0]


def _skyline_merge(local_df: DataFrame, prep_cols: list[str]):
    """Persist and count the local-skyline survivors, run one tree-merge
    round when they exceed the broadcast bound, then finish with the
    skyline filter through :func:`_verify`.  Returns ``(result, kept
    Arrow table or None)``."""
    local = _local_skyline_iter(prep_cols)
    cur = _persist(local_df)
    n = cur.count()
    if n > _VERIFY_MAX_ROWS:
        cur = _persist(cur.repartition(_TREE_FANOUT).mapInPandas(local, schema=cur.schema))
        n = cur.count()
    return _verify(cur, n, _SkylineFilter(prep_cols))


def _uniform_chunk_col(n_chunks: int) -> Column:
    """Uniform chunk id for the distributed-merge passes: consecutive
    ``monotonically_increasing_id`` values within each task cycle
    round-robin through the chunks, so every chunk holds at most
    ``ceil(rows_in_task / n_chunks)`` rows per task — bounded by
    construction even on an all-duplicates corpus, where a dim-hash key
    would co-locate every row into one chunk (r10 verdict).

    The id is NOT stable across recomputation (it encodes task index +
    row position), and no deterministic function of the row VALUES can
    replace it without reintroducing the skew: duplicates are
    indistinguishable by value, so a value-derived key necessarily
    co-locates an all-duplicates corpus (a value-hash-bucketed
    ``row_number`` window splits them, but its window partition IS the
    duplicate group — single-task at exactly the adversarial input).
    Callers therefore MUST pin the frame carrying this column with an
    eager ``localCheckpoint`` (not a plain ``persist``) before reading
    it more than once: a checkpoint freezes the materialized assignment,
    so a lost/evicted block FAILS the job (fail-stop) instead of
    silently recomputing a different assignment that could overlap or
    miss rows across chunks (r11 ADVICE).  On a multi-node deployment
    where executor loss must be survivable, substitute a reliable
    ``checkpoint()`` (HDFS-backed) in :meth:`_Verify.chunked` — the
    lifetime contract is identical."""
    return F.pmod(F.monotonically_increasing_id(), F.lit(n_chunks))


def skyline_verify_count(df: DataFrame, dims: Sequence, result: DataFrame) -> int:
    """Independent correctness probe: count the rows of ``df`` that are NOT
    strictly dominated by any row of ``result``.

    If ``result`` is exactly the skyline of ``df`` (with the engine's
    duplicate-retention policy), this count equals ``result``'s row count:
    a false survivor in ``result`` is dominated by some true survivor and
    drops; a missed survivor is dominated by nothing and adds.  Runs as one
    broadcast-verify pass over ``df`` (O(n x |skyline|) with sum-sort
    pruning), so it is cheap even at sizes where a single-task re-compute
    of the skyline would be quadratic."""
    prepped, pc = _prep(df, dims)
    ref_prepped, _ = _prep(result, dims)
    return _broadcast_verify(prepped, pc, ref=ref_prepped).count()


def skyline_with_pid(
    df: DataFrame,
    dims: Sequence,
    pid_col: Column,
    num_partitions: int,
    origin_col: str = "origin_partition",
) -> DataFrame:
    """Reference-parity two-phase skyline with an explicit spatial
    partitioner (MR-Dim / MR-Grid / MR-Angle column expression as
    ``pid_col``; see ``operators/partitioners.py``).

    Phase 1 shuffles on the partition id (the reference's ``keyBy``,
    ``FlinkSkyline.java:136-138``) and tags every local survivor with its
    origin partition (``FlinkSkyline.java:390``) so the Optimality metric
    (``FlinkSkyline.java:590-608``) can be computed from the merged result.
    Returns the global skyline INCLUDING the ``origin_col`` provenance tag;
    callers that don't need provenance should use :func:`skyline`.
    """
    out_cols = df.columns + [origin_col]
    tagged = df.withColumn(origin_col, pid_col.cast("int"))
    prepped, prep_cols = _prep(tagged, dims)
    # groupBy(pid) is the reference's keyBy shuffle (one exchange on the
    # spatial cell id); num_partitions only shapes the pid VALUES, the
    # physical task count is spark.sql.shuffle.partitions / AQE.
    local = prepped.groupBy(origin_col).applyInPandas(
        _grouped_skyline(prep_cols), schema=prepped.schema
    )
    final = _merge_survivors(local, prep_cols)
    return final.select(*out_cols)


def _skyband_local_fn(prep_cols: list[str], k: int, compact_rows: int = 250_000):
    """Per-partition local k-skyband thinning (a certified SUPERSET of the
    global band, kernel fact B2).  Buffer-and-compact rather than
    filter-per-Arrow-batch: the running band can be tens of thousands of
    rows (unlike a skyline), so re-running the forward pass every ~10k-row
    Arrow batch repays O(|band|) per batch; compacting every ~250k
    buffered rows runs the pass ~25x less often for the same bounded
    memory.  Phase 1 of :func:`_skyband_members`."""
    from .skyline_kernel import skyband_mask

    def local_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: list[pd.DataFrame] = []
        total = 0

        def compact() -> pd.DataFrame | None:
            nonlocal buf, total
            if not buf:
                return None
            allrows = buf[0] if len(buf) == 1 else pd.concat(buf, ignore_index=True)
            pts = allrows[prep_cols].to_numpy(dtype=np.float64)
            mask, _ = skyband_mask(pts, k)
            cur = allrows if mask.all() else allrows.loc[mask]
            buf, total = [cur], len(cur)
            return cur

        for pdf in batches:
            if pdf.empty:
                continue
            buf.append(pdf)
            total += len(pdf)
            if total >= compact_rows:
                compact()
        cur = compact()
        if cur is not None and not cur.empty:
            yield cur

    return local_fn


def skyband(
    df: DataFrame,
    dims: Sequence,
    k: int,
    count_col: str = "n_dominators",
    group_by: Sequence[str] | None = None,
) -> DataFrame:
    """k-skyband of ``df`` over ``dims``: rows with FEWER than ``k``
    dominators, with the exact dominator count appended (``k=1`` is the
    skyline; the classic skyline relaxation for "top tier plus
    runners-up" QoS queries).  ``dims`` as in :func:`skyline`.

    Two-phase shape mirroring :func:`skyline` (kernel facts B1-B3,
    ``skyline_kernel.py``):

    * local per-partition k-skyband via ``mapInPandas`` riding the scan —
      a certified SUPERSET of the global k-skyband (B2), O(n x |band|)
      per partition, only survivors cross the wire;
    * broadcast-verify: every candidate's dominators are themselves
      global k-skyband rows (B1) and hence inside the candidate union, so
      counting dominators against the broadcast candidate matrix is EXACT
      for true members; for false survivors the same count certifies
      exclusion (B3: at least k of their dominators are in the union).

    The verify takes the family's one driver / broadcast / chunked
    dispatch (:func:`_verify`).  Unlike the skyline there is no
    tree-merge round (dominator COUNTS don't tree-merge), but counts ARE
    additive over a partition of the candidate union, so volumes past
    the broadcast bound take the chunked counting chain; only a union
    past ``32 x _VERIFY_MAX_ROWS`` (where the stacked chunk broadcasts
    would stop being a rounding error) raises."""
    from pyspark.sql.types import LongType, StructField, StructType

    from .skyline_kernel import skyband_mask

    if k < 1:
        raise ValueError(f"skyband: k must be >= 1, got {k}")
    out_cols = df.columns
    prepped, prep_cols = _prep(df, dims)

    if group_by:
        # per-group semantics: the whole group meets one kernel call, so
        # counts are exact directly (dominance restricted to equal keys —
        # one hash exchange on the group keys, unavoidable)
        gschema = StructType(
            list(prepped.schema.fields) + [StructField(count_col, LongType())]
        )

        def grouped(pdf: pd.DataFrame) -> pd.DataFrame:
            pts = pdf[prep_cols].to_numpy(dtype=np.float64)
            mask, counts = skyband_mask(pts, k)
            out = pdf.loc[mask].copy()
            out[count_col] = counts[mask]
            return out

        res = prepped.groupBy(*[F.col(g) for g in group_by]).applyInPandas(
            grouped, schema=gschema
        )
        return res.select(*out_cols, count_col)

    # (A whole-input driver fast path — collect everything, one
    # skyband_mask forward pass — was A/B-probed here round 16 and
    # REVERTED: the local thinning kernel parallelizes across the scan,
    # and at s22's shape the single-core whole-input pass measured
    # 0.57-0.75 s vs 0.44-0.52 s for the distributed-thin +
    # driver-verify composition below.)
    band, _ = _skyband_members(prepped, prep_cols, k, count_col)
    return band.select(*out_cols, count_col)


def _skyband_members(prepped: DataFrame, prep_cols: list[str], k: int, count_col: str):
    """The k-skyband of ``prepped`` with exact dominator counts as
    ``count_col``: local thinning riding the scan (a certified superset,
    B2), then the dominator-count kernel through :func:`_verify`.  Shared
    by :func:`skyband` and :func:`top_dominating`; returns ``(band, kept
    Arrow table or None)`` like :func:`_verify`."""
    phase1 = _persist(
        _fanout(prepped).mapInPandas(
            _skyband_local_fn(prep_cols, k), schema=prepped.schema
        )
    )
    return _verify(phase1, phase1.count(), _DominatorCount(prep_cols, k, count_col))


def _keyed_candidates(spark, cand_tbl) -> DataFrame:
    """Re-enter a collected candidate Arrow table (``df.toArrow()``) into
    Spark with a positional ``__cand_idx`` key.  The Arrow round-trip
    preserves Spark types EXACTLY — a pandas round-trip would promote
    NULL-bearing integral passthroughs to float64 (silently corrupting
    long values above 2^53) and fail schema inference outright on
    all-NULL columns."""
    import pyarrow as pa

    keyed = cand_tbl.append_column(
        "__cand_idx", pa.array(range(cand_tbl.num_rows), pa.int64())
    )
    return spark.createDataFrame(keyed)


def top_dominating(
    df: DataFrame,
    dims: Sequence,
    k: int,
    count_col: str = "n_dominated",
    rank_col: str = "rnk",
    tie_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Top-k dominating points: the ``k`` rows that DOMINATE the most
    other rows (score = |{q : p dominates q}|), the influence-ranking
    twin of the skyline (Yiu & Mamoulis' classic query).  Ties in score
    break by ``tie_cols`` (default: the minimized dim columns, then
    arbitrary-but-deterministic first tie col order is required for a
    stable contract — pass explicit keys for oracle-checked use).

    Scale shape — two scans, no quadratic join:

    1. candidates = the k-skyband (one scan + broadcast-verify, see
       :func:`skyband`): if p has >= k dominators, each dominator q has
       dominated(p) ⊂ dominated(q) ∪ {p} (transitivity), i.e. a strictly
       higher score, so p cannot be in the top-k;
    2. exact scores: broadcast the candidate dim-matrix and count, per
       input partition, how many rows each candidate dominates
       (column-at-a-time numpy, partial counts per partition), then ONE
       tiny shuffle sums |candidates| x partitions partial rows and a
       final sort takes the top-k.

    Output: the candidate's original columns + ``count_col`` +
    ``rank_col`` (1-based)."""
    if k < 1:
        raise ValueError(f"top_dominating: k must be >= 1, got {k}")
    out_cols = df.columns
    spark = df.sparkSession
    prepped, prep_cols = _prep(df, dims)

    # (A whole-input driver fast path was A/B-probed here round 16 and
    # REVERTED: the skyband thinning + counting kernels are the real work
    # at this operator's shapes and they parallelize across the scan —
    # single-core whole-input measured 1.4-1.6 s vs 1.1-1.4 s distributed
    # at s23's shape.)
    #
    # Candidates = the k-skyband from the same call skyband() makes; on
    # the driver path the kept Arrow table is reused (no re-collect).
    band, cand_tbl = _skyband_members(prepped, prep_cols, k, "__band_n")
    if cand_tbl is None:
        cand_tbl = band.toArrow()
    if cand_tbl.num_rows == 0:  # empty input -> empty result with the contract schema
        empty = prepped.select(*out_cols).limit(0)
        return empty.select(
            *out_cols,
            F.lit(0).cast("long").alias(count_col),
            F.lit(0).cast("int").alias(rank_col),
        )
    cand_arr = _dim_matrix(cand_tbl, prep_cols)
    bc = spark.sparkContext.broadcast(cand_arr)

    def dominated_counts(pts: np.ndarray) -> np.ndarray:
        cand = bc.value
        acc = np.zeros(cand.shape[0], dtype=np.int64)
        for _ps, ms, plane, _tmp in dominance_planes(cand, pts, True):
            acc[ms : ms + plane.shape[0]] += plane.sum(axis=1, dtype=np.int64)
        return acc

    totals = _broadcast_partial_counts(
        prepped, prep_cols, dominated_counts, cand_arr.shape[0], count_col
    )

    # the SAME collected Arrow table feeds both the broadcast matrix and
    # this keyed frame, so __cand_idx alignment is positional by
    # construction (band size is bounded by the skyband's verify guard)
    cand_keyed = _keyed_candidates(spark, cand_tbl)
    joined = cand_keyed.join(F.broadcast(totals), "__cand_idx")
    ties = list(tie_cols) if tie_cols else prep_cols
    w = Window.orderBy(F.col(count_col).desc(), *[F.col(c) for c in ties])
    return (
        joined.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
        .select(*out_cols, F.col(count_col).cast("long"), F.col(rank_col).cast("int"))
    )


def _collect_verified_candidates(prepped, local_fn, prep_cols, op_name):
    """Shared filter-then-verify phase-1 assembly: run the local thinning
    ``mapInPandas``, collect the candidates as an Arrow table + dim
    matrix, and apply the ``_VERIFY_MAX_ROWS`` guard.  Returns
    ``(phase1, cand_tbl, cand_arr)``; ``cand_tbl`` is ``None`` when there
    are no candidates.

    The guard is applied POST-collect for thin frames (round 16): these
    operators RAISE past the bound — there is no graceful fallback to
    protect — so the separate persist + count() job bought only a politer
    error while charging every successful call a driver round trip.  For
    frames WIDER than the prep columns (reverse/k-dominant pass the full
    original row set through phase 1), a pre-collect count runs first
    (round-16 ADVICE: an oversized wide candidate set would otherwise be
    pulled up to ``spark.driver.maxResultSize`` before raising — a driver
    memory spike for a failure path).  The count reads the just-persisted
    phase 1, so the thinning pass itself is never paid twice.  The
    persist stays either way: a session re-running the same call
    plan-twins into the cached phase 1."""
    phase1 = _persist(_fanout(prepped).mapInPandas(local_fn, schema=prepped.schema))
    wide = len(phase1.columns) > len(prep_cols) + 2
    if wide:
        n_cand = phase1.count()
        if n_cand > _VERIFY_MAX_ROWS:
            raise ValueError(
                f"{op_name}: candidate set has {n_cand} rows "
                f"(> {_VERIFY_MAX_ROWS}); raise pool_size or partition count"
            )
    cand_tbl = phase1.toArrow()
    n_cand = cand_tbl.num_rows
    if n_cand == 0:
        return phase1, None, None
    if n_cand > _VERIFY_MAX_ROWS:
        raise ValueError(
            f"{op_name}: candidate set has {n_cand} rows "
            f"(> {_VERIFY_MAX_ROWS}); raise pool_size or partition count"
        )
    return phase1, cand_tbl, _dim_matrix(cand_tbl, prep_cols)


def _broadcast_partial_counts(prepped, prep_cols, count_batch, m, total_col):
    """Shared filter-then-verify phase-2 counting pass: one ``mapInPandas``
    over the full input accumulating int64 partial counts per candidate
    (``count_batch(pts) -> int64[m]``, closing over a broadcast candidate
    payload), then ONE tiny shuffle summing ``m x partitions`` rows."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros(m, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            acc += count_batch(pdf[prep_cols].to_numpy(dtype=np.float64))
        yield pd.DataFrame({"__cand_idx": np.arange(m), "__partial": acc})

    partials = _fanout(prepped).mapInPandas(
        partial, schema="__cand_idx long, __partial long"
    )
    return partials.groupBy("__cand_idx").agg(F.sum("__partial").alias(total_col))


def _rank_sum(arr: np.ndarray) -> np.ndarray:
    """Sum of per-dim ranks (0-based, stable) — a scale-invariant
    "smallest overall" score for pool selection.  Raw sums degenerate
    when dims differ by orders of magnitude (an epoch-micros dim drowns a
    0..1 discount dim); per-dim ranks weigh every dim equally."""
    ranks = np.zeros(arr.shape[0], dtype=np.int64)
    for j in range(arr.shape[1]):
        order = np.argsort(arr[:, j], kind="stable")
        r = np.empty(arr.shape[0], dtype=np.int64)
        r[order] = np.arange(arr.shape[0])
        ranks += r
    return ranks


def reverse_skyline(
    df: DataFrame,
    dims: Sequence,
    query_point: Sequence[float],
    pool_size: int = 4096,
    compact_rows: int = 250_000,
) -> DataFrame:
    """Monochromatic reverse skyline of ``df`` w.r.t. ``query_point``
    (Dellis & Seeger, VLDB'07): the rows p such that NO other row r
    dynamically-dominates q with respect to p — i.e. no r with
    ``|r_d - p_d| <= |q_d - p_d|`` on every dim, strict on one.  The dual
    of :func:`skyline`-over-``|x - q|`` (the s24 dynamic skyline): dynamic
    asks "best rows for anchor q", reverse asks "for which rows is q among
    their best" — the classic influence view (which offers find customer q
    attractive).

    Directions in ``dims`` are accepted but mathematically inert
    (``|x - q|`` is invariant under negating both sides); the q coordinate
    is negated alongside MAX dims so prepped-space tests equal
    original-space tests.  Exact coordinate-duplicates refute each other
    (r != p is row identity, not value identity); a row exactly AT q is
    always in the result.

    Scale shape — no quadratic join:

    1. local thinning (``mapInPandas`` riding the scan, bounded state):
       each partition maintains a running pool of its ``pool_size``
       nearest-to-q rows seen so far (near-q rows are the strongest
       refuters) and, on the same ~250k-row buffer-and-compact cadence as
       :func:`skyband`, drops buffered rows the pool refutes; a final
       pass re-tests every accumulated survivor against the finished
       pool.  State is O(pool + survivors), never the whole partition,
       and the output is a certified SUPERSET of the answer — dropping a
       row requires exhibiting an actual refuter;
    2. broadcast-verify (EXACT): the surviving candidates' dim matrix +
       per-candidate half-widths broadcast to one counting pass over the
       full input (same partial-count shape as :func:`top_dominating`);
       a candidate survives iff its global refuter count equals its own
       self-contribution (its own row matches its box whenever w != 0).

    Candidates are bounded by the same ``_VERIFY_MAX_ROWS`` guard as the
    skyline merge."""
    from .skyline_kernel import count_refuters_vs

    nd = _norm_dims(dims)
    if len(query_point) != len(nd):
        raise ValueError(
            f"reverse_skyline: query_point has {len(query_point)} coords "
            f"for {len(nd)} dims"
        )
    out_cols = df.columns
    prepped, prep_cols = _prep(df, dims)
    q = np.array(
        [
            -float(v) if direction == "max" else float(v)
            for v, (_c, direction) in zip(query_point, nd)
        ],
        dtype=np.float64,
    )

    def local_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # running nearest-to-q pool over ALL rows seen so far, with
        # partition-local row ids so the pool test can subtract a row's
        # own contribution without any coordinate-identity ambiguity
        pool_pts: np.ndarray | None = None
        pool_ids: np.ndarray | None = None
        next_id = 0
        surv_frames: list[pd.DataFrame] = []
        surv_ids: list[np.ndarray] = []
        buf: list[tuple[pd.DataFrame, np.ndarray]] = []
        buf_n = 0

        def update_pool(pts: np.ndarray, ids: np.ndarray) -> None:
            nonlocal pool_pts, pool_ids
            if pool_pts is None:
                cat_p, cat_i = pts, ids
            else:
                cat_p = np.concatenate([pool_pts, pts])
                cat_i = np.concatenate([pool_ids, ids])
            if cat_p.shape[0] > pool_size:
                # nearest-to-q by per-dim-rank sum of |x - q|: scale-
                # invariant, so no single large-magnitude dim drowns the
                # others when picking the strongest refuters
                score = _rank_sum(np.abs(cat_p - q[None, :]))
                keep = np.argpartition(score, pool_size)[:pool_size]
                cat_p, cat_i = cat_p[keep], cat_i[keep]
            pool_pts, pool_ids = np.ascontiguousarray(cat_p), cat_i

        def thin(frame: pd.DataFrame, pts: np.ndarray, ids: np.ndarray):
            w = np.abs(q[None, :] - pts)
            counts = count_refuters_vs(pts, w, pool_pts)
            self_c = (np.isin(ids, pool_ids) & (w > 0).any(axis=1)).astype(np.int64)
            keep = (counts - self_c) <= 0
            if keep.all():
                return frame, ids
            return frame.loc[keep], ids[keep]

        def compact() -> None:
            nonlocal buf, buf_n
            for frame, ids in buf:
                pts = frame[prep_cols].to_numpy(dtype=np.float64)
                f2, i2 = thin(frame, pts, ids)
                if len(f2):
                    surv_frames.append(f2)
                    surv_ids.append(i2)
            buf, buf_n = [], 0

        for pdf in batches:
            if pdf.empty:
                continue
            ids = np.arange(next_id, next_id + len(pdf), dtype=np.int64)
            next_id += len(pdf)
            update_pool(pdf[prep_cols].to_numpy(dtype=np.float64), ids)
            buf.append((pdf, ids))
            buf_n += len(pdf)
            if buf_n >= compact_rows:
                compact()
        compact()
        if not surv_frames:
            return
        allrows = (
            surv_frames[0]
            if len(surv_frames) == 1
            else pd.concat(surv_frames, ignore_index=True)
        )
        allids = np.concatenate(surv_ids)
        # earlier compactions tested against a weaker (smaller) pool;
        # one cheap O(|survivors| x pool) re-test against the finished
        # pool keeps the local output as thin as the one-shot form
        out, _ = thin(allrows, allrows[prep_cols].to_numpy(dtype=np.float64), allids)
        if not out.empty:
            yield out

    # whole-input driver fast path (see _DRIVER_INPUT_MAX_BYTES): one
    # collect; a pool-thin-verify sequence runs once on the driver (ANY
    # pool of actual rows yields a certified candidate superset; the
    # exact verify decides membership).  Round 17: the thin pool STARTS
    # SMALL and escalates only while the exact verify would overrun the
    # ops budget — thinning cost is n x pool x d, and at s27's bench
    # shape a 256-row pool produces the identical final rows for 1/27th
    # the kernel time (measured 1.39 s -> 0.05 s; the r16 form burned
    # ~1 s of single-core numpy per call, the exact steal-fragility the
    # r16 verdict flagged).  Each escalation re-thins only the SURVIVING
    # candidates (rows refuted by a weaker pool stay refuted), so the
    # worst case converges to the old one-shot cost, not above it.
    # Work-gated (round-16 review finding): the thinning and exact-verify
    # blocks run single-threaded here, so each is bounded by
    # _DRIVER_KERNEL_MAX_OPS element comparisons — past the bound the
    # distributed path below runs unchanged (the collect is wasted, but
    # the bytes/row-estimate gates bound it).
    tbl = _collect_small_input(prepped, prepped.columns)
    if tbl is not None:
        import pyarrow as pa

        pts = _dim_matrix(tbl, prep_cols)
        n_rows, d_dims = pts.shape
        if n_rows == 0:
            return df.sparkSession.createDataFrame(tbl).select(*out_cols)
        pool_n = min(pool_size, 256, n_rows)
        if n_rows * pool_n * d_dims <= _DRIVER_KERNEL_MAX_OPS:
            ids = np.arange(n_rows, dtype=np.int64)
            w_all = np.abs(q[None, :] - pts)
            score = _rank_sum(w_all) if n_rows > pool_n else None
            cand_idx = ids  # current certified candidate superset
            verify_ok = False
            while True:
                if score is None or pool_n >= n_rows:
                    pool_pts, pool_ids = pts, ids
                else:
                    keep_pool = np.argpartition(score, pool_n)[:pool_n]
                    pool_pts = np.ascontiguousarray(pts[keep_pool])
                    pool_ids = ids[keep_pool]
                thin_counts = count_refuters_vs(
                    np.ascontiguousarray(pts[cand_idx]), w_all[cand_idx], pool_pts
                )
                self_thin = (
                    np.isin(cand_idx, pool_ids) & (w_all[cand_idx] > 0).any(axis=1)
                ).astype(np.int64)
                cand_idx = cand_idx[(thin_counts - self_thin) <= 0]
                if cand_idx.shape[0] * n_rows * d_dims <= _DRIVER_KERNEL_MAX_OPS:
                    verify_ok = True
                    break
                if pool_n >= min(pool_size, n_rows):
                    break  # strongest allowed pool still too weak: distribute
                next_pool = min(pool_n * 4, pool_size, n_rows)
                if cand_idx.shape[0] * next_pool * d_dims > _DRIVER_KERNEL_MAX_OPS:
                    break  # even the re-thin would blow the budget: distribute
                pool_n = next_pool
            if verify_ok:
                cand = np.ascontiguousarray(pts[cand_idx])
                w_cand = w_all[cand_idx]
                totals = count_refuters_vs(cand, w_cand, pts)
                self_c = (w_cand > 0).any(axis=1).astype(np.int64)
                final = np.zeros(n_rows, dtype=bool)
                final[cand_idx[totals == self_c]] = True
                out_tbl = tbl if final.all() else tbl.filter(pa.array(final))
                return df.sparkSession.createDataFrame(out_tbl).select(*out_cols)

    phase1, cand_tbl, cand_arr = _collect_verified_candidates(
        prepped, local_fn, prep_cols, "reverse_skyline"
    )
    if cand_tbl is None:
        return phase1.select(*out_cols)
    spark = phase1.sparkSession
    widths_arr = np.abs(q[None, :] - cand_arr)
    bc = spark.sparkContext.broadcast((cand_arr, widths_arr))
    totals = _broadcast_partial_counts(
        prepped,
        prep_cols,
        lambda pts: count_refuters_vs(bc.value[0], bc.value[1], pts),
        cand_arr.shape[0],
        "__refuters",
    )

    # positional alignment + self-contribution column (1 iff the
    # candidate's own row matches its box, i.e. any width nonzero)
    cand_keyed = _keyed_candidates(spark, cand_tbl)
    self_pdf = pd.DataFrame(
        {
            "__cand_idx": np.arange(cand_arr.shape[0]),
            "__self_c": (widths_arr > 0).any(axis=1).astype(np.int64),
        }
    )
    selfs = spark.createDataFrame(self_pdf, schema="__cand_idx long, __self_c long")
    return (
        cand_keyed.join(F.broadcast(totals), "__cand_idx")
        .join(F.broadcast(selfs), "__cand_idx")
        .where(F.col("__refuters") == F.col("__self_c"))
        .select(*out_cols)
    )


def kdominant_skyline(
    df: DataFrame,
    dims: Sequence,
    k: int,
    pool_size: int = 4096,
    compact_rows: int = 250_000,
) -> DataFrame:
    """k-dominant skyline (Chan et al., CIKM'06), the high-dimensional
    relaxation: r k-dominates p iff r <= p on at least ``k`` of the d
    dims, strictly on one; the result is every row no other row
    k-dominates.  ``k = d`` recovers :func:`skyline`; smaller k prunes
    the curse-of-dimensionality skyline explosion.  MAX dims via
    negation; NULL/NaN rows excluded, as in :func:`skyline`.

    k-dominance is NOT transitive (cyclic k-dominance exists), so the
    skyline's local-superset merge facts don't apply; the shape is the
    same filter-then-verify as :func:`reverse_skyline`:

    1. local thinning (bounded state, riding the scan): each partition
       keeps a running pool of its ``pool_size`` lowest rank-sum rows
       seen so far (low-sum rows are the strongest k-dominators) on the
       ~250k-row buffer-and-compact cadence, dropping buffered rows the
       pool k-dominates — sound because any exhibited k-dominator
       disqualifies globally, and a row never k-dominates itself or an
       exact duplicate (no strict dim), so no identity bookkeeping;
    2. broadcast-verify (EXACT): one counting pass of the full input
       against the broadcast candidate matrix; survival = zero
       k-dominators.

    Candidates are bounded by the same ``_VERIFY_MAX_ROWS`` guard as the
    skyline merge."""
    from .skyline_kernel import count_kdominators_vs

    nd = _norm_dims(dims)
    if not 1 <= k <= len(nd):
        raise ValueError(
            f"kdominant_skyline: k must be in [1, {len(nd)}], got {k}"
        )
    out_cols = df.columns
    prepped, prep_cols = _prep(df, dims)

    def local_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pool_pts: np.ndarray | None = None
        surv_frames: list[pd.DataFrame] = []
        buf: list[pd.DataFrame] = []
        buf_n = 0

        def update_pool(pts: np.ndarray) -> None:
            nonlocal pool_pts
            cat = pts if pool_pts is None else np.concatenate([pool_pts, pts])
            if cat.shape[0] > pool_size:
                # lowest per-dim-rank sum = strongest k-dominators without
                # letting one large-magnitude dim (s28's epoch-micros ship
                # date) decide the whole pool
                keep = np.argpartition(_rank_sum(cat), pool_size)[:pool_size]
                cat = cat[keep]
            pool_pts = np.ascontiguousarray(cat)

        def thin(frame: pd.DataFrame, pts: np.ndarray) -> pd.DataFrame:
            counts = count_kdominators_vs(pts, pool_pts, k)
            keep = counts == 0
            return frame if keep.all() else frame.loc[keep]

        def compact() -> None:
            nonlocal buf, buf_n
            for frame in buf:
                f2 = thin(frame, frame[prep_cols].to_numpy(dtype=np.float64))
                if len(f2):
                    surv_frames.append(f2)
            buf, buf_n = [], 0

        for pdf in batches:
            if pdf.empty:
                continue
            update_pool(pdf[prep_cols].to_numpy(dtype=np.float64))
            buf.append(pdf)
            buf_n += len(pdf)
            if buf_n >= compact_rows:
                compact()
        compact()
        if not surv_frames:
            return
        allrows = (
            surv_frames[0]
            if len(surv_frames) == 1
            else pd.concat(surv_frames, ignore_index=True)
        )
        # re-test accumulated survivors against the finished pool (earlier
        # compactions saw a weaker pool)
        out = thin(allrows, allrows[prep_cols].to_numpy(dtype=np.float64))
        if not out.empty:
            yield out

    # (A whole-input driver fast path was A/B-probed here round 16 and
    # REVERTED: pool-thinning + k-dominator counting dominate at this
    # operator's shapes and parallelize across the scan — single-core
    # whole-input measured 1.9-2.0 s vs 1.5-1.6 s distributed at s28's
    # shape.)
    phase1, cand_tbl, cand_arr = _collect_verified_candidates(
        prepped, local_fn, prep_cols, "kdominant_skyline"
    )
    if cand_tbl is None:
        return phase1.select(*out_cols)
    spark = phase1.sparkSession
    bc = spark.sparkContext.broadcast(cand_arr)
    totals = _broadcast_partial_counts(
        prepped,
        prep_cols,
        lambda pts: count_kdominators_vs(bc.value, pts, k),
        cand_arr.shape[0],
        "__kdom",
    )
    return (
        _keyed_candidates(spark, cand_tbl)
        .join(F.broadcast(totals), "__cand_idx")
        .where(F.col("__kdom") == 0)
        .select(*out_cols)
    )


def skyline_layers(
    df: DataFrame,
    dims: Sequence,
    n_layers: int,
    layer_col: str = "layer",
) -> DataFrame:
    """Skyline layers / onion peeling (Chomicki et al.'s iterated skyline;
    the dominance analog of k-onion ranking): layer 1 is the skyline,
    layer i the skyline of what remains after peeling layers < i —
    the standard way to rank beyond the first dominance tier.

    Scale shape — ONE full pass, not ``n_layers`` of them (round 16;
    the former per-layer skyline-then-anti-join loop paid ~4 driver
    actions and two shuffles per layer, ~12 sequential jobs for 3
    layers — pure fixed job latency on any input that fits the verify
    bound, and n_layers full scans besides):

    1. **Local K-peel.** One ``mapInPandas`` pass computes each input
       partition's own first-``n_layers`` onion layers incrementally
       (:func:`..skyline_kernel.onion_layers`) and keeps only rows with
       local layer <= n_layers.  Exact superset of the answer: a point's
       local layer never exceeds its global layer (a subset has fewer
       dominators), so every row of global layer <= K survives.
       Incremental maintenance is sound because a dropped row
       (local layer > K) only dominates rows whose local layer is
       larger still — removing it never changes a survivor's layer.
    2. **Exact layering of the candidate set.**  The candidates (bounded
       by ``_VERIFY_MAX_ROWS``, like every filter-then-verify member of
       the family) are collected once as Arrow and layered exactly with
       the same kernel.  Within the candidate set every true dominator
       of a low-layer point is present: if some dominator q of p were
       peeled locally past K, q's partition holds a dominance chain
       d_1 > d_2 > ... > d_K > q of local layers 1..K (standard onion
       property) — all candidates, all dominating p by transitivity —
       so p's candidate-relative layer is already > K.  By induction,
       candidate-relative layer == global layer for every row whose
       candidate-relative layer <= K, and rows of global layer <= K are
       exactly the rows reported (with the correct layer).
    3. Rows with candidate layer <= n_layers re-enter Spark via the
       Arrow table (:func:`_finish_on_driver`, type-exact).

    Value-equal rows land in the same layer (ties never dominate), the
    same contract as the old value-equality peel.  Rows with NULL/NaN
    dims are excluded, as everywhere in the family.  An oversized
    candidate set falls back to the per-layer peel loop
    (:func:`_skyline_layers_peel`)."""
    from .skyline_kernel import onion_layers

    if n_layers < 1:
        raise ValueError(f"skyline_layers: n_layers must be >= 1, got {n_layers}")
    out_cols = df.columns
    prepped, prep_cols = _prep(df, dims)

    def local_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur: pd.DataFrame | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            allrows = pdf if cur is None else pd.concat([cur, pdf], ignore_index=True)
            pts = allrows[prep_cols].to_numpy(dtype=np.float64)
            lay = onion_layers(pts, n_layers)
            keep = lay > 0
            cur = allrows if keep.all() else allrows.loc[keep]
        if cur is not None and not cur.empty:
            yield cur

    phase1 = _persist(_fanout(prepped).mapInPandas(local_fn, schema=prepped.schema))
    if phase1.count() > _VERIFY_MAX_ROWS:
        return _skyline_layers_peel(df, dims, n_layers, layer_col)

    def layers(tbl):
        lay = onion_layers(_dim_matrix(tbl, prep_cols), n_layers)
        return lay > 0, lay.astype(np.int32)

    kept, _ = _finish_on_driver(phase1, layers, layer_col)
    return kept.select(*out_cols, layer_col)


def _skyline_layers_peel(
    df: DataFrame,
    dims: Sequence,
    n_layers: int,
    layer_col: str = "layer",
) -> DataFrame:
    """Per-layer peel loop — the oversized-candidate fallback for
    :func:`skyline_layers`.  Each layer is one full :func:`skyline` pass
    (whatever physical strategy fits the arity), and peeling is an
    anti-join on the layer's distinct dim tuples: rows sharing a
    survivor's dim values are mutually non-dominating, so they sit in
    the same layer by definition — value-equality peeling is exact, no
    row identity needed.  The anti-join side is broadcast while the
    layer stays under ``_BROADCAST_SURVIVOR_MAX`` rows; an oversized
    layer falls back to a plain shuffled anti-join instead of an
    oversized broadcast.  Total cost: ``n_layers`` skyline passes over
    a shrinking persisted remainder."""
    dimcols = [c for c, _ in _norm_dims(dims)]
    out: DataFrame | None = None
    remaining = df
    for i in range(1, n_layers + 1):
        remaining = _persist(remaining)
        sky = skyline(remaining, dims)
        if i < n_layers:
            # persist BEFORE tagging so the union and the peel share one
            # materialization of the layer
            sky = _persist(sky)
            n_sky = sky.count()  # upper bound on the distinct-tuple count
        tagged = sky.withColumn(layer_col, F.lit(i).cast("int"))
        out = tagged if out is None else out.unionByName(tagged)
        if i < n_layers:
            peel = sky.select(*dimcols).distinct()
            if n_sky <= _BROADCAST_SURVIVOR_MAX:
                peel = F.broadcast(peel)
            remaining = remaining.join(peel, dimcols, "left_anti")
    return out


def skycube(
    df: DataFrame,
    dims: Sequence,
    label: callable = None,
    label_col: str = "subspace",
) -> DataFrame:
    """Skycube (Yuan et al., VLDB'05): the skyline of every non-empty
    subset of ``dims``, labeled by ``label(sub_dim_names)`` — the
    group-by-cube analog for dominance queries.

    Subspace-lattice reuse instead of 2^d - 1 independent full passes:
    only the FULL-space skyline scans all rows; every proper subspace U
    runs over the (usually tiny) candidate set

        ``cand(U) = { p : proj_U(p) in proj_U(sky(full)) }``

    via a broadcast semi-join on the full skyline's distinct U-projection.
    That containment is exact even with duplicate values (no
    distinct-values assumption): if ``p in sky(U)`` were missing, some
    ``q`` dominates ``p`` in full space while ``q <= p`` on U; strictness
    on any U dim would contradict ``p in sky(U)``, so ``q`` TIES ``p`` on
    U exactly — and following that dominance chain (finite, acyclic)
    lands on a full-space skyline point with the same U-projection, so
    ``p``'s projection is in the candidate key set after all.  Dominators
    are never lost either: any row dominated in U is dominated by a
    member of ``sky(U)``, which the candidate set contains, so the
    subspace skyline over candidates equals the subspace skyline over
    the whole universe.

    The universe is fixed ONCE for the whole cube: rows with NULL/NaN on
    ANY cube dim are excluded from EVERY subspace (the proof needs one
    shared universe — a row NaN outside U can win in U yet never project
    into the full-space skyline).  Callers wanting per-subspace-valid
    universes should run :func:`skyline` per subspace.

    All 2^d - 2 proper subspaces run in a SINGLE fused pass: the
    full-space skyline's dim matrix (bounded — it already fit the
    broadcast-verify gate) is collected once and every proper subspace's
    distinct-projection keyset is broadcast together; one ``mapInPandas``
    scan over the universe then tags each row with every subspace whose
    keyset contains its projection AND keeps only per-partition per-label
    LOCAL skyline survivors (the skyline-merge monoid, applied per
    label), so only local survivors hit the one exchange on the subspace
    label; a grouped kernel finishes each label's merge.  Non-subspace
    dims are padded to a constant in the tagged rows, which makes
    full-dim dominance coincide with subspace dominance (a constant dim
    can never be strictly better), so one kernel serves every label.

    At 100 TB: 1 full-space skyline + ONE additional scan of the
    universe for all 14/30/... proper subspaces together (the naive cube
    is 2^d - 1 full scans; the previous loop here was 2^d - 2 candidate
    passes each paying its own persist/count/collect actions); shuffle
    volume is the sum of per-label local-skyline sizes.  Labels whose
    survivor volume still exceeds the broadcast-verify bound fall back
    to the distributed merge, label by label (raise-don't-degrade: the
    fused path never single-tasks an unbounded group); a full-space
    skyline too large to collect falls back to the per-subspace loop
    entirely.

    Reference scope: the skyline family's cube extension — the Flink
    reference computes single-space skylines only
    (/root/reference/java/org.main/FlinkSkyline.java:120-174); this
    operator composes its Spark-side equivalent per subspace.
    """
    nd = _norm_dims(dims)
    names = [c for c, _ in nd]
    if label is None:
        label = lambda ds: "+".join(ds)  # noqa: E731
    # ONE cube universe: rows valid (non-NULL/NaN) on EVERY cube dim.  The
    # containment proof fixes a single universe — a row NaN on a dim
    # outside subspace U is U-valid in isolation but can never project
    # into the full-space skyline, so including it per-subspace would
    # break the candidate semi-join's exactness.  Excluding it everywhere
    # keeps every subspace exact over the shared universe (and matches
    # the family's NULL policy); callers wanting per-subspace universes
    # should run skyline() per subspace instead.
    out_cols = df.columns
    valid, _ = _prep(df, dims)
    # balanced persist: this universe cache feeds the full-space skyline
    # AND the fused all-subspace tagging scan — a single-row-group source
    # caches as one populated partition (round-16 forensics; see
    # caching.persist_balanced)
    df, _ = _persist_balanced(valid.select(*out_cols))
    spark = df.sparkSession
    prepped, prep_cols = _prep(df, dims)

    # Full-space skyline with the collected rows kept: the keysets below
    # need the full skyline's dim values driver-side anyway, so when the
    # merge finishes on the driver, ONE collect serves the result rows,
    # n_full AND the keyset source (no separate count or collect job).
    local = _local_skyline_iter(prep_cols)
    full, full_tbl = _skyline_merge(
        _fanout(prepped).mapInPandas(local, schema=prepped.schema), prep_cols
    )
    if full_tbl is None:
        full = _persist(full.select(*out_cols))
        n_full = full.count()
    else:
        n_full = full_tbl.num_rows
    out = full.select(F.lit(label(names)).alias(label_col), *df.columns)
    if len(nd) < 2:
        return out
    # collect gate scales with what actually gets BROADCAST, not just the
    # collected rows: all 2^d - 2 proper-subspace keysets ship together,
    # and their total is bounded by n_full * sum(|U|) * 8 bytes
    # (sum over proper subspaces of |U| = d*2^(d-1) - d) — at the row
    # bound with d=4 that is ~25x the full skyline itself, so a
    # rows-only gate under-counts the executor-memory cost 25x
    d = len(nd)
    keyset_bytes = n_full * 8 * (d * (1 << (d - 1)) - d)
    if n_full > _VERIFY_MAX_ROWS or keyset_bytes > _SKYCUBE_KEYSET_MAX_BYTES:
        # full-space skyline too large to collect driver-side: loop the
        # proper subspaces through the distributed operator instead
        for mask in range(1, (1 << len(nd)) - 1):
            sub = [d for i, d in enumerate(nd) if mask & (1 << i)]
            sub_names = [c for c, _ in sub]
            proj = full.select(*sub_names).distinct()
            cand = df.join(F.broadcast(proj), sub_names, "leftsemi")
            out = out.unionByName(
                skyline(cand, sub).select(
                    F.lit(label(sub_names)).alias(label_col), *df.columns
                )
            )
        return out

    full_pdf = (
        full_tbl.select(names).to_pandas()
        if full_tbl is not None
        else full.select(*names).toPandas()
    )
    masks: list[tuple[str, list[str], list[int]]] = []
    keysets: dict[str, pd.DataFrame] = {}
    for mask in range(1, (1 << len(nd)) - 1):
        idxs = [i for i in range(len(nd)) if mask & (1 << i)]
        sub_names = [names[i] for i in idxs]
        lbl = label(sub_names)
        masks.append((lbl, sub_names, idxs))
        keysets[lbl] = full_pdf[sub_names].drop_duplicates()
    bc = spark.sparkContext.broadcast((masks, keysets))

    schema = prepped.select(
        F.lit("").alias(label_col), *prepped.columns
    ).schema

    def tag_and_local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        msks, keys = bc.value
        running: dict[str, pd.DataFrame] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            for lbl, sub_names, idxs in msks:
                if len(sub_names) == 1:
                    member = pdf[sub_names[0]].isin(keys[lbl][sub_names[0]])
                    cand = pdf.loc[member]
                else:
                    probe = pdf[sub_names].reset_index(drop=True)
                    probe["__row"] = pdf.index
                    hit = probe.merge(keys[lbl], on=sub_names, how="inner")["__row"]
                    cand = pdf.loc[hit]
                if cand.empty:
                    continue
                cand = cand.copy()
                cand.insert(0, label_col, lbl)
                pad = [prep_cols[i] for i in range(len(prep_cols)) if i not in idxs]
                for pc in pad:
                    cand[pc] = 0.0
                prev = running.get(lbl)
                allrows = (
                    cand if prev is None else pd.concat([prev, cand], ignore_index=True)
                )
                m = skyline_mask(allrows[prep_cols].to_numpy(dtype=np.float64))
                running[lbl] = allrows if m.all() else allrows.loc[m]
        for lbl in sorted(running):
            if not running[lbl].empty:
                yield running[lbl]

    surv = _persist(prepped.mapInPandas(tag_and_local, schema=schema))
    counts = {
        r[label_col]: r["n"]
        for r in surv.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # the count above materialized the persisted survivors, so the tagging
    # scan's keysets are no longer hot — release the executor copies now
    # instead of leaking them for the session.  unpersist, NOT destroy:
    # an evicted survivor partition may recompute the scan, and the
    # driver can re-ship an unpersisted broadcast but not a destroyed one
    bc.unpersist(blocking=False)
    merged, _ = _verify(
        surv, sum(counts.values()), _LabelSkylines(prep_cols, label_col, counts)
    )
    return out.unionByName(merged.select(label_col, *out_cols))


class _LabelSkylines(_Verify):
    """The skycube's per-subspace merge kernel.  Tagged rows carry their
    subspace label and are padded to a constant on the dims outside it,
    so the full-dim skyline of one label's rows IS that subspace's
    skyline.  Driver: one :func:`skyline_mask` per label over the one
    collect.  Distributed: labels within the broadcast bound merge in one
    grouped pass keyed on the label; a label past it (``counts`` holds
    each label's survivor count) takes the full skyline merge on its
    own — raise-don't-degrade, the grouped pass never single-tasks an
    unbounded group."""

    def __init__(self, prep_cols: list[str], label_col: str, counts: dict):
        super().__init__(prep_cols)
        self.label_col, self.counts = label_col, counts

    def on_driver(self, tbl):
        arr = _dim_matrix(tbl, self.prep_cols)
        labels = tbl.column(self.label_col).to_pandas()
        keep = np.zeros(tbl.num_rows, dtype=bool)
        for rows in labels.groupby(labels).indices.values():
            keep[rows] = skyline_mask(arr[rows])
        return keep, None

    def broadcast(self, frame):
        lc = self.label_col
        big = [lbl for lbl, n in self.counts.items() if n > _VERIFY_MAX_ROWS]
        small = frame.where(~F.col(lc).isin(big)) if big else frame
        out = small.groupBy(lc).applyInPandas(
            _grouped_skyline(self.prep_cols), schema=frame.schema
        )
        for lbl in big:
            out = out.unionByName(
                _merge_survivors(frame.where(F.col(lc) == lbl), self.prep_cols)
            )
        return out

    def chunked(self, frame, n):
        return self.broadcast(frame)


def _scatter_obj_counts(
    acc: np.ndarray, oc: np.ndarray, le: np.ndarray, tmp: np.ndarray, ms: int
) -> None:
    """``acc[oc, ms:ms+a] += le.T`` without ``np.add.at``: the ufunc
    scatter walks 6.6M elements one at a time (~0.75 s per warm s30,
    round-16 profile).  Sorting the scanned rows by object id and
    summing each group with ``np.add.reduceat`` (C-contiguous segment
    sums, int64 accumulator) does the same math at memory speed; group
    leaders are unique, so the final fancy-row add never collides.
    ``tmp`` is the caller's scratch plane (holds the column-permuted
    copy of ``le``)."""
    a, b = le.shape
    order = np.argsort(oc, kind="stable")
    so = oc[order]
    starts = np.flatnonzero(np.r_[True, so[1:] != so[:-1]])
    perm = tmp[:a, :b]
    np.take(le, order, axis=1, out=perm)
    sums = np.add.reduceat(perm, starts, axis=1, dtype=np.int64)
    acc[so[starts], ms : ms + a] += sums.T


def prob_skyline(
    df: DataFrame,
    dims: Sequence,
    obj_cols: Sequence[str],
    threshold: float,
    prob_col: str = "p_r",
    count_col: str = "n_inst",
) -> DataFrame:
    """Probabilistic skyline over uncertain objects (Pei et al., VLDB'07,
    discrete uniform model): each object is a bag of equally-likely
    instance rows; an instance's skyline probability is the product over
    OTHER objects V of ``(1 - dom_V(a)/n_V)`` (the chance V's realized
    instance does not dominate ``a``), and the object's probability is
    the average over its instances.  Returns objects whose probability
    (rounded to 6 dp — the rounding is part of the contract so the
    threshold test is stable across engines) reaches ``threshold``:
    ``obj_cols + (n_inst, p_r)``.

    Scale shape — filter-then-verify like the reverse/k-dominant family,
    never a quadratic join:

    1. **Candidate bound.** ``Pr[a] <= exp(-(D(a) - d_own(a))/max_n)``
       (from ``1 - x <= e^-x`` and ``n_V <= max_n``), so any instance
       with at least ``k_band = floor(max_n * ln(1/t)) + max_n + 1``
       total dominators has ``Pr < t``; the k-skyband (one scan +
       broadcast-verify) is therefore a certified superset of every
       instance that could reach the threshold — and since an object
       needs one instance with ``Pr >= t`` to average ``>= t``, of every
       object in the answer.
    2. **Exact per-object dominator counts** for the candidates: ONE
       counting scan of the full input with the broadcast candidate
       matrix; each task accumulates a dense (objects x candidates)
       count block (column-chunked numpy) and emits the nonzero triples,
       one tiny shuffle sums them.
    3. **Exact probabilities** from the triples (objects absent from an
       instance's triples contribute factor 1): zero factors short-limit
       to 0, positive ones fold via exp(sum(ln)) — float-order noise is
       absorbed by the 6-dp contract, and the phase-2 object filter
       keeps a 1e-9 slack so phase 3 decides boundaries exactly.
    4. A second counting scan over ALL instances of surviving objects
       yields exact object probabilities.  (Fusing the two scans into
       one over all instances of skyband-owner objects was measured
       SLOWER — the scan cost is objects x candidates per task, and the
       probability filter shrinks phase 2 far below the owners' full
       instance set; see the in-body note.)

    Bounds: candidate sets ride the ``_VERIFY_MAX_ROWS`` guard
    (raise-don't-degrade, like every counting-scan operator here); the
    per-task count block requires ``n_objects * n_candidates <= 2e8``.
    Rows with NULL dims or NULL object keys are excluded (engine
    policy).  Reference scope: the skyline family's uncertain-data
    extension; the Flink reference computes deterministic skylines only
    (/root/reference/java/org.main/FlinkSkyline.java:110-174)."""
    import math

    import pyarrow as pa

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"prob_skyline: threshold must be in (0, 1], got {threshold}")
    obj_cols = list(obj_cols)
    spark = df.sparkSession
    notnull = None
    for c in obj_cols:
        cond = F.col(c).isNotNull()
        notnull = cond if notnull is None else (notnull & cond)
    df = df.where(notnull)
    prepped, prep_cols = _prep(df, dims)
    # persist + count: the cache feeds every downstream read and the count
    # gates the whole-input driver path; the balance probe (round-16
    # forensics: a single-row-group source caches as ONE populated
    # partition, [0, 35645, 0] at sf0.1) moves to the distributed branch —
    # the driver path reads the cache exactly twice driver-side and cannot
    # straggle, so probing partition skew for it was three wasted jobs
    prepped = _persist(prepped)
    n_rows = prepped.count()

    sizes = prepped.groupBy(*obj_cols).agg(F.count(F.lit(1)).alias("__n"))

    def empty_result() -> DataFrame:
        return sizes.limit(0).select(
            *obj_cols,
            F.lit(0).cast("bigint").alias(count_col),
            F.lit(0.0).alias(prob_col),
        )

    # Whole-input driver path (see _DRIVER_INPUT_MAX_BYTES): ONE collect
    # of the cached projection feeds the size table (a type-exact pyarrow
    # group_by over the collected obj columns), the band, and both
    # counting phases — no further jobs.  Distributed path: the size
    # table comes from the Spark aggregate as before.
    tbl = None
    if n_rows <= _DRIVER_INPUT_MAX_ROWS:
        # thin projection (only obj + prep columns are read driver-side)
        # behind the bytes-estimate gate — a <=65k-row input can still be
        # arbitrarily WIDE, and the path must never pull payload columns
        # (round-16 review finding)
        tbl = _collect_small_input(prepped, list(obj_cols) + list(prep_cols))
    driver_small = tbl is not None
    if driver_small:
        sz_tbl = (
            tbl.select(obj_cols)
            .group_by(obj_cols)
            .aggregate([([], "count_all")])
            .rename_columns(list(obj_cols) + ["__n"])
        )
    else:
        sz_tbl = sizes.toArrow()
    n_obj = sz_tbl.num_rows
    if n_obj == 0:
        return empty_result()
    if n_obj > _VERIFY_MAX_ROWS:
        raise ValueError(
            f"prob_skyline: {n_obj} objects (> {_VERIFY_MAX_ROWS}); "
            "pre-aggregate or filter the object universe"
        )
    sz_pdf = sz_tbl.to_pandas()
    sz_pdf["__obj_idx"] = np.arange(len(sz_pdf), dtype=np.int64)
    obj_map = sz_pdf[obj_cols + ["__obj_idx"]]
    max_n = int(sz_pdf["__n"].max())

    # the output contract includes objects whose ROUNDED probability
    # reaches the threshold, i.e. true p >= threshold - 5e-7 (half the
    # 6-dp grain); every internal bound targets that slackened threshold
    # plus a float-noise margin, and only the final rounded comparison
    # decides membership
    t_eff = max(threshold - 6e-7, 1e-12)
    k_band = int(math.floor(max_n * math.log(1.0 / t_eff))) + max_n + 1
    n_arr = sz_pdf["__n"].to_numpy(dtype=np.int64)

    def _assemble(pr_b: np.ndarray, own_b: np.ndarray) -> DataFrame:
        """Exact object probabilities -> thresholded output rows (shared
        by the distributed and whole-input-driver paths): sum of instance
        probabilities / instance count, rounded with the same
        HALF_UP-at-6dp semantics Spark's round() applies
        (BigDecimal.valueOf(double) == Decimal(repr(double)), both
        shortest round-trip decimal forms)."""
        from decimal import ROUND_HALF_UP, Decimal

        sums = np.zeros(n_obj, dtype=np.float64)
        np.add.at(sums, own_b, pr_b)
        raw = sums / n_arr
        grain = Decimal("0.000001")
        pobj = np.fromiter(
            (
                float(Decimal(repr(v)).quantize(grain, rounding=ROUND_HALF_UP))
                for v in raw
            ),
            dtype=np.float64,
            count=n_obj,
        )
        sel = pobj >= threshold
        if not sel.any():
            return empty_result()
        res_tbl = sz_tbl.filter(pa.array(sel)).append_column(
            prob_col, pa.array(pobj[sel], pa.float64())
        )
        return spark.createDataFrame(res_tbl).select(
            *obj_cols, F.col("__n").cast("bigint").alias(count_col), F.col(prob_col)
        )

    # Whole-input driver fast path: at these volumes BOTH counting scans
    # plus the band fit one driver pass of the identical kernels
    # (measured: the distributed composition costs 25 jobs / 51 stages
    # per warm call at sf0.1, nearly all driver gap; whole-input A/B
    # 2.5 s vs 2.7-4.1 s same-session).  The dense (objects x candidates)
    # count block is bounded before each phase; past the bound the
    # distributed path below runs unchanged.
    if driver_small:
        from .skyline_kernel import skyband_mask

        pts = _dim_matrix(tbl, prep_cols)
        oidx = (
            tbl.select(obj_cols)
            .to_pandas()
            .merge(obj_map, on=obj_cols, how="left")["__obj_idx"]
            .to_numpy(dtype=np.int64)
        )

        def _probs_for(cand_sel: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
            # same chunked counting block as the distributed scan's fn(),
            # run once over the collected matrix; same own-object zeroing,
            # same factor fold (min factor <= 0 -> 0, else exp(sum ln) —
            # float-order noise absorbed by the 6-dp contract either way)
            cand = np.ascontiguousarray(pts[cand_sel])
            mm = cand.shape[0]
            acc = np.zeros((n_obj, mm), dtype=np.int64)
            for ps, ms, plane, tmp in dominance_planes(cand, pts, False):
                _scatter_obj_counts(acc, oidx[ps : ps + plane.shape[1]], plane, tmp, ms)
            own = oidx[cand_sel]
            acc[own, np.arange(mm)] = 0
            nzo, nzc = np.nonzero(acc)
            factor = 1.0 - acc[nzo, nzc] / n_arr[nzo]
            mn = np.ones(mm, dtype=np.float64)
            np.minimum.at(mn, nzc, factor)
            pos = factor > 0
            slog = np.zeros(mm, dtype=np.float64)
            np.add.at(slog, nzc[pos], np.log(factor[pos]))
            pr = np.where(mn <= 0, 0.0, np.exp(slog))
            return pr, own

        band_mask, _ = skyband_mask(pts, k_band)
        m_a = int(band_mask.sum())
        if m_a == 0:
            return empty_result()
        if n_obj * m_a <= 20_000_000:
            pr_a, own_a = _probs_for(band_mask)
            surv = np.unique(own_a[pr_a >= t_eff])
            if surv.size == 0:
                return empty_result()
            sel_b = np.isin(oidx, surv)
            if n_obj * int(sel_b.sum()) <= 20_000_000:
                pr_b, own_b = _probs_for(sel_b)
                return _assemble(pr_b, own_b)
        # count block too large for one driver plane: distributed path

    sizes_idx = spark.createDataFrame(sz_pdf[["__obj_idx", "__n"]])
    # distributed path: balance the cache before the heavy scans (the
    # round-16 forensics single-row-group pathology; see persist_balanced)
    prepped, _ = _persist_balanced(prepped)
    # scan the persisted prepped projection, not the raw input — skyband
    # re-preps internally, and _prep is idempotent over these columns
    band = skyband(prepped, dims, k_band, count_col="__D")

    def instance_probs_arr(cand_tbl) -> tuple[np.ndarray, np.ndarray]:
        """``(pr, own_idx)`` per row of a collected prepped-schema Arrow
        candidate table, via ONE distributed action (round 16): the
        counting scan's sparse (obj, candidate) triples flow straight
        through the factor join and the per-candidate aggregate, and the
        aggregate (<= one row per candidate, the family's bounded-collect
        class) is pulled once; probabilities assemble driver-side in
        numpy.  The former shape re-entered the candidates as a keyed
        DataFrame and assembled per-instance probabilities through a
        second broadcast-join pipeline — three extra jobs per phase for
        rows that were already sitting on the driver."""
        cand_pdf = cand_tbl.to_pandas()
        cand_arr = np.ascontiguousarray(
            cand_pdf[prep_cols].to_numpy(dtype=np.float64)
        )
        own_idx = (
            cand_pdf[obj_cols]
            .merge(obj_map, on=obj_cols, how="left")["__obj_idx"]
            .to_numpy(dtype=np.int64)
        )
        m = cand_arr.shape[0]
        if n_obj * m > 200_000_000:
            raise ValueError(
                f"prob_skyline: count block {n_obj} x {m} exceeds the "
                "2e8 per-task bound; filter the object universe"
            )
        bc_cand = spark.sparkContext.broadcast(cand_arr)
        bc_own = spark.sparkContext.broadcast(own_idx)
        bc_map = spark.sparkContext.broadcast(obj_map)
        from .skyline_kernel import _ChunkScratch, _M_CHUNK, _SKYBAND_CHUNK

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cand = bc_cand.value
            omap = bc_map.value
            acc = np.zeros((len(omap), cand.shape[0]), dtype=np.int64)
            # per-TASK scratch planes (round-15 allocator-churn
            # discipline)
            scratch = _ChunkScratch(min(cand.shape[0], _M_CHUNK), _SKYBAND_CHUNK)
            for pdf in batches:
                if pdf.empty:
                    continue
                pts = pdf[prep_cols].to_numpy(dtype=np.float64)
                oidx = (
                    pdf[obj_cols]
                    .merge(omap, on=obj_cols, how="left")["__obj_idx"]
                    .to_numpy(dtype=np.int64)
                )
                for ps, ms, plane, tmp in dominance_planes(cand, pts, False, scratch):
                    _scatter_obj_counts(acc, oidx[ps : ps + plane.shape[1]], plane, tmp, ms)
            # the own-object exclusion ("product over OTHER objects")
            # zeroes at the source — the former post-sum __own_idx
            # anti-filter needed the candidates re-broadcast as a keyed
            # DataFrame just to know each candidate's owner
            acc[bc_own.value, np.arange(acc.shape[1])] = 0
            nz = np.nonzero(acc)
            yield pd.DataFrame(
                {"__obj_idx": nz[0], "__cand_idx": nz[1], "__cnt": acc[nz]}
            )

        partials = prepped.mapInPandas(
            fn, schema="__obj_idx long, __cand_idx long, __cnt long"
        )
        agg_pdf = (
            partials.groupBy("__obj_idx", "__cand_idx")
            .agg(F.sum("__cnt").alias("__cnt"))
            .join(F.broadcast(sizes_idx), "__obj_idx")
            .withColumn("__factor", F.lit(1.0) - F.col("__cnt") / F.col("__n"))
            .groupBy("__cand_idx")
            .agg(
                F.min("__factor").alias("__mn"),
                F.sum(
                    F.when(F.col("__factor") > 0, F.log("__factor"))
                ).alias("__slog"),
            )
            .toPandas()
        )
        pr = np.ones(m, dtype=np.float64)
        if len(agg_pdf):
            ci = agg_pdf["__cand_idx"].to_numpy(dtype=np.int64)
            mn = agg_pdf["__mn"].to_numpy(dtype=np.float64)
            slog = agg_pdf["__slog"].to_numpy(dtype=np.float64)
            # __slog is NULL exactly when every factor <= 0 (then __mn <= 0
            # selects the 0.0 branch); exp matches Spark's EXP (both are
            # IEEE double exp, and the 6-dp contract absorbs ulp noise)
            pr[ci] = np.where(
                mn <= 0, 0.0, np.exp(np.where(np.isnan(slog), 0.0, slog))
            )
        return pr, own_idx

    # Two-phase schedule, MEASURED against the "fused single scan over
    # all instances of skyband-owner objects" alternative and kept: the
    # per-instance probability filter shrinks the phase-2 candidate
    # matrix so hard (the counting scan is O(objects x candidates) per
    # task) that one small scan + one tiny scan beats one medium scan —
    # 5.4 s vs 8.1 s at sf0.1 (the fused path's owners' instance set is
    # ~3x the skyband, and phase 2's survivors are ~100x smaller).
    band_prepped, _ = _prep(band.drop("__D"), dims)
    cand_tbl = band_prepped.toArrow()
    if cand_tbl.num_rows == 0:
        return empty_result()
    pr_a, own_a = instance_probs_arr(cand_tbl)
    surv_obj = np.unique(own_a[pr_a >= t_eff])
    if surv_obj.size == 0:
        return empty_result()
    # the phase-2 row bound is exact from the size table — no count job,
    # and the guard fires BEFORE anything is collected
    n_cand_b = int(n_arr[surv_obj].sum())
    if n_cand_b > _VERIFY_MAX_ROWS:
        raise ValueError(
            f"prob_skyline: phase-2 candidate set has {n_cand_b} rows "
            f"(> {_VERIFY_MAX_ROWS}); raise the threshold"
        )
    surv_keys = spark.createDataFrame(
        sz_tbl.filter(pa.array(np.isin(sz_pdf["__obj_idx"].to_numpy(), surv_obj)))
        .select(obj_cols)
    )
    cand_tbl2 = prepped.join(F.broadcast(surv_keys), obj_cols, "leftsemi").toArrow()
    pr_b, own_b = instance_probs_arr(cand_tbl2)
    return _assemble(pr_b, own_b)


def _thick_skyd_2d(df, nd, prepped, prep_cols, dimcols):
    """2-D fast path for :func:`thick_skyline`'s distinct skyline dim
    tuples: the merged frontier pairs ARE that set (every survivor's
    tuple equals some frontier pair and every pair is realized by a
    survivor), so when the frontier merge fits the driver gate the
    ``skyline() -> persist -> count -> distinct`` passes are skipped
    entirely and the tuples re-enter as a local relation (round 17).

    Restricted to dim types double-exact (double/float/int/short/byte):
    the pairs live in prepped (cast-to-double, max-negated) space, and
    mapping them back must not collide values the generic path's
    original-typed tuples would keep distinct (bigint past 2^53 or
    decimals).  Returns None when the fast path doesn't apply — the
    generic path is the behavior everywhere else."""
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        ShortType,
    )

    if len(nd) != 2:
        return None
    exact = (DoubleType, FloatType, IntegerType, ShortType, ByteType)
    try:
        if not all(isinstance(df.schema[c].dataType, exact) for c, _ in nd):
            return None
    except Exception:  # pragma: no cover - exotic schema lookup
        return None
    _pairs, merged = _frontier_2d_collect(prepped, prep_cols)
    if merged is None:
        return None
    import pyarrow as pa

    cols = {}
    for arr, (c, direction) in zip(merged, nd):
        cols[c] = pa.array(-arr if direction == "max" else arr, pa.float64())
    return df.sparkSession.createDataFrame(pa.table(cols))


def thick_skyline(
    df: DataFrame,
    dims: Sequence,
    eps: Sequence[float],
    core_col: str = "is_core",
) -> DataFrame:
    """Thick skyline (Jin et al., the epsilon-neighborhood relaxation):
    the skyline plus every row within ``eps[i]`` of a skyline point on
    EVERY dim — the "best tier and its practical substitutes" answer a
    brittle exact frontier can't give (a point a cent off the frontier
    is invisible to the plain skyline).  Returns the qualifying rows
    with ``core_col`` = 1 for rows whose dim tuple IS a skyline tuple,
    0 for neighbors.

    Scale shape: one ordinary :func:`skyline` pass, then the (tiny,
    ``_BROADCAST_SURVIVOR_MAX``-guarded) distinct skyline dim-tuple set
    broadcasts into (a) an epsilon band-join — a broadcast nested-loop
    whose inner side is the skyline tuples, i.e. O(n x |sky|) riding the
    scan, never a shuffle of the input — and (b) an equality hash join
    that sets the core flag.  ``eps`` is absolute per dim and
    direction-agnostic (|p - s| is symmetric).  NULL/NaN-dim rows are
    excluded, as everywhere in the family."""
    nd = _norm_dims(dims)
    if len(eps) != len(nd):
        raise ValueError(f"thick_skyline: need one eps per dim, got {len(eps)}")
    dimcols = [c for c, _ in nd]
    out_cols = df.columns
    prepped, prep_cols = _prep(df, dims)
    # NULL/NaN-dim rows excluded; fan out a provably single-split scan —
    # the epsilon band-join below is a broadcast nested loop RIDING this
    # side, so its parallelism is exactly the scan's split count
    base = _fanout(prepped.select(*out_cols))

    skyd = _thick_skyd_2d(df, nd, prepped, prep_cols, dimcols)
    if skyd is None:
        sky = _persist(skyline(df, dims))
        n_sky = sky.count()
        skyd = sky.select(*dimcols).distinct()
        if n_sky > _BROADCAST_SURVIVOR_MAX:
            raise ValueError(
                f"thick_skyline: skyline has {n_sky} rows "
                f"(> {_BROADCAST_SURVIVOR_MAX}); too large to broadcast"
            )
    renamed = skyd.select(
        *[F.col(c).alias(f"__ts_{i}") for i, c in enumerate(dimcols)]
    )
    band = None
    for i, c in enumerate(dimcols):
        cond = F.abs(F.col(c) - F.col(f"__ts_{i}")) <= F.lit(float(eps[i]))
        band = cond if band is None else (band & cond)
    thick = base.join(F.broadcast(renamed), band, "leftsemi")
    marker = skyd.withColumn("__core", F.lit(1))
    return (
        thick.join(F.broadcast(marker), dimcols, "left")
        .withColumn(core_col, F.coalesce(F.col("__core"), F.lit(0)).cast("bigint"))
        .select(*out_cols, core_col)
    )
