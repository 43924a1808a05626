"""DataFrame skyline operator tests: Spark result vs numpy brute force,
directions, grouping, NULL policy, partitioner strategies, generators."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from query_skyline_qos_flink_spark.operators.partitioners import partition_id
from query_skyline_qos_flink_spark.operators.skyline import skyline, skyline_with_pid
from query_skyline_qos_flink_spark.operators.skyline_kernel import skyline_mask_brute
from query_skyline_qos_flink_spark.sources.generators import points


def _brute(pdf: pd.DataFrame, dims, signs) -> set[tuple]:
    pts = pdf[dims].to_numpy(dtype=float) * np.asarray(signs)
    mask = skyline_mask_brute(pts)
    return set(map(tuple, pdf.loc[mask].itertuples(index=False)))


def test_skyline_matches_brute(spark):
    pdf = pd.DataFrame(
        {
            "id": range(800),
            "x": np.random.default_rng(1).integers(0, 50, 800).astype(float),
            "y": np.random.default_rng(2).integers(0, 50, 800).astype(float),
        }
    )
    df = spark.createDataFrame(pdf)
    got = set(map(tuple, skyline(df, ["x", "y"]).toPandas().itertuples(index=False)))
    assert got == _brute(pdf, ["x", "y"], [1, 1])


def test_skyline_max_direction(spark):
    pdf = pd.DataFrame(
        {
            "id": range(500),
            "x": np.random.default_rng(3).integers(0, 30, 500).astype(float),
            "y": np.random.default_rng(4).integers(0, 30, 500).astype(float),
        }
    )
    df = spark.createDataFrame(pdf)
    got = set(
        map(tuple, skyline(df, [("x", "min"), ("y", "max")]).toPandas().itertuples(index=False))
    )
    assert got == _brute(pdf, ["x", "y"], [1, -1])


def test_skyline_null_rows_excluded(spark):
    pdf = pd.DataFrame({"x": [1.0, None, 0.5], "y": [1.0, 0.0, np.nan]})
    df = spark.createDataFrame(pdf)
    out = skyline(df, ["x", "y"]).toPandas()
    assert len(out) == 1 and out.iloc[0]["x"] == 1.0


def test_groupwise_skyline(spark):
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "g": rng.integers(0, 4, 1000),
            "x": rng.integers(0, 40, 1000).astype(float),
            "y": rng.integers(0, 40, 1000).astype(float),
        }
    )
    df = spark.createDataFrame(pdf)
    got = set(
        map(tuple, skyline(df, ["x", "y"], group_by=["g"]).toPandas().itertuples(index=False))
    )
    want = set()
    for g, sub in pdf.groupby("g"):
        want |= _brute(sub, ["x", "y"], [1, 1])
    assert got == want


def test_two_phase_strategies_equal_single_phase(spark):
    """S9 property on all three generator distributions x strategies."""
    for dist in ("uniform", "correlated", "anti_correlated"):
        df = points(spark, 5000, 2, dist, domain=1000, seed=17).cache()
        ref = set(map(tuple, skyline(df, ["v0", "v1"]).toPandas().itertuples(index=False)))
        for st in ("dim", "grid", "angle"):
            pid = partition_id(st, ["v0", "v1"], 8, 1000.0)
            two = skyline_with_pid(df, ["v0", "v1"], pid, 8).drop("origin_partition")
            got = set(map(tuple, two.toPandas().itertuples(index=False)))
            assert got == ref, (dist, st)


def test_groupwise_skyline_2d_null_group_key(spark):
    """Regression: the 2-D relational path must treat NULL group keys as a
    normal group (null-safe join), matching the d>=3 applyInPandas path."""
    pdf = pd.DataFrame(
        {
            "g": ["a", "a", None, None, "b"],
            "x": [1.0, 2.0, 5.0, 4.0, 3.0],
            "y": [1.0, 0.5, 5.0, 6.0, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = skyline(df, ["x", "y"], group_by=["g"]).toPandas()
    got = {(r.g if isinstance(r.g, str) else None, r.x, r.y) for r in out.itertuples()}
    assert got == {("a", 1.0, 1.0), ("a", 2.0, 0.5), (None, 5.0, 5.0), (None, 4.0, 6.0),
                   ("b", 3.0, 3.0)}


def test_skyline_1d_is_global_min_with_ties(spark):
    pdf = pd.DataFrame({"id": range(6), "x": [3.0, 1.0, 1.0, 2.0, 5.0, 1.0]})
    out = skyline(spark.createDataFrame(pdf), ["x"]).toPandas()
    assert sorted(out.id) == [1, 2, 5]  # all copies of the minimum retained


def test_grid_prefilter(spark):
    """O23 (the reference ships it commented out): dropping the all->=mid
    corner cell preserves the skyline when the dominating corner is
    populated — uniform data at this size guarantees a point below mid in
    every dim, which dominates the whole discarded cell."""
    from query_skyline_qos_flink_spark.operators.partitioners import grid_dominance_prefilter

    df = points(spark, 5000, 3, "uniform", domain=1000, seed=41)
    dims = ["v0", "v1", "v2"]
    full = skyline(df, dims).count()
    pre = df.where(grid_dominance_prefilter(dims, 1000.0))
    assert pre.count() < 5000  # it actually prunes
    assert skyline(pre, dims).count() == full


def test_generator_skyline_size_ordering(spark):
    """PDF §5.1 sanity: anti-correlated >> correlated-or-uniform skylines."""
    sizes = {}
    for dist in ("uniform", "correlated", "anti_correlated"):
        df = points(spark, 20000, 2, dist, domain=10000, seed=23)
        sizes[dist] = skyline(df, ["v0", "v1"]).count()
    assert sizes["anti_correlated"] > 10 * sizes["uniform"]
    assert sizes["anti_correlated"] > sizes["correlated"]


def test_generic_path_3d_matches_brute(spark):
    """Force the d>=3 two-phase + broadcast-verify path and check it against
    the numpy brute-force oracle."""
    rng = np.random.default_rng(31)
    pdf = pd.DataFrame(
        {
            "id": range(3000),
            "x": rng.integers(0, 60, 3000).astype(float),
            "y": rng.integers(0, 60, 3000).astype(float),
            "z": rng.integers(0, 60, 3000).astype(float),
        }
    )
    df = spark.createDataFrame(pdf).repartition(7)
    got = set(map(tuple, skyline(df, ["x", "y", "z"]).toPandas().itertuples(index=False)))
    assert got == _brute(pdf, ["x", "y", "z"], [1, 1, 1])


def _stats_input(spark, kind: str, d: int):
    """``anti``: seeded anti-correlated points in [0, 1000].  ``boundary``:
    every coordinate a multiple of 125 = 1000 / 8 (so each v0 sits exactly
    on an MR-Dim bucket edge, and 500 is the MR-Grid split), drawn from 9
    values per dim, so most points are exact duplicates."""
    if kind == "anti":
        return points(spark, 4000, d, "anti_correlated", domain=1000, seed=9)
    rng = np.random.default_rng(17)
    pdf = pd.DataFrame(
        {f"v{i}": rng.integers(0, 9, 1500).astype(float) * 125.0 for i in range(d)}
    )
    pdf["id"] = np.arange(1500)
    return spark.createDataFrame(pdf).repartition(5)


@pytest.mark.parametrize("kind", ["anti", "boundary"])
@pytest.mark.parametrize("d", [2, 3])
@pytest.mark.parametrize("strategy", ["dim", "grid", "angle"])
def test_partition_stats_parallel_merge(spark, strategy, d, kind):
    """Per-partition stats vs brute force, for every strategy, and no
    single-partition exchange in the executed plan (the reference merges
    on one thread, its own 4-D bottleneck, PDF §5.5).  Pids come from the
    partitioner's own column expression: this checks the stats, not the
    partitioner."""
    from query_skyline_qos_flink_spark.operators.metrics import skyline_partition_stats

    dims = [f"v{i}" for i in range(d)]
    df = _stats_input(spark, kind, d)
    stats = skyline_partition_stats(
        df, dims, strategy=strategy, num_partitions=8, domain=1000.0
    )
    got = stats.toPandas().set_index("pid").sort_index()

    pdf = df.withColumn("pid", partition_id(strategy, dims, 8, 1000.0)).toPandas()
    pid = pdf["pid"]
    sky = _brute(pdf[dims], dims, [1] * d)
    surv_pid = pid[[tuple(r) in sky for r in pdf[dims].itertuples(index=False)]]
    assert set(got.index) == set(pid), "one row per non-empty partition"
    for p in got.index:
        sub = pdf.loc[pid == p, dims]
        local_size = int(skyline_mask_brute(sub.to_numpy(dtype=float)).sum())
        assert got.loc[p, "local_size"] == local_size, p
        assert got.loc[p, "survivors"] == int((surv_pid == p).sum()), p

    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_partition_stats_all_strategies_match_single_calls(spark):
    """One multi-strategy call (data-derived domain, resolved once) returns
    exactly the rows of the per-strategy calls, labeled by strategy."""
    from query_skyline_qos_flink_spark.operators.metrics import (
        partition_stats,
        skyline_partition_stats,
    )

    df = points(spark, 4000, 3, "anti_correlated", domain=1000, seed=9)
    dims = ["v0", ("v1", "max"), "v2"]
    strategies = ["dim", "grid", "angle"]
    got = sorted(map(tuple, partition_stats(df, dims, strategies).collect()))
    want = sorted(
        (s, *r)
        for s in strategies
        for r in map(tuple, skyline_partition_stats(df, dims, strategy=s).collect())
    )
    assert got == want
    assert {r[0] for r in got} == set(strategies)


def test_optimality_folds_ratios_in_pid_order(spark):
    """Optimality depends only on the integer stats: two stats frames
    holding the same rows in different orders give bit-identical values,
    equal to the left-to-right fold of survivors/local_size in pid
    order."""
    from query_skyline_qos_flink_spark.operators.metrics import optimality

    rng = np.random.default_rng(0)
    P = 16
    loc = rng.integers(1, 5000, P)
    surv = np.minimum(loc, rng.integers(0, 3000, P))
    rows = [(p, int(lo), int(s)) for p, lo, s in zip(range(P), loc, surv)]

    def fold(rs):
        acc = 0.0
        for _, lo, s in rs:
            acc += s / lo
        return acc / P

    # the row order matters to a naive fold on this data
    assert fold(rows) != fold(rows[::-1])
    schema = "pid int, local_size bigint, survivors bigint"
    got = [
        optimality(spark.createDataFrame(rs, schema).repartition(parts), P).first()
        for rs, parts in ((rows, 1), (rows[::-1], 1), (rows[5:] + rows[:5], 3))
    ]
    assert {g["optimality"] for g in got} == {fold(rows)}
    assert {g["skyline_size"] for g in got} == {int(surv.sum())}


def test_2d_two_pass_prefix_min_many_range_partitions(spark, monkeypatch):
    """The ungrouped 2-D FALLBACK path (frontier-pair volume past the
    driver-merge gate) must bucket the distinct d0 values into many ranges
    via literal boundaries (no single-task sort over them, no
    cache/exchange-reuse dependency) and still match brute force when the
    running min crosses many range boundaries.  The gate is forced off so
    this pins the distributed shape (round-17 frontier default below)."""
    from query_skyline_qos_flink_spark.operators import skyline as sky

    monkeypatch.setattr(sky, "_2D_FRONTIER_DRIVER_MAX_ROWS", -1)
    rng = np.random.default_rng(42)
    # 20k distinct x values, anti-correlated-ish so survivors span ranges
    x = rng.permutation(20_000).astype(np.float64)
    y = 20_000.0 - x + rng.integers(-2_000, 2_000, size=20_000)
    pdf = pd.DataFrame({"x": x, "y": y, "rid": np.arange(20_000)})
    df = spark.createDataFrame(pdf).repartition(16)
    res = skyline(df, ["x", "y"])
    got = {tuple(r) for r in res.select("x", "y").collect()}
    assert got == _brute(pdf[["x", "y"]], ["x", "y"], [1, 1])
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the data-sized window runs per literal-derived range bucket
    assert "hashpartitioning(__pid" in plan
    assert "rangepartitioning" not in plan  # no RangePartitioner dependency


def test_2d_frontier_driver_merge_gate_parity(spark, monkeypatch):
    """Gate parity for the round-17 ungrouped 2-D frontier fast path: the
    default (per-partition frontier partials + driver merge) and the
    forced relational fallback must return identical row sets, both equal
    to brute force — and the default plan must carry NO hash exchange (the
    exchange removal is the point)."""
    from query_skyline_qos_flink_spark.operators import skyline as sky

    rng = np.random.default_rng(11)
    x = rng.integers(0, 3_000, size=8_000).astype(np.float64)
    y = 3_000.0 - x + rng.integers(-300, 300, size=8_000)
    pdf = pd.DataFrame({"x": x, "y": y, "rid": np.arange(8_000)})
    df = spark.createDataFrame(pdf).repartition(8)
    res = skyline(df, ["x", "y"])
    got_default = sorted(map(tuple, res.select("x", "y", "rid").collect()))
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    monkeypatch.setattr(sky, "_2D_FRONTIER_DRIVER_MAX_ROWS", -1)
    got_fallback = sorted(
        map(tuple, skyline(df, ["x", "y"]).select("x", "y", "rid").collect())
    )
    assert got_default == got_fallback
    brute = _brute(pdf[["x", "y"]], ["x", "y"], [1, 1])
    assert {(r[0], r[1]) for r in got_default} == brute


def test_2d_two_pass_correct_after_cache_eviction(spark, monkeypatch):
    """Regression (round-3 review): the two-pass prefix-min must stay
    correct when every cached intermediate is dropped between actions —
    the range-bucket assignment is literal-derived, not cache-fenced.
    Forced onto the relational fallback (the frontier default's survivor
    set is a local relation, immune to eviction by construction)."""
    from query_skyline_qos_flink_spark.operators import skyline as sky

    monkeypatch.setattr(sky, "_2D_FRONTIER_DRIVER_MAX_ROWS", -1)
    rng = np.random.default_rng(7)
    x = rng.permutation(5_000).astype(np.float64)
    y = 5_000.0 - x + rng.integers(-500, 500, size=5_000)
    pdf = pd.DataFrame({"x": x, "y": y})
    res = skyline(spark.createDataFrame(pdf).repartition(8), ["x", "y"])
    first = {tuple(r) for r in res.select("x", "y").collect()}
    spark.catalog.clearCache()  # evict everything mid-lifetime
    second = {tuple(r) for r in res.select("x", "y").collect()}
    assert first == second == _brute(pdf, ["x", "y"], [1, 1])


def test_2d_semi_join_is_broadcast(spark):
    """The 2-D path's final semi-join must carry the broadcast hint when
    the distinct-d0 bound is small — without it the join plans as
    SortMergeJoin and shuffles the whole input on float keys."""
    pdf = pd.DataFrame(
        {
            "id": range(500),
            "x": np.random.default_rng(3).random(500),
            "y": np.random.default_rng(4).random(500),
        }
    )
    res = skyline(spark.createDataFrame(pdf), ["x", "y"])
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:800]
    assert "SortMergeJoin" not in plan


def test_skyline_verify_count_catches_divergence(spark):
    """bench.py's 1M sizecheck probe: the non-dominated count vs a
    reference set equals the reference count iff the reference is exactly
    the skyline — a false survivor drops, a missed survivor adds."""
    from query_skyline_qos_flink_spark.operators.skyline import skyline_verify_count

    pdf = pd.DataFrame(
        {
            "id": range(400),
            "x": np.random.default_rng(11).random(400),
            "y": np.random.default_rng(12).random(400),
            "z": np.random.default_rng(13).random(400),
        }
    )
    df = spark.createDataFrame(pdf)
    res = skyline(df, ["x", "y", "z"])
    n_res = res.count()
    assert skyline_verify_count(df, ["x", "y", "z"], res) == n_res

    # false survivor: add a clearly-dominated point to the reference
    bad = spark.createDataFrame(
        pd.DataFrame({"id": [9999], "x": [2.0], "y": [2.0], "z": [2.0]})
    )
    assert skyline_verify_count(df, ["x", "y", "z"], res.union(bad)) == n_res

    # missed survivor: drop one reference row -> some input rows that it
    # dominated (and itself) now pass the verify, inflating the count
    trimmed = res.limit(n_res - 1)
    assert skyline_verify_count(df, ["x", "y", "z"], trimmed) > n_res - 1


def test_skyband_operator_matches_brute(spark):
    """Distributed two-phase skyband == single-pass brute force on a
    multi-partition input with duplicates and a MAX dimension."""
    import numpy as np
    import pandas as pd

    from query_skyline_qos_flink_spark.operators.skyline import skyband
    from query_skyline_qos_flink_spark.operators.skyline_kernel import (
        skyband_mask_brute,
    )

    rng = np.random.default_rng(3)
    n = 3000
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "x": rng.integers(0, 40, n).astype(float),
            "y": rng.integers(0, 40, n).astype(float),
            "z": rng.integers(0, 40, n).astype(float),
        }
    )
    df = spark.createDataFrame(pdf).repartition(8)
    k = 4
    out = skyband(df, ["x", "y", ("z", "max")], k=k).toPandas()

    pts = pdf[["x", "y"]].to_numpy()
    pts = np.column_stack([pts, -pdf["z"].to_numpy()])
    mask, counts = skyband_mask_brute(pts, k)
    expect = pdf.loc[mask].rid.to_numpy()
    assert sorted(out.rid) == sorted(expect)
    got = dict(zip(out.rid, out.n_dominators))
    for rid, cnt in zip(pdf.rid[mask], counts[mask]):
        assert got[rid] == cnt
    assert (out.n_dominators < k).all()


def test_skyband_k1_equals_skyline(spark):
    import numpy as np
    import pandas as pd

    from query_skyline_qos_flink_spark.operators.skyline import skyband, skyline

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {"rid": np.arange(800), "a": rng.normal(size=800), "b": rng.normal(size=800)}
    )
    df = spark.createDataFrame(pdf).repartition(4)
    band = skyband(df, ["a", "b"], k=1).toPandas()
    sky = skyline(df, ["a", "b"]).toPandas()
    assert sorted(band.rid) == sorted(sky.rid)
    assert (band.n_dominators == 0).all()


def test_top_dominating_matches_brute(spark):
    import numpy as np
    import pandas as pd

    from query_skyline_qos_flink_spark.operators.skyline import top_dominating

    rng = np.random.default_rng(9)
    n = 1500
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "x": rng.integers(0, 25, n).astype(float),
            "y": rng.integers(0, 25, n).astype(float),
            "z": rng.integers(0, 25, n).astype(float),
        }
    )
    df = spark.createDataFrame(pdf).repartition(7)
    out = top_dominating(df, ["x", "y", "z"], k=4, tie_cols=["rid"]).toPandas()

    pts = pdf[["x", "y", "z"]].to_numpy()
    scores = []
    for i in range(n):
        le = (pts[i] <= pts).all(axis=1)
        eq = (pts[i] == pts).all(axis=1)
        scores.append(int((le & ~eq).sum()))
    pdf["score"] = scores
    exp = pdf.sort_values(["score", "rid"], ascending=[False, True]).head(4)
    assert list(out.sort_values("rnk").rid) == list(exp.rid)
    assert list(out.sort_values("rnk").n_dominated) == list(exp.score)


def test_top_dominating_preserves_nullable_passthrough_types(spark):
    """The candidate Arrow round-trip must not let schema inference drift
    passthrough types: a NULL-bearing bigint stays bigint (not double —
    and exact beyond 2^53, where a pandas float64 detour would silently
    round), and an all-NULL string column survives (inference alone
    would fail)."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from query_skyline_qos_flink_spark.operators.skyline import top_dominating

    schema = StructType([
        StructField("rid", LongType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("tag", LongType(), True),
        StructField("note", StringType(), True),
    ])
    big = 9007199254740993  # 2^53 + 1: not float64-representable
    rows = [
        (0, 1.0, 9.0, None, None),
        (1, 2.0, 8.0, big, None),
        (2, 3.0, 7.0, None, None),
        (3, 4.0, 6.0, 11, None),
        (4, 5.0, 5.0, None, None),
    ]
    df = spark.createDataFrame(rows, schema).repartition(3)
    out = top_dominating(df, ["x", "y"], k=3, tie_cols=["rid"])
    assert dict((f.name, f.dataType) for f in out.schema.fields)["tag"] == LongType()
    # anti-correlated staircase: nobody dominates anybody -> all scores 0
    got = {(r.rid, r.n_dominated, r.tag) for r in out.collect()}
    assert got == {(0, 0, None), (1, 0, big), (2, 0, None)}


def test_skyband_groupwise_matches_per_group_brute(spark):
    import numpy as np
    import pandas as pd

    from query_skyline_qos_flink_spark.operators.skyline import skyband
    from query_skyline_qos_flink_spark.operators.skyline_kernel import (
        skyband_mask_brute,
    )

    rng = np.random.default_rng(21)
    n = 1200
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "g": rng.integers(0, 5, n),
            "x": rng.integers(0, 20, n).astype(float),
            "y": rng.integers(0, 20, n).astype(float),
        }
    )
    df = spark.createDataFrame(pdf).repartition(6)
    out = skyband(df, ["x", "y"], k=3, group_by=["g"]).toPandas()
    got = {(r.g, r.rid): r.n_dominators for r in out.itertuples()}
    expect = {}
    for g, sub in pdf.groupby("g"):
        mask, counts = skyband_mask_brute(sub[["x", "y"]].to_numpy(), 3)
        for rid, m, c in zip(sub.rid, mask, counts):
            if m:
                expect[(g, rid)] = c
    assert got == expect


def test_reverse_skyline_matches_brute(spark):
    import numpy as np
    import pandas as pd

    from query_skyline_qos_flink_spark.operators.skyline import reverse_skyline
    from query_skyline_qos_flink_spark.operators.skyline_kernel import (
        reverse_skyline_mask_brute,
    )

    rng = np.random.default_rng(17)
    n = 2000
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "x": rng.integers(0, 40, n).astype(float),
            "y": rng.integers(0, 40, n).astype(float),
        }
    )
    # force exact coordinate-duplicates AND a row exactly at q
    q = [20.0, 20.0]
    pdf.loc[1, ["x", "y"]] = pdf.loc[0, ["x", "y"]].to_numpy()
    pdf.loc[2, ["x", "y"]] = q
    df = spark.createDataFrame(pdf).repartition(7)

    got = sorted(
        r.rid for r in reverse_skyline(df, ["x", "y"], q, pool_size=64).collect()
    )
    exp_mask = reverse_skyline_mask_brute(pdf[["x", "y"]].to_numpy(), np.array(q))
    exp = sorted(pdf.rid[exp_mask])
    assert got == exp
    assert 2 in got  # the row at q is always in the reverse skyline


def test_reverse_skyline_max_direction_inert(spark):
    """|x - q| is invariant under simultaneous negation, so a MAX dim with
    a negated q coordinate gives the identical result."""
    import numpy as np
    import pandas as pd

    from query_skyline_qos_flink_spark.operators.skyline import reverse_skyline

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "rid": np.arange(300),
            "x": rng.integers(0, 30, 300).astype(float),
            "y": rng.integers(0, 30, 300).astype(float),
        }
    )
    df = spark.createDataFrame(pdf).repartition(3)
    a = sorted(r.rid for r in reverse_skyline(df, ["x", "y"], [10.0, 12.0]).collect())
    b = sorted(
        r.rid
        for r in reverse_skyline(df, ["x", ("y", "max")], [10.0, 12.0]).collect()
    )
    assert a == b


def test_reverse_skyline_compaction_path_matches_brute(spark, monkeypatch):
    """Force the distributed refutation path (whole-input driver gate off)
    and many buffer compactions + running-pool updates within one
    partition (_COMPACT_ROWS << partition size, pool << n): the bounded-
    state local phase plus exact verify must still match brute force."""
    from query_skyline_qos_flink_spark.operators import skyline as sky
    from query_skyline_qos_flink_spark.operators.skyline_kernel import (
        reverse_skyline_mask_brute,
    )

    counted, real = [], sky._broadcast_partial_counts

    def spy(*args):
        counted.append(args[3])
        return real(*args)

    monkeypatch.setattr(sky, "_DRIVER_INPUT_MAX_BYTES", -1)
    monkeypatch.setattr(sky, "_COMPACT_ROWS", 64)
    monkeypatch.setattr(sky, "_broadcast_partial_counts", spy)
    rng = np.random.default_rng(29)
    n = 3000
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "x": rng.integers(0, 35, n).astype(float),
            "y": rng.integers(0, 35, n).astype(float),
        }
    )
    q = [6.0, 30.0]
    df = spark.createDataFrame(pdf).coalesce(1)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        got = sorted(
            r.rid
            for r in sky.reverse_skyline(df, ["x", "y"], q, pool_size=32).collect()
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert len(counted) == 1 and counted[0] > 0  # one counting verify ran
    exp_mask = reverse_skyline_mask_brute(pdf[["x", "y"]].to_numpy(), np.array(q))
    assert got == sorted(pdf.rid[exp_mask])


def test_kdominant_skyline_matches_brute(spark, monkeypatch):
    from query_skyline_qos_flink_spark.operators import skyline as sky
    from query_skyline_qos_flink_spark.operators.skyline_kernel import (
        kdominant_mask_brute,
    )

    monkeypatch.setattr(sky, "_COMPACT_ROWS", 128)
    rng = np.random.default_rng(41)
    n = 2500
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "x": rng.integers(0, 20, n).astype(float),
            "y": rng.integers(0, 20, n).astype(float),
            "z": rng.integers(0, 20, n).astype(float),
            "u": rng.integers(0, 20, n).astype(float),
        }
    )
    df = spark.createDataFrame(pdf).repartition(5)
    for k in (3, 4):
        got = sorted(
            r.rid
            for r in sky.kdominant_skyline(
                df, ["x", "y", "z", "u"], k=k, pool_size=64
            ).collect()
        )
        exp_mask = kdominant_mask_brute(pdf[["x", "y", "z", "u"]].to_numpy(), k)
        assert got == sorted(pdf.rid[exp_mask]), k


def test_refutation_guard_names_operator(spark, monkeypatch):
    """Past _VERIFY_MAX_ROWS phase-1 candidates, the reverse and k-dominant
    skylines raise the one pre-collect guard of their shared refutation
    path, each naming itself."""
    from query_skyline_qos_flink_spark.operators import skyline as sky

    rng = np.random.default_rng(5)
    pts = rng.integers(0, 30, (400, 3)).astype(float)
    pts[:2] = 10.0  # rows AT q are always reverse-skyline candidates
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["x", "y", "z"]))
    monkeypatch.setattr(sky, "_DRIVER_INPUT_MAX_BYTES", -1)
    monkeypatch.setattr(sky, "_VERIFY_MAX_ROWS", 1)
    with pytest.raises(ValueError, match=r"^reverse_skyline: candidate set has"):
        sky.reverse_skyline(df, ["x", "y", "z"], [10.0, 10.0, 10.0])
    # k = d: the candidates hold the (nonempty) ordinary skyline
    with pytest.raises(ValueError, match=r"^kdominant_skyline: candidate set has"):
        sky.kdominant_skyline(df, ["x", "y", "z"], k=3)


def test_kdominant_k_equals_d_is_skyline(spark):
    import numpy as np
    import pandas as pd

    from query_skyline_qos_flink_spark.operators.skyline import (
        kdominant_skyline,
        skyline,
    )

    rng = np.random.default_rng(43)
    pdf = pd.DataFrame(
        {
            "rid": np.arange(800),
            "x": rng.integers(0, 30, 800).astype(float),
            "y": rng.integers(0, 30, 800).astype(float),
            "z": rng.integers(0, 30, 800).astype(float),
        }
    )
    df = spark.createDataFrame(pdf).repartition(3)
    a = sorted(r.rid for r in kdominant_skyline(df, ["x", "y", "z"], k=3).collect())
    b = sorted(r.rid for r in skyline(df, ["x", "y", "z"]).collect())
    assert a == b


def test_skyline_layers_matches_iterated_brute(spark):
    import numpy as np
    import pandas as pd

    from query_skyline_qos_flink_spark.operators.skyline import skyline_layers
    from query_skyline_qos_flink_spark.operators.skyline_kernel import (
        skyline_mask_brute,
    )

    rng = np.random.default_rng(47)
    n = 1200
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "x": rng.integers(0, 25, n).astype(float),
            "y": rng.integers(0, 25, n).astype(float),
        }
    )
    df = spark.createDataFrame(pdf).repartition(4)
    got = {
        (r.rid, r.layer)
        for r in skyline_layers(df, ["x", "y"], n_layers=3).collect()
    }
    exp = set()
    rest = pdf
    for layer in (1, 2, 3):
        mask = skyline_mask_brute(rest[["x", "y"]].to_numpy())
        sky = rest.loc[mask]
        exp |= {(rid, layer) for rid in sky.rid}
        keys = set(map(tuple, sky[["x", "y"]].to_numpy()))
        rest = rest.loc[[tuple(v) not in keys for v in rest[["x", "y"]].to_numpy()]]
    assert got == exp


def test_skycube_matches_naive_per_subset_with_ties(spark):
    """Lattice-reuse skycube == independent skyline per subspace, on data
    engineered to exercise the tie case the containment proof covers: a
    subspace-skyline point NOT in the full-space skyline but sharing its
    subspace projection with one (duplicate projections)."""
    from query_skyline_qos_flink_spark.operators.skyline import skycube

    rng = np.random.default_rng(7)
    base = rng.integers(0, 8, size=(120, 3)).astype(float)
    # duplicated projections: rows equal on (v0, v1) but split on v2 so one
    # is full-space dominated while both tie in the (v0, v1) subspace
    extra = np.array([[1.0, 1.0, 0.0], [1.0, 1.0, 9.0], [0.0, 5.0, 5.0],
                      [0.0, 5.0, 5.0]])
    pts = np.vstack([base, extra])
    pdf = pd.DataFrame(pts, columns=["v0", "v1", "v2"])
    pdf["rid"] = np.arange(len(pdf))
    df = spark.createDataFrame(pdf)
    dims = ["v0", "v1", "v2"]
    cube = skycube(df, dims).toPandas()
    assert set(cube.columns) == {"subspace", "v0", "v1", "v2", "rid"}
    for mask in range(1, 8):
        sub = [d for i, d in enumerate(dims) if mask & (1 << i)]
        want = set(skyline(df, sub).toPandas().rid)
        got = set(cube[cube.subspace == "+".join(sub)].rid)
        assert got == want, f"subspace {sub}: {got ^ want}"


def _prob_skyline_brute(pts, keys, tau):
    """Quadratic reference: per-instance product over other objects of
    (1 - dominating/size), object prob = mean over instances."""
    objs = sorted(set(keys))
    sz = {o: int((keys == o).sum()) for o in objs}
    out = {}
    for o in objs:
        idx = np.where(keys == o)[0]
        prs = []
        for i in idx:
            dom = (pts <= pts[i]).all(axis=1) & (pts != pts[i]).any(axis=1)
            p = 1.0
            for v in objs:
                if v == o:
                    continue
                p *= 1.0 - (dom & (keys == v)).sum() / sz[v]
            prs.append(p)
        out[o] = sum(prs) / sz[o]
    return {o: p for o, p in out.items() if round(p, 6) >= tau}


def test_prob_skyline_matches_brute_with_duplicates(spark):
    """prob_skyline == quadratic reference on data engineered with exact
    duplicate instances WITHIN an object (must both count), ACROSS
    objects (equal rows never dominate each other), and tie-heavy grids;
    run at two thresholds including one where some objects have prob 0."""
    from query_skyline_qos_flink_spark.operators.skyline import prob_skyline

    rng = np.random.default_rng(23)
    pts = rng.integers(0, 6, size=(90, 2)).astype(float)
    keys = rng.integers(0, 12, size=90)
    # duplicates within object 0 and across objects 1/2
    pts[:4] = [[2.0, 2.0], [2.0, 2.0], [1.0, 5.0], [1.0, 5.0]]
    keys[:4] = [0, 0, 1, 2]
    pdf = pd.DataFrame({"obj": keys, "v0": pts[:, 0], "v1": pts[:, 1]})
    df = spark.createDataFrame(pdf)
    for tau in (0.05, 0.4):
        want = _prob_skyline_brute(pts, keys, tau)
        got = {
            r.obj: r.p_r
            for r in prob_skyline(df, ["v0", "v1"], ["obj"], tau).collect()
        }
        assert set(got) == set(want), (tau, set(got) ^ set(want))
        for o in want:
            assert got[o] == round(want[o], 6), (o, got[o], want[o])


def test_prob_skyline_second_seed_matches_brute(spark):
    """A second random seed through the full two-phase schedule == the
    quadratic reference (complements the duplicate-heavy seed above)."""
    from query_skyline_qos_flink_spark.operators import skyline as sk

    rng = np.random.default_rng(47)
    pts = rng.integers(0, 6, size=(90, 2)).astype(float)
    keys = rng.integers(0, 12, size=90)
    pdf = pd.DataFrame({"obj": keys, "v0": pts[:, 0], "v1": pts[:, 1]})
    df = spark.createDataFrame(pdf)
    for tau in (0.05, 0.4):
        got = sorted(
            tuple(r) for r in sk.prob_skyline(df, ["v0", "v1"], ["obj"], tau).collect()
        )
        want = _prob_skyline_brute(pts, keys, tau)
        assert {o: p for o, _, p in got} == {
            o: round(p, 6) for o, p in want.items()
        }


def test_prob_skyline_validates_and_handles_empty(spark):
    from query_skyline_qos_flink_spark.operators.skyline import prob_skyline

    df = spark.createDataFrame([], "obj bigint, v0 double, v1 double")
    out = prob_skyline(df, ["v0", "v1"], ["obj"], 0.5)
    assert out.collect() == []
    assert out.columns == ["obj", "n_inst", "p_r"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        prob_skyline(df, ["v0", "v1"], ["obj"], 0.0)


def test_thick_skyline_matches_brute_and_flags_core(spark):
    from query_skyline_qos_flink_spark.operators.skyline import thick_skyline

    rng = np.random.default_rng(31)
    pts = rng.uniform(0, 10, size=(200, 2))
    pts[5] = pts[7]  # duplicate tuple on the frontier region
    pdf = pd.DataFrame({"rid": np.arange(200), "v0": pts[:, 0], "v1": pts[:, 1]})
    df = spark.createDataFrame(pdf)
    eps = (0.8, 0.8)
    out = thick_skyline(df, ["v0", "v1"], eps).toPandas()
    sky_mask = skyline_mask_brute(pts)
    sky_tuples = {tuple(p) for p in pts[sky_mask]}
    want = {
        i
        for i in range(200)
        if any(
            abs(pts[i][0] - s[0]) <= eps[0] and abs(pts[i][1] - s[1]) <= eps[1]
            for s in sky_tuples
        )
    }
    assert set(out.rid) == want
    core = set(out[out.is_core == 1].rid)
    assert core == {i for i in range(200) if tuple(pts[i]) in sky_tuples}
    assert core and len(want) > len(core)  # neighbors actually exist


def test_skycube_universe_excludes_nan_rows_everywhere(spark):
    """The cube universe is fixed once: a row NaN on ANY cube dim is
    excluded from EVERY subspace (documented; the containment proof needs
    one shared universe). Each subspace equals skyline() over that shared
    NaN-free universe — including subspaces the NaN row would have won."""
    from query_skyline_qos_flink_spark.operators.skyline import skycube

    # tuples, not pandas: pandas->Spark converts NaN to NULL; both NULL
    # and real NaN must behave identically under the policy, so one of each
    df = spark.createDataFrame(
        [(1, 0.0, float("nan")), (2, 1.0, 1.0), (3, 2.0, 0.5), (4, 0.5, None)],
        "rid bigint, v0 double, v1 double",
    )
    cube = skycube(df, ["v0", "v1"]).toPandas()
    valid = df.where("v1 IS NOT NULL AND NOT isnan(v1)")
    for sub, lbl in (["v0"], "v0"), (["v1"], "v1"), (["v0", "v1"], "v0+v1"):
        want = set(skyline(valid, sub).toPandas().rid)
        got = set(cube[cube.subspace == lbl].rid)
        assert got == want, (lbl, got, want)
    assert not {1, 4} & set(cube.rid)  # NaN/NULL rows never appear


def test_prob_skyline_includes_objects_rounding_up_to_threshold(spark):
    """Regression: the phase-1 slack must cover the 6-dp rounding contract
    — an object with true probability 2/3 = 0.6666... must be included at
    threshold 0.666667 (its rounded value), not dropped by a too-tight
    internal filter."""
    from query_skyline_qos_flink_spark.operators.skyline import prob_skyline

    pdf = pd.DataFrame(
        {
            "obj": [1, 2, 2, 2],
            "v0": [5.0, 1.0, 9.0, 9.5],
            "v1": [5.0, 1.0, 9.0, 9.5],
        }
    )
    # obj 1's single instance is dominated by 1 of obj 2's 3 instances:
    # Pr = 1 - 1/3 = 0.666666..., rounds to 0.666667
    df = spark.createDataFrame(pdf)
    out = {r.obj: r.p_r for r in prob_skyline(df, ["v0", "v1"], ["obj"], 0.666667).collect()}
    assert out.get(1) == 0.666667, out


def _verify_passes_above_cache(df) -> int:
    """MapInPandas nodes between ``df``'s root and its topmost cached
    relation (the persisted phase-1 candidates): the verify passes."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan, plan
    return plan.split("InMemoryRelation")[0].count("MapInPandas")


def test_chunked_broadcast_verify_matches_bounded_path(spark):
    """Survivor volumes past _VERIFY_MAX_ROWS take the distributed verify
    with several broadcast slices (one pass meets every slice) instead
    of a single-task merge: forcing a tiny bound must reproduce the
    bounded path's skyline EXACTLY, row for row, in ONE verify pass."""
    from query_skyline_qos_flink_spark.operators import skyline as sky
    from query_skyline_qos_flink_spark.sources.generators import points

    df = points(spark, 50_000, 3, "anti_correlated", domain=10000, seed=7)
    full = sorted(tuple(r) for r in sky.skyline(df, ["v0", "v1", "v2"]).collect())
    old = sky._VERIFY_MAX_ROWS
    try:
        sky._VERIFY_MAX_ROWS = 500  # survivors >> 500 -> many slices
        res = sky.skyline(df, ["v0", "v1", "v2"])
        chunked = sorted(tuple(r) for r in res.collect())
    finally:
        sky._VERIFY_MAX_ROWS = old
    assert len(full) > 500  # the forced bound actually engaged the path
    assert chunked == full
    assert _verify_passes_above_cache(res) == 1


def test_chunked_verify_retains_duplicates_and_survives_empty_chunks(spark, monkeypatch):
    """An all-duplicates corpus through the forced multi-slice path: the
    strict test must keep every tie (duplicate-retention policy) whatever
    slice each copy lands in.  Slices are cut by position, not by a dim
    hash (r10 verdict: a dim hash collapsed this corpus into ONE
    oversized chunk), so every slice holds at most _VERIFY_MAX_ROWS rows
    and together they partition the candidates.  An empty reference is
    a no-op, not a crash."""
    from query_skyline_qos_flink_spark.operators import skyline as sky

    dup = spark.createDataFrame(
        [(i, 1.0, 2.0) for i in range(2000)], "id long, a double, b double"
    )
    cut, real = [], sky._stride_slices

    def spy(arr, ssum):
        out = real(arr, ssum)
        cut.append((arr, out))
        return out

    monkeypatch.setattr(sky, "_stride_slices", spy)
    monkeypatch.setattr(sky, "_VERIFY_MAX_ROWS", 100)
    out = sky._merge_survivors(dup, ["a", "b"])
    assert out.count() == 2000
    (arr, slices), = cut
    assert arr.shape == (2000, 2)
    assert len(slices) == 20
    assert all(len(s) <= 100 and len(ss) == len(s) for s, ss in slices)
    assert sum(len(s) for s, _ in slices) == 2000
    assert (np.concatenate([s for s, _ in slices]) == arr).all()
    # on distinct rows the slices are a partition: every row exactly once
    pts = np.arange(4000, dtype=np.float64).reshape(2000, 2)
    parts = real(pts, pts.sum(axis=1))
    rows = [tuple(r) for s, _ in parts for r in s]
    assert len(rows) == 2000 and set(rows) == {tuple(r) for r in pts}

    empty = dup.limit(0)
    assert sky._broadcast_verify(dup, ["a", "b"], ref=empty).count() == 2000


def test_chunked_skyband_all_duplicates_splits_buckets(spark):
    """The all-duplicates corpus through the forced multi-slice counting
    path: stride slices stay bounded by construction and the one
    counting pass must be exact (duplicates never dominate, so every row
    survives with count 0)."""
    from query_skyline_qos_flink_spark.operators import skyline as sky

    dup = spark.createDataFrame(
        [(i, 1.0, 2.0) for i in range(3000)], "id long, a double, b double"
    )
    old = sky._VERIFY_MAX_ROWS
    try:
        sky._VERIFY_MAX_ROWS = 200  # union 3000 -> 15 slices of one value
        out = sky.skyband(dup, ["a", "b"], k=2)
        assert out.count() == 3000
    finally:
        sky._VERIFY_MAX_ROWS = old


def test_broadcast_verify_fast_paths_requalify_per_batch(spark):
    """r10 ADVICE (medium): ``_broadcast_verify`` decided the f32 and
    exact-sum fast paths from ``ref`` ALONE; with an external reference
    (chunked merge, verify probes) a qualifying ref against a
    non-qualifying candidate silently corrupted the comparison.  Both
    directions must now re-qualify per candidate batch."""
    from query_skyline_qos_flink_spark.operators import skyline as sky

    # f32 direction: ref value float32(0.1) is f32-exact; candidate 0.1
    # is not.  In f64 ref.a > cand.a -> no domination -> the candidate
    # SURVIVES; casting the candidate to f32 (the old bug) made the
    # values equal and dropped it.
    r = float(np.float32(0.1))
    ref = spark.createDataFrame([(r, 1.0)], "a double, b double")
    cand = spark.createDataFrame([(0.1, 2.0)], "a double, b double")
    assert len(sky._broadcast_verify(cand, ["a", "b"], ref=ref).collect()) == 1

    # exact-sum direction: integral ref (4, 0) strictly dominates
    # candidate (4, 1e-45), but their COMPUTED f64 sums tie (4.0 + 1e-45
    # == 4.0), so the strict-sum shortcut (valid only when both sides'
    # sums are exact) would keep the dominated row.
    ref2 = spark.createDataFrame([(4.0, 0.0)], "a double, b double")
    cand2 = spark.createDataFrame([(4.0, 1e-45)], "a double, b double")
    assert len(sky._broadcast_verify(cand2, ["a", "b"], ref=ref2).collect()) == 0


def test_chunked_skyband_counts_match_bounded_path(spark):
    """Candidate unions past _VERIFY_MAX_ROWS ship as several broadcast
    slices met in one counting pass (dominator counts are additive over
    a partition of the union; rows early-drop at running count >= k).
    A forced tiny bound must reproduce the bounded path's band AND exact
    dominator counts row for row, in ONE verify pass; a union past
    _TREE_FANOUT x bound still raises."""
    import pytest

    from query_skyline_qos_flink_spark.operators import skyline as sky
    from query_skyline_qos_flink_spark.sources.generators import points

    df = points(spark, 60_000, 3, "anti_correlated", domain=10000, seed=11)
    full = sorted(tuple(r) for r in sky.skyband(df, ["v0", "v1", "v2"], k=3).collect())
    old = sky._VERIFY_MAX_ROWS
    try:
        sky._VERIFY_MAX_ROWS = 1000  # union ~24.7k -> 25 slices
        res = sky.skyband(df, ["v0", "v1", "v2"], k=3)
        chunked = sorted(tuple(r) for r in res.collect())
    finally:
        sky._VERIFY_MAX_ROWS = old
    assert len(full) > 1000  # the forced bound actually engaged the path
    assert chunked == full  # membership AND counts identical
    assert _verify_passes_above_cache(res) == 1

    try:
        sky._VERIFY_MAX_ROWS = 10  # fanout cap: 32 x 10 << union
        with pytest.raises(ValueError, match="candidate union"):
            sky.skyband(df, ["v0", "v1", "v2"], k=3).count()
    finally:
        sky._VERIFY_MAX_ROWS = old


def test_skyline_layers_single_pass_matches_peel_fallback(spark):
    """Round 16: the single-pass (local K-peel + exact candidate layering)
    plan must return exactly what the per-layer peel loop returns — ties,
    NaN policy, max dims and all."""
    import numpy as np
    import pandas as pd

    from query_skyline_qos_flink_spark.operators.skyline import (
        _skyline_layers_peel,
        skyline_layers,
    )

    rng = np.random.default_rng(53)
    n = 900
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "x": rng.integers(0, 12, n).astype(float),  # heavy ties
            "y": rng.normal(size=n),
            "z": rng.integers(0, 30, n).astype(float),
        }
    )
    pdf.loc[rng.random(n) < 0.05, "y"] = np.nan
    df = spark.createDataFrame(pdf).repartition(5)
    dims = [("x", "min"), ("y", "max"), ("z", "min")]
    got = {
        (r.rid, r.layer)
        for r in skyline_layers(df, dims, n_layers=4).collect()
    }
    exp = {
        (r.rid, r.layer)
        for r in _skyline_layers_peel(df, dims, n_layers=4).collect()
    }
    assert got == exp


# Gate settings (_DRIVER_VERIFY_MAX_ROWS, _VERIFY_MAX_ROWS, a helper only
# that path calls) that force each non-default global-merge path on the
# parity corpus below; None keeps the default / checks nothing.  Sizes on
# that corpus: skyline phase-1 union 82 rows (8 survivors), skyband k=3
# union 241 (34 members), skycube full-space skyline 8 rows with one
# subspace label past 300 local survivors.
_SLICES = "_stride_slices"
_GATE_PATHS = {
    # driver off -> one-slice distributed verify; tiny bound -> tree
    # merge + several slices
    "skyline": {"broadcast": (0, None, None), "chunked": (0, 20, _SLICES)},
    # several slices: 241 > 60 and within the 32 x bound raise limit
    "skyband": {"broadcast": (0, None, None), "chunked": (0, 60, _SLICES)},
    # the band comes from the same verify
    "top_dominating": {
        "broadcast": (0, None, None),
        "chunked": (0, 60, _SLICES),
    },
    # broadcast: full-space distributed merge + grouped per-label merge;
    # labels: a label past the bound takes the per-label skyline merge
    # (only that branch of _LabelSkylines.distributed calls
    # _merge_survivors; the full-space merge calls _skyline_merge);
    # chunked: full-space skyline past the bound -> per-subspace loop
    "skycube": {
        "broadcast": (0, None, None),
        "labels": (0, 100, "_merge_survivors"),
        "chunked": (0, 4, _SLICES),
    },
    # candidate set past the bound -> per-layer peel loop (each layer's
    # skyline has at most 113 phase-1 rows, so its merge stays on the
    # driver)
    "skyline_layers": {"peel": (None, 120, "_skyline_layers_peel")},
}


@pytest.mark.parametrize("op", list(_GATE_PATHS))
def test_driver_verify_gate_parity(spark, monkeypatch, op):
    """Every global-merge path of the skyline family returns the rows of
    the default (driver-side) path: candidate sets at or below
    _DRIVER_VERIFY_MAX_ROWS finish on the driver, larger ones take the
    distributed verify, whose candidates ship as one broadcast slice per
    _VERIFY_MAX_ROWS rows (or the operator's oversized fallback runs).
    Forced by shrinking the gates; covers duplicates, ties, max dims and
    the NaN policy."""
    from query_skyline_qos_flink_spark.operators import skyline as sky

    rng = np.random.default_rng(77)
    n = 3000
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "x": rng.integers(0, 40, n).astype(float),  # ties + duplicates
            "y": rng.normal(size=n),
            "z": rng.integers(0, 9, n).astype(float),
        }
    )
    pdf.loc[rng.random(n) < 0.04, "y"] = np.nan
    df = spark.createDataFrame(pdf).repartition(7)
    dims = [("x", "min"), ("y", "max"), ("z", "min")]
    run = {
        "skyline": lambda: sky.skyline(df, dims),
        "skyband": lambda: sky.skyband(df, dims, k=3),
        "top_dominating": lambda: sky.top_dominating(
            df, dims, k=3, tie_cols=["rid"]
        ),
        "skycube": lambda: sky.skycube(df, dims),
        "skyline_layers": lambda: sky.skyline_layers(df, dims, n_layers=3),
    }[op]

    # driver path actually engaged at the default gate for this size
    assert n <= sky._DRIVER_VERIFY_MAX_ROWS
    default = sorted(tuple(r) for r in run().collect())
    assert default

    for path, (driver_max, verify_max, engaged) in _GATE_PATHS[op].items():
        calls = []
        with monkeypatch.context() as m:
            if driver_max is not None:
                m.setattr(sky, "_DRIVER_VERIFY_MAX_ROWS", driver_max)
            if verify_max is not None:
                m.setattr(sky, "_VERIFY_MAX_ROWS", verify_max)
            if engaged is not None:

                def spy(*a, real=getattr(sky, engaged), **kw):
                    out = real(*a, **kw)
                    calls.append(out)
                    return out

                m.setattr(sky, engaged, spy)
            forced = sorted(tuple(r) for r in run().collect())
        assert forced == default, (op, path)
        # the forced gates actually engaged the path
        assert engaged is None or calls, (op, path)
        if path == "chunked":
            # ... and cut the candidates into more than one slice
            assert max(len(s) for s in calls) > 1, (op, path)


def test_whole_input_driver_path_parity(spark, monkeypatch):
    """Round 16: the whole-input driver fast path (plan-stats-gated collect
    + identical kernels on the driver) must match the distributed
    composition row for row on every filter-then-verify operator."""
    import numpy as np
    import pandas as pd

    from query_skyline_qos_flink_spark.operators import skyline as sky

    rng = np.random.default_rng(99)
    n = 4000
    pdf = pd.DataFrame(
        {
            "rid": np.arange(n),
            "obj": rng.integers(0, 700, n),
            "x": rng.integers(0, 50, n).astype(float),
            "y": rng.normal(size=n),
            "z": rng.integers(0, 7, n).astype(float),
        }
    )
    pdf.loc[rng.random(n) < 0.03, "y"] = np.nan
    df = spark.createDataFrame(pdf).repartition(6)
    dims = [("x", "min"), ("y", "max"), ("z", "min")]

    def runs():
        return {
            "skyband": sorted(tuple(r) for r in sky.skyband(df, dims, k=4).collect()),
            "topdom": sorted(
                tuple(r)
                for r in sky.top_dominating(df, dims, k=3, tie_cols=["rid"]).collect()
            ),
            "reverse": sorted(
                tuple(r)
                for r in sky.reverse_skyline(df, dims, [25.0, 0.0, 3.0]).collect()
            ),
            "kdom": sorted(
                tuple(r) for r in sky.kdominant_skyline(df, dims, k=2).collect()
            ),
            "prob": sorted(
                tuple(r)
                for r in sky.prob_skyline(df, dims, ["obj"], 0.3).collect()
            ),
        }

    driver = runs()
    monkeypatch.setattr(sky, "_DRIVER_INPUT_MAX_BYTES", -1)
    monkeypatch.setattr(sky, "_DRIVER_INPUT_MAX_ROWS", -1)
    monkeypatch.setattr(sky, "_DRIVER_VERIFY_MAX_ROWS", -1)
    dist = runs()
    for op in driver:
        assert driver[op] == dist[op], op


def test_skyline_passthrough_column_with_special_name(spark):
    """Round-17 regression: _prep's batched selectExpr must backtick-quote
    passthrough column names — a raw `a-b` parses as SQL arithmetic."""
    pdf = pd.DataFrame({"a-b": [10, 20, 30], "x": [1.0, 2.0, 3.0], "y": [3.0, 2.0, 1.0]})
    res = skyline(spark.createDataFrame(pdf), ["x", "y"])
    rows = sorted((r["a-b"], r["x"], r["y"]) for r in res.collect())
    assert rows == [(10, 1.0, 3.0), (20, 2.0, 2.0), (30, 3.0, 1.0)]
