"""Skyline run metrics — the reference's observability surface, batch-exact.

The reference's global aggregator emits per-query metrics: skyline size,
the Optimality pruning-quality ratio and a latency decomposition
(``/root/reference/java/org.main/FlinkSkyline.java:574-650``).  Optimality
(``FlinkSkyline.java:590-608``): for each partition,
``ratio = |global-skyline rows originating from it| / |its local skyline|``;
``Optimality = sum(ratios) / P`` (never-reporting partitions count 0).

:func:`partition_stats` returns the integer-valued building blocks
``(strategy, pid, local_size, survivors)`` — one row per strategy and
non-empty spatial partition — from which both skyline_size
(= sum(survivors)) and Optimality (= sum(survivors/local_size)/P) derive.
Integer outputs make the duckdb oracle comparison exact (no
float-summation-order hazards).

The global skyline does not depend on the partitioning: the skyline of a
union is the skyline of the union of its parts' local skylines.  And a
row's pid is a function of its values and the domain.  So ``survivors``
is the ungrouped :func:`..skyline.skyline` result, computed once, tagged
with each strategy's pid expression after the merge; only ``local_size``
needs a per-partition pass.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from .partitioners import partition_id
from .skyline import _grouped_skyline, _prep, skyline


def partition_stats(
    df: DataFrame,
    dims: Sequence,
    strategies: Sequence[str],
    num_partitions: int = 8,
    domain: float | Column | None = None,
) -> DataFrame:
    """(strategy, pid, local_size, survivors) per strategy and non-empty
    spatial partition of ``df`` over ``dims``.

    ``domain=None`` derives the domain from the data, max(dims[0]) (the
    reference's fixed ``--domain`` default silently collapses MR-Dim when
    mis-set, SURVEY.md §2.1): one aggregate job, shared by every strategy.

    One lazy local pass serves every strategy: each input row is
    repeated once per strategy with that strategy's pid, then one
    ``groupBy(strategy, pid)`` skyline pass (the reference's keyBy)
    sizes every local skyline.  The survivors are the global skyline,
    whose merge is parallel (the reference merges on a single thread,
    ``FlinkSkyline.java:548-566``, its own bottleneck at 4-D
    anti-correlated scale, PDF §5.5)."""
    dim_names = [d if isinstance(d, str) else d[0] for d in dims]
    base = df.select(*dim_names)
    if domain is None:
        mx = base.agg(F.max(F.col(dim_names[0]).cast("double"))).first()[0]
        domain = F.lit(mx).cast("double")
    tags = F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("strategy"),
                    partition_id(s, dim_names, num_partitions, domain).alias("pid"),
                )
                for s in strategies
            ]
        )
    )
    prepped, prep_cols = _prep(base, dims)
    local_in = prepped.select(tags, *prep_cols)
    local_sizes = (
        local_in.groupBy("strategy", "pid")
        .applyInPandas(_grouped_skyline(prep_cols), schema=local_in.schema)
        .groupBy("strategy", "pid")
        .agg(F.count(F.lit(1)).alias("local_size"))
    )
    survivors = (
        skyline(base, dims)
        .select(tags)
        .groupBy("strategy", "pid")
        .agg(F.count(F.lit(1)).alias("survivors"))
    )
    return local_sizes.join(survivors, ["strategy", "pid"], "left").select(
        "strategy",
        F.col("pid").cast("int").alias("pid"),
        F.col("local_size").cast("bigint").alias("local_size"),
        F.coalesce(F.col("survivors"), F.lit(0)).cast("bigint").alias("survivors"),
    )


def skyline_partition_stats(
    df: DataFrame,
    dims: Sequence,
    strategy: str = "dim",
    num_partitions: int = 8,
    domain: float | Column | None = None,
) -> DataFrame:
    """(pid, local_size, survivors) per non-empty spatial partition: the
    one-strategy projection of :func:`partition_stats`."""
    return partition_stats(df, dims, [strategy], num_partitions, domain).drop("strategy")


def optimality(stats: DataFrame, num_partitions: int) -> DataFrame:
    """Scalar Optimality from :func:`skyline_partition_stats` output
    (float; kept out of the oracle-compared surface by design).  The
    survivors/local_size ratios are folded left to right in pid order,
    so the last bits depend only on the integer stats, not on the row
    order of whatever physical plan produced them."""
    ratio = (F.col("survivors") / F.col("local_size")).alias("r")
    ratios = F.array_sort(F.collect_list(F.struct("pid", ratio)))
    total = F.aggregate(ratios, F.lit(0.0), lambda acc, x: acc + x["r"])
    return stats.agg(
        (total / F.lit(float(num_partitions))).alias("optimality"),
        F.sum("survivors").alias("skyline_size"),
    )
