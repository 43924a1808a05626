"""Sequence packing — concat-and-chunk document layout for pretraining.

Packing assigns every document a position in one global token stream
(documents concatenated in id order) and a sequence id (the
``budget``-token chunk its first token lands in) — the standard
concat-then-split layout a pretraining data loader consumes.  The core
is a GLOBAL ordered cumulative sum, which a naive
``Window.partitionBy().orderBy(id)`` would funnel through one task; at
100 TB that single task is the whole job.

Scale shape (same two-pass trick as the relational 2-D skyline,
``operators/skyline.py``): derive literal range boundaries for the order
column once driver-side (approxQuantile — ANY boundary choice is
correct, it only balances work), compute per-range local cumsums in
parallel windows, then broadcast the per-range totals' prefix sums back
as offsets.  No stage ever holds more than one range; the only global
window runs over ~numShufflePartitions rows.

Determinism: pure integer arithmetic over a unique order column —
bit-exact under any partitioning, engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .layout import range_bucket


def ordered_cumsum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    out_col: str = "cumsum",
    n_ranges: int | None = None,
) -> DataFrame:
    """Inclusive running sum of ``val_col`` in global ``order_col`` order,
    without a single-task global window.  ``order_col`` must be unique
    (it defines the stream order); values must be integral."""
    spark = df.sparkSession
    if n_ranges is None:
        n_ranges = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # pass 0: literal boundaries — feeding the SAME literals to both the
    # local-window subplan and the offsets aggregate means the range
    # assignment cannot diverge between plan instantiations (no reliance
    # on exchange reuse; see skyline.py's identical construction)
    bounds = sorted(
        set(
            df.stat.approxQuantile(
                order_col, [i / n_ranges for i in range(1, n_ranges)], 0.001
            )
        )
    )
    # ascending buckets: __pid order == order_col range order
    ranged = df.withColumn("__pid", range_bucket(order_col, bounds))
    w = Window.partitionBy("__pid").orderBy(order_col)
    local = ranged.withColumn(
        "__lc", F.sum(val_col).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    offs = (
        ranged.groupBy("__pid")
        .agg(F.sum(val_col).alias("__s"))
        .withColumn(
            "__off",
            F.sum("__s").over(
                Window.partitionBy()
                .orderBy("__pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select("__pid", "__off")
    )
    return (
        local.join(F.broadcast(offs), "__pid")
        .withColumn(
            out_col,
            (F.col("__lc") + F.coalesce(F.col("__off"), F.lit(0))).cast("bigint"),
        )
        .drop("__pid", "__lc")
    )


def pack_sequences(
    df: DataFrame, id_col: str, len_col: str, budget: int
) -> DataFrame:
    """Assign each document its packed position: ``seq_offset`` (where its
    first token lands in the concatenated stream, 0-based) and ``seq_id``
    (the ``budget``-sized chunk containing that first token; documents may
    span chunk boundaries, as in standard pretraining packing)."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    c = ordered_cumsum(df, id_col, len_col, "__cum")
    return c.select(
        *df.columns,
        (F.col("__cum") - F.col(len_col)).cast("bigint").alias("seq_offset"),
        F.expr(f"(__cum - {len_col}) div {budget}").cast("bigint").alias("seq_id"),
    )
