"""Data-layout operators — Z-order (Morton) clustering keys.

At 100 TB the dominant cost of most queries is the scan, and the scan
cost is governed by layout: files clustered so that each file covers a
small hyper-rectangle of the frequently-filtered dimensions let min/max
file statistics prune most of the data for multi-dimensional predicates
(the technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``).  The Morton
key interleaves the bits of the bucketized dimensions, so sorting (or
range-partitioning) by it yields exactly that tiling.

Everything here is closed-form integer bit arithmetic — identical in
Spark and duckdb (``>>``, ``&``, ``<<`` on BIGINT), so layout decisions
are oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, functions as F


def zorder_key(cols: Sequence[Column], bits: int = 16) -> Column:
    """Morton-interleave ``bits`` low bits of each integer column into one
    BIGINT: bit i of column j lands at position ``i * n_cols + j``.
    Columns must already be bucketized to [0, 2^bits) — the caller owns
    the bucketing (modulo, quantile bucket, epoch-day, ...)."""
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed BIGINT")
    out = F.lit(0).cast("bigint")
    for j, c in enumerate(cols):
        for i in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(c.cast("bigint"), i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return out


def zorder_key_sql(col_exprs: Sequence[str], bits: int = 16) -> str:
    """duckdb twin of :func:`zorder_key` (same bit placement)."""
    n = len(col_exprs)
    terms = [
        f"(((CAST({e} AS BIGINT) >> {i}) & 1) << {i * n + j})"
        for j, e in enumerate(col_exprs)
        for i in range(bits)
    ]
    return "(" + " | ".join(terms) + ")"


def range_bucket(col: str, bounds: Sequence[float]) -> Column:
    """Range-bucket id of ``col`` against ascending literal ``bounds``:
    the number of boundaries strictly below the value (0 for every row
    when there are none).  ONE parsed expression,
    ``size(filter(array(<bounds>), b -> b < col))``: a chained
    ``when().otherwise()`` sum nests one conditional per boundary, which
    Catalyst walks quadratically (~4x the whole query at 32 buckets,
    measured), and a lit-by-lit array costs ~2 py4j round trips per
    boundary.  CAST-from-repr round-trips each double exactly."""
    if not bounds:
        return F.lit(0)
    arr = ",".join(f"CAST('{float(b)!r}' AS DOUBLE)" for b in bounds)
    return F.expr(f"size(filter(array({arr}), b -> b < `{col}`))")
