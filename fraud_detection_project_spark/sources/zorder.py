"""Z-order (Morton) clustering — multi-dimensional data-skipping layout.

Partition/sort by ONE column and parquet row-group min/max stats prune
scans on that column only; predicates on a second column read
everything. Interleaving the bits of two (normalized) sort keys gives a
1-D order in which file/row-group bounding boxes stay tight in BOTH
dimensions — the layout trick behind Delta/Iceberg ``OPTIMIZE ZORDER
BY``, reproduced here with plain DataFrame expressions.

Everything is JVM column arithmetic (shift/mask/or — whole-stage
codegen): one tiny min/max aggregate to normalize, then
``repartitionByRange`` on the Morton code (one range shuffle, same cost
as any global sort-write) + ``sortWithinPartitions`` so every written
file covers a compact Z-curve segment. ``tests/test_sources.py``
measures the per-file bounding boxes against a single-column sort.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interleave_bits(x: Column, y: Column) -> Column:
    """Morton code of two non-negative ints already in [0, 2^16):
    bit i of x → bit 2i, bit i of y → bit 2i+1."""
    parts = []
    for i in range(16):
        parts.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        parts.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def zorder_by(
    df: DataFrame,
    col1: str,
    col2: str,
    num_files: int | None = None,
) -> DataFrame:
    """Return ``df`` re-ordered along the Z-curve of (col1, col2), ready
    to write: each output partition (→ parquet file) covers a compact
    range of the Morton code, so min/max stats are tight in both dims.

    Normalization is linear min→max into 2^16 levels via one
    broadcast one-row aggregate — rank-based (quantile) normalization
    would equalize cell populations under skew at the cost of a
    pre-pass; linear is the right default for roughly uniform keys.
    """
    stats = df.agg(
        F.min(col1).alias("mn1"),
        F.max(col1).alias("mx1"),
        F.min(col2).alias("mn2"),
        F.max(col2).alias("mx2"),
    )

    lvl = (1 << 16) - 1

    def norm(c: str, mn: str, mx: str) -> Column:
        span = F.col(mx) - F.col(mn)
        scaled = F.when(
            span > 0,
            (F.col(c) - F.col(mn)).cast("double") / span.cast("double") * lvl,
        ).otherwise(F.lit(0.0))
        return F.least(F.floor(scaled).cast("long"), F.lit(lvl))

    z = interleave_bits(norm(col1, "mn1", "mx1"), norm(col2, "mn2", "mx2"))
    out = df.crossJoin(F.broadcast(stats)).withColumn("__z", z).drop(
        "mn1", "mx1", "mn2", "mx2"
    )
    n = num_files or out.sparkSession.sparkContext.defaultParallelism
    return (
        out.repartitionByRange(n, "__z").sortWithinPartitions("__z").drop("__z")
    )
