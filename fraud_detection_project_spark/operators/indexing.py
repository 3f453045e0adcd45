"""Global dense indexing — ROW_NUMBER over a total order WITHOUT the
single-partition sort.

``F.row_number().over(Window.orderBy(...))`` funnels the entire dataset
through ONE task — the textbook scale cliff (a 100 TB sort on one
executor). The scalable equivalent:

1. ``repartitionByRange`` on the order columns (Spark's sampled range
   partitioner — the same machinery a global sort uses) and sort within
   partitions; ``localCheckpoint`` pins the partitioning so the two
   passes below see identical layouts (the range partitioner samples,
   so re-execution is not guaranteed bit-stable otherwise);
2. per-partition row counts (one tiny aggregate over partition ids) →
   cumulative offsets, broadcast back;
3. an Arrow ``mapInPandas`` pass emits ``offset[pid] + local_position``
   — order within a partition is preserved by the sorted checkpoint.

Result: index ≡ rank in the total order, every partition works in
parallel, and the only driver data is |partitions| counts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dense_global_index(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """0-based dense global index by the total order ``order_cols``
    (which must be a total order — include a unique tie-breaker).
    Equivalent to ``ROW_NUMBER() OVER (ORDER BY order_cols) - 1`` with
    no single-partition stage."""
    import pandas as pd

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    rp = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in rp.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt

    out_schema = rp.drop("__pid").schema.add(out_col, "long")
    cols = [f.name for f in out_schema.fields]

    def kernel(batches):
        pos = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            start = pos.get(pid, offsets[pid])
            pdf = pdf.drop(columns="__pid")
            pdf[out_col] = range(start, start + len(pdf))
            pos[pid] = start + len(pdf)
            yield pd.DataFrame(pdf, columns=cols)

    return rp.mapInPandas(kernel, out_schema)


def partitioned_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str | Sequence[str],
    out_col: str | Sequence[str] = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """``SUM(value) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING
    AND CURRENT ROW)`` with NO single-partition stage — the textbook
    two-phase distributed scan:

    1. range-partition on ``order_cols`` (must be a total order —
       include a unique tie-breaker if values repeat) and sort within
       partitions; ``localCheckpoint`` pins the sampled layout;
    2. per-partition value sums (one |partitions|-row aggregate) →
       exclusive prefix offsets, broadcast back;
    3. an Arrow ``mapInPandas`` pass emits
       ``offset[pid] + local_cumsum`` — every partition scans in
       parallel, and the only driver traffic is |partitions| sums.

    Replaces the ``Window.orderBy(...)`` running sum that funnels the
    whole dataset through ONE task.
    Integral value columns accumulate as int64, everything else as
    float64.

    ``value_col``/``out_col`` also take SEQUENCES (matched pairwise) so
    several running sums share ONE range shuffle + scan — the
    ECDF-style callers (KS, CvM, Jonckheere–Terpstra, average
    precision) cumulate 2-4 counters over the same total order and
    would otherwise pay the two-phase layout once per column.
    """
    import pandas as pd

    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vcols) != len(ocols):
        raise ValueError("value_col and out_col lengths differ")
    # schema.add on a colliding name creates a duplicate
    # field and the pandas kernel silently overwrites the input column.
    if len(set(ocols)) != len(ocols):
        raise ValueError(f"out_col names must be distinct: {ocols}")
    clash = sorted(set(ocols) & set(df.columns))
    if clash:
        raise ValueError(
            f"out_col names already exist in the input schema: {clash}"
        )

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    integral = {
        v: df.schema[v].dataType.simpleString()
        in ("tinyint", "smallint", "int", "bigint")
        for v in vcols
    }
    rp = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    psums = sorted(
        (r["__pid"], tuple(r[f"s_{v}"] for v in vcols))
        for r in rp.groupBy("__pid")
        .agg(*[F.sum(v).alias(f"s_{v}") for v in vcols])
        .collect()
    )
    offsets: dict[int, tuple] = {}
    acc = [0 if integral[v] else 0.0 for v in vcols]
    for pid, sums in psums:
        offsets[pid] = tuple(acc)
        for i, s in enumerate(sums):
            acc[i] += s if s is not None else 0

    out_schema = rp.drop("__pid").schema
    for v, o in zip(vcols, ocols):
        out_schema = out_schema.add(o, "long" if integral[v] else "double")
    cols = [f.name for f in out_schema.fields]

    def kernel(batches):
        carried = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            starts = carried.get(pid, offsets[pid])
            pdf = pdf.drop(columns="__pid")
            lasts = []
            for (v, o), start in zip(zip(vcols, ocols), starts):
                run = start + pdf[v].fillna(0).cumsum()
                pdf[o] = run.astype("int64") if integral[v] else run
                lasts.append(run.iloc[-1])
            carried[pid] = tuple(lasts)
            yield pd.DataFrame(pdf, columns=cols)

    return rp.mapInPandas(kernel, out_schema)


def partitioned_prefix_extreme(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "cummax",
    exclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """``MAX(value) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING [AND 1 PRECEDING])`` with NO single-partition stage —
    the prefix-extreme sibling of :func:`partitioned_prefix_sum`
    (same two-phase layout: range-partition + sort, per-partition
    extremes to the driver (|partitions| rows), Arrow kernel emits the
    carried running extreme).  ``exclusive=True`` shifts the frame to
    END 1 PRECEDING (the first row of the total order gets NULL) —
    the shape skyline/dominance queries need.  Emits float64.

    NULL values contribute nothing to the running extreme and INHERIT
    it (SQL MAX() OVER semantics): the inclusive extreme is
    forward-filled inside each Arrow batch and the cross-batch carry is
    always the last non-NaN inclusive extreme, so a batch ending on a
    NULL can no longer drop the running extreme.  Rows before the first
    non-NULL value (inclusive) / the first row (exclusive) emit NULL."""
    import math

    import pandas as pd

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    rp = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    pext = sorted(
        (r["__pid"], r["e"])
        for r in rp.groupBy("__pid").agg(F.max(value_col).alias("e")).collect()
    )
    offsets, acc = {}, -math.inf
    for pid, e in pext:
        offsets[pid] = acc  # extreme of all PRECEDING partitions
        if e is not None:
            acc = max(acc, e)

    out_schema = rp.drop("__pid").schema.add(out_col, "double")
    cols = [f.name for f in out_schema.fields]

    def kernel(batches):
        carried = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            start = carried.get(pid, offsets[pid])
            pdf = pdf.drop(columns="__pid")
            v = pdf[value_col].astype("float64")
            # pandas cummax leaves NaN at null positions and (via clip)
            # a trailing NaN would poison the batch carry — forward-fill
            # the inclusive extreme, seeding NULL-prefix rows with the
            # carried start
            inc = v.cummax().ffill().fillna(start).clip(lower=start)
            if exclusive:
                run = inc.shift(1)
                run.iloc[0] = start
            else:
                run = inc
            pdf[out_col] = run.replace([math.inf, -math.inf], math.nan)
            carried[pid] = inc.iloc[-1]
            yield pd.DataFrame(pdf, columns=cols)

    return rp.mapInPandas(kernel, out_schema)
