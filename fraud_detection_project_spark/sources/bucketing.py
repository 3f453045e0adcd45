"""Bucketed / partitioned storage layouts.

Why this matters at 100 TB: a fact⋈fact equi-join (e.g. orders ⋈
lineitem on orderkey) shuffles BOTH sides every query. Writing both
tables bucketed by the join key with the same bucket count makes the
join a zero-shuffle SortMergeJoin — Catalyst recognizes the matching
`HashPartitioning(output)` from the bucket spec and drops the
Exchange on each side. The shuffle is paid once at write time,
amortized over every subsequent join/aggregation on that key.

Partitioned writes (`write_partitioned`) give static + dynamic
partition pruning on the partition column (e.g. event date) — a scan
with a date predicate reads only matching directories.

Bucketing requires the table catalog (``saveAsTable``): the bucket
spec lives in table metadata, not in the parquet files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    ``sort_cols`` additionally sorts within buckets, letting the
    sort-merge join skip its per-task sort. Choose ``num_buckets`` so a
    bucket at target scale is ~100-200 MB (e.g. 100 TB / 512 buckets /
    partitions); both sides of a co-located join MUST use the same
    bucket count and key.
    """
    writer = df.write.format("parquet").mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Directory-partitioned write → partition pruning on
    ``partition_cols`` for every subsequent scan with a predicate on
    them (static at plan time, dynamic at runtime via DPP).

    File-layout knobs for the 100 TB regime:

    - ``sort_cols``: ``sortWithinPartitions(partition_cols + sort_cols)``
      before the write. Sorting by the partition column first means each
      task writes each partition directory once (not one open file per
      partition per task — the classic small-files explosion); the
      trailing sort keys cluster values so parquet min/max row-group
      stats actually skip data on point/range predicates.
    - ``max_records_per_file``: caps file size so a skewed partition
      (one hot day) still splits into parallel-scannable files.
    """
    if sort_cols:
        df = df.sortWithinPartitions(*partition_cols, *sort_cols)
    w = df.write.format("parquet").mode("overwrite")
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.partitionBy(*partition_cols).save(path)


def cluster_for_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Transient alternative to persisted buckets: co-partition both
    sides on the join keys so the subsequent join (and any further
    groupBy on the same keys) reuses one partitioning instead of
    shuffling twice. Use when the join is repeated within a job but the
    tables aren't worth persisting bucketed."""
    n = partitions or left.sparkSession.conf.get("spark.sql.shuffle.partitions")
    n = int(n)
    return left.repartition(n, *keys), right.repartition(n, *keys)
