"""Small-file compaction — rewrite a parquet dataset into right-sized
files.

The 100 TB ingestion reality: streaming sinks and micro-batch writers
leave thousands of KB-scale files per partition; every downstream scan
then pays file-open + footer-read per file, and the driver pays
listing. Compaction rewrites a dataset into files near a target size —
the OPTIMIZE primitive of table formats, expressed with plain Spark.

Scale notes: sizing uses the FILESYSTEM byte total (driver-side
listing, no data read), not a count() job; the rewrite is one
repartition shuffle (round-robin — preserves nothing but is the
cheapest full-rewrite) or ``repartitionByRange`` on sort keys to
co-locate ranges while compacting (feeds z-order/bucketing layouts,
sources/zorder.py). Parquet compression typically keeps output file
sizes near the input ratio since both are parquet-encoded.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def dataset_file_stats(path: str) -> dict:
    """Driver-side listing: parquet data file count + byte total."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return {"n_files": n, "total_bytes": total}


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    range_cols: list[str] | None = None,
) -> dict:
    """Rewrite the parquet dataset at ``src`` into ``dst`` with file
    sizes near ``target_file_bytes``. ``range_cols`` switches to
    range-partitioned compaction (sorted-ish layout for downstream
    min/max pruning). Returns a before/after report dict.

    ``dst`` must not equal or live inside ``src``: the overwrite sink
    truncates ``dst`` before the lazy scan of ``src`` runs, so
    compaction-in-place here would destroy the data being compacted.
    In-place compaction goes through a temp dir + atomic
    swap — the streaming/upsert.py pattern."""
    real_src = os.path.realpath(src)
    real_dst = os.path.realpath(dst)
    if (
        real_dst == real_src
        or (real_dst + os.sep).startswith(real_src + os.sep)
        or (real_src + os.sep).startswith(real_dst + os.sep)
    ):
        raise ValueError(
            f"compact_parquet dst ({dst!r}) overlaps src ({src!r}): the "
            "overwrite would truncate the source before it is read. "
            "Write to a sibling path, then swap."
        )
    before = dataset_file_stats(src)
    n_out = max(1, math.ceil(before["total_bytes"] / target_file_bytes))
    df: DataFrame = spark.read.parquet(src)
    if range_cols:
        out = df.repartitionByRange(n_out, *range_cols)
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(dst)
    after = dataset_file_stats(dst)
    return {
        "n_files_before": before["n_files"],
        "n_files_after": after["n_files"],
        "bytes_before": before["total_bytes"],
        "bytes_after": after["total_bytes"],
        "target_file_bytes": target_file_bytes,
    }
