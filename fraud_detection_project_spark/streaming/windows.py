"""Watermarked windowed aggregations over an event stream.

Incremental re-expression of the reference's time-bucketed aggregates
(SURVEY.md §2.4-2.5) for unbounded input: tumbling / sliding event
counts per key with late-data handling via ``withWatermark``.

Scale notes: windowed streaming aggregation is hash-partitioned by
(key, window) into the state store — the same shuffle the batch groupBy
performs, amortized per micro-batch. The watermark bounds state size:
windows older than (max event time − delay) are finalized and evicted,
so state is O(keys × windows-in-flight), independent of stream length.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _watermarked(df: DataFrame) -> DataFrame:
    """A streaming frame gets a 1-hour watermark on ``ts``; a batch
    frame passes through (same plan shape otherwise)."""
    return df.withWatermark("ts", "1 hour") if df.isStreaming else df


def tumbling_event_counts(
    stream: DataFrame,
    keys: Sequence[str],
    window: str = "1 hour",
) -> DataFrame:
    """Per-key event counts in non-overlapping ``ts`` buckets.

    Works on both streaming and batch frames (same plan shape either
    way) — the batch form is the oracle for the streaming form in tests.
    """
    return (
        _watermarked(stream)
        .groupBy(F.window(F.col("ts"), window).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts(
    stream: DataFrame,
    keys: Sequence[str],
    window: str = "24 hours",
    slide: str = "1 hour",
) -> DataFrame:
    """Per-key counts over overlapping windows — the incremental
    approximation of W1 (``transform_data.py:59-65``): the trailing-24h
    entity velocity, discretized to ``slide`` granularity. Each event
    lands in window/slide overlapping buckets (24 for 24h/1h); state per
    key is bounded by the watermark.

    For *exact* per-event trailing counts (no discretization) use
    :func:`fraud_detection_project_spark.streaming.velocity.streaming_velocity`.
    """
    return (
        _watermarked(stream)
        .groupBy(F.window(F.col("ts"), window, slide).alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            *keys,
            "n_events",
        )
    )
