"""Streaming deduplication — the dedup family's unbounded-input form.

Batch A6 (``clean_data.py:37-42``) is ``dropDuplicates``; on a stream
that would keep every key ever seen in state. The watermark-bounded
variant keeps a key only until the watermark passes its event time plus
the delay — state is O(keys-per-watermark-window), independent of
stream length, at the cost of admitting re-emissions for duplicates
farther apart than the watermark delay (exactly the Spark
``dropDuplicatesWithinWatermark`` contract).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def dedup_stream(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Keyed dedup over a stream under a 1-hour watermark on ``ts_col``
    (or, transparently, a batch frame — the batch form is the test
    oracle for duplicates within the watermark horizon)."""
    if not stream.isStreaming:
        return stream.dropDuplicates(list(keys))
    return stream.withWatermark(ts_col, "1 hour").dropDuplicatesWithinWatermark(
        list(keys)
    )
