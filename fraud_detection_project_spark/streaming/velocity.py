"""Exact per-event trailing-window velocity over an unbounded stream.

Incremental form of the reference's W1 feature
(``src/preprocessing/transform_data.py:59-65``): for every event, the
number of *other* events by the same entity in the trailing window
``(t - W, t]`` — the same semantics as the batch operator
:func:`fraud_detection_project_spark.operators.windows.rolling_count_24h`,
computed per micro-batch with keyed state instead of a sort.

Design (Spark-first):

- ``groupBy(key).applyInPandasWithState``: state is hash-partitioned by
  key across executors — the same shuffle the batch window performs,
  amortized per micro-batch. Arrow-batched pandas, no row-at-a-time
  Python.
- State per key = the event timestamps still inside the trailing window
  of the newest event seen (epoch seconds, sorted int64 array). Memory
  is O(events-per-key-per-24h); for exact semantics this is the
  information-theoretic minimum — any correct implementation must
  remember which events may still fall in a future event's window. For
  hot keys where that bound is too big, use the discretized
  ``sliding_event_counts`` (streaming/windows.py) instead.
- Idle-key cleanup via event-time timeout: a key whose newest event has
  fallen ``W`` behind the watermark can never influence a future count,
  so its state is dropped. State size is therefore bounded by *active*
  keys only, independent of stream length.
- Late data within the watermark is handled exactly (events are merged
  into state in event-time order before counting); data later than the
  watermark is dropped by the engine, same as every watermarked
  stateful operator.

Counting within a micro-batch is vectorized:
``np.searchsorted(ts, ts - W, side='right')`` gives, for each event,
how many known same-key events fall in ``(t - W, t]`` in O(n log n) —
no per-row Python loop.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


def _velocity_func_factory(
    key_col: str, ts_col: str, out_col: str, window_seconds: int
):
    """Build the per-key state-update function.

    Returned callable has the ``applyInPandasWithState`` contract:
    ``(key, iter[pdf], GroupState) -> iter[pdf]``.
    """
    import numpy as np
    import pandas as pd

    window_ns = int(window_seconds) * 1_000_000_000

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        if state.hasTimedOut:
            # newest event is > W behind the watermark: no future event's
            # window can reach it — drop the key's state entirely.
            state.remove()
            return
        batches = [pdf for pdf in pdfs if len(pdf)]
        if not batches:
            return
        batch = pd.concat(batches, ignore_index=True) if len(batches) > 1 else batches[0]

        new_ts = batch[ts_col].values.astype("datetime64[ns]").astype("int64")
        if state.exists:
            (old_list,) = state.get
            old_ts = np.asarray(old_list, dtype="int64")
        else:
            old_ts = np.empty(0, dtype="int64")

        all_ts = np.concatenate([old_ts, new_ts])
        all_ts.sort(kind="stable")
        # events in (t - W, t] for each new event, minus the event itself
        lo = np.searchsorted(all_ts, new_ts - window_ns, side="right")
        hi = np.searchsorted(all_ts, new_ts, side="right")
        counts = hi - lo - 1

        max_ts = int(all_ts[-1])
        keep = all_ts[all_ts > max_ts - window_ns]
        state.update((keep.tolist(),))
        # key becomes evictable once the watermark passes max_ts + W
        state.setTimeoutTimestamp(max_ts // 1_000_000 + window_seconds * 1000)

        out = batch.copy()
        out[out_col] = counts.astype("int64")
        yield out

    return update


def streaming_velocity(
    stream: DataFrame,
    key: str,
    ts_col: str = "ts",
    out_col: str = "velocity_24h",
) -> DataFrame:
    """Per-event trailing-24h same-key event count (excluding the event
    itself) over a streaming DataFrame with a 1-hour watermark on
    ``ts_col``. All input columns pass through, plus ``out_col`` — so
    this composes with further enrichment/scoring stages downstream.

    Batch oracle: ``rolling_count_24h(df, key, ts, out_col)`` — tests
    assert the streamed output equals the batch window on the same data.
    """
    out_schema = StructType(
        list(stream.schema.fields) + [StructField(out_col, LongType(), True)]
    )
    state_schema = StructType([StructField("ts_ns", ArrayType(LongType()), True)])
    func = _velocity_func_factory(key, ts_col, out_col, 86400)
    return (
        stream.withWatermark(ts_col, "1 hour")
        .groupBy(F.col(key))
        .applyInPandasWithState(
            func,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
