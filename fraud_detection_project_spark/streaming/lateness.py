"""Streaming out-of-order / lateness auditor with keyed state.

Incremental twin of the batch ``event_lateness_profile`` query
(queries.py): for every event, how far BEHIND the per-key running-max
event time it arrived — the live measurement a pipeline uses to tune
its watermark delay (the batch query's one-shot recommendation,
``watermark_recommendation``, is the offline form).

Design (Spark-first):

- ``groupBy(key).applyInPandasWithState``: state per key is a SINGLE
  int64 — the max event time seen so far — hash-partitioned by key like
  any keyed aggregate.  8 bytes per key means state never needs
  eviction to stay bounded; an event-time timeout is still installed so
  keys idle past the watermark horizon are dropped.
- Within a micro-batch the group's rows are sorted by the ARRIVAL
  column (ties by an id column) and the running max is vectorized
  (``numpy.maximum.accumulate`` shifted by one) — no per-row Python.
- Exactness across micro-batches requires the source to deliver in
  arrival order, which a file stream over arrival-time-ordered files
  gives; replays re-emit the same answers because state mutation is
  idempotent for a replayed prefix (max is monotone).

Output: one row per event with ``lateness_us >= 0`` (0 = in order) and
``is_late`` — streaming append mode, memory/parquet-sink friendly.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


def _lateness_func_factory(key_col: str):
    import numpy as np
    import pandas as pd

    def update(
        key: Any, pdfs: Iterable["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["arr_us", "event_id"], kind="mergesort")
        ts = pdf["ts_us"].to_numpy(dtype="int64")
        prior = np.empty_like(ts)
        if len(ts):
            run = np.maximum.accumulate(ts)
            prior[0] = state.get[0] if state.exists else np.iinfo("int64").min
            if len(ts) > 1:
                prior[1:] = np.maximum(run[:-1], prior[0])
            new_max = max(int(run[-1]), int(prior[0]))
            state.update((new_max,))
            # once a key has been quiet for an hour past the watermark
            # its 8-byte state is reclaimed; a reappearing key simply
            # restarts its running max.
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 3_600_000)
        late = np.maximum(prior - ts, 0)
        late[prior == np.iinfo("int64").min] = 0
        yield pd.DataFrame(
            {
                key_col: pdf[key_col].to_numpy(),
                "event_id": pdf["event_id"].to_numpy(),
                "lateness_us": late.astype("int64"),
                "is_late": (late > 0),
            }
        )

    return update


def late_event_audit(
    stream_df: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Per-event lateness against the per-key running-max event time.

    ``stream_df`` must carry a timestamp event-time column ``ts``, a
    timestamp ARRIVAL column ``arr`` (what the 1-hour watermark tracks
    — arrival order is the order the auditor replays), a unique
    ``event_id`` for deterministic tie-breaking, and the key.
    """
    out_schema = StructType(
        [
            StructField(key_col, LongType()),
            StructField("event_id", LongType()),
            StructField("lateness_us", LongType()),
            StructField("is_late", BooleanType()),
        ]
    )
    state_schema = StructType([StructField("max_ts_us", LongType())])
    prepared = (
        stream_df.withWatermark("arr", "1 hour")
        .select(
            F.col(key_col),
            F.col("event_id").cast("long").alias("event_id"),
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.unix_micros(F.col("arr")).alias("arr_us"),
            F.col("arr"),
        )
    )
    return prepared.groupBy(key_col).applyInPandasWithState(
        _lateness_func_factory(key_col),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def batch_lateness_oracle(
    df: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Batch twin: lateness via one per-key window in arrival order —
    the same shape as the registered ``event_lateness_profile``."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(F.unix_micros(F.col("arr")), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = df.select(
        F.col(key_col),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("arr"),
    )
    return base.withColumn(
        "prior_max", F.max("ts_us").over(w)
    ).select(
        key_col,
        "event_id",
        F.greatest(
            F.coalesce(F.col("prior_max") - F.col("ts_us"), F.lit(0)), F.lit(0)
        ).alias("lateness_us"),
        (
            F.coalesce(F.col("prior_max") - F.col("ts_us"), F.lit(0)) > 0
        ).alias("is_late"),
    )
