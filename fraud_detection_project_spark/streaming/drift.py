"""Streaming drift detection — per-key Page-Hinkley monitor.

North-star §2.10: alarm when a key's value stream drifts upward from
its own running mean (payment inflation, sensor drift, data-pipeline
regression) with O(1) state per key.  The batch twin is pure
cumulative-window arithmetic — the same recurrence the registered
``page_hinkley_daily`` query states in SQL over the daily frame — so
the streaming form is value-checkable against a window plan on
identical rows.

State per key is four scalars (n, Σx, m, min m): 32 bytes — 10⁹ keys
≈ 32 GB across the cluster's state stores, with no watermark-dependent
growth; alarms are emitted per event (append mode), not on state
eviction, so the monitor is usable as a realtime gate.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window


def page_hinkley_batch(
    df: DataFrame,
    key: str,
    ts_col: str,
    val_col: str,
    id_col: str,
    lam: float,
) -> DataFrame:
    """Batch twin: per (ts, id)-ordered event within each key, the
    Page-Hinkley cumulative deviation ``m_t = Σ_{i≤t}(x_i − x̄_i)``
    (x̄_i the running mean INCLUDING x_i), its running minimum, the PH
    statistic ``m_t − min_{i≤t} m_i``, and the alarm flag vs ``lam``.
    All windows are partitioned by the key — no global ordering
    anywhere."""
    w = (
        Window.partitionBy(key)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cm = F.avg(val_col).over(w)
    with_dev = df.select(
        key, ts_col, id_col, val_col,
        (F.col(val_col) - cm).alias("__dev"),
    )
    with_m = with_dev.select(
        key, ts_col, id_col, F.sum("__dev").over(w).alias("m")
    )
    with_ph = with_m.select(
        id_col,
        key,
        "m",
        (F.col("m") - F.min("m").over(w)).alias("ph"),
    )
    return with_ph.select(
        id_col, key, "m", "ph", (F.col("ph") > lam).alias("alarm")
    )


def _ph_func_factory(
    key_col: str, ts_col: str, val_col: str, id_col: str, lam: float,
):
    import pandas as pd

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        batches = [p for p in pdfs if len(p)]
        if not batches:
            return
        batch = (
            pd.concat(batches, ignore_index=True)
            if len(batches) > 1
            else batches[0]
        )
        batch = batch.sort_values([ts_col, id_col], kind="mergesort")

        n, s, m, mmin = (
            state.get if state.exists else (0, 0.0, 0.0, float("inf"))
        )
        ms, phs, alarms = [], [], []
        for x in batch[val_col].astype(float).values:
            # mirror the batch twin's arithmetic exactly: running mean
            # as Σx/n (window AVG), not a Welford update
            n += 1
            s += x
            m += x - s / n
            if m < mmin:
                mmin = m
            ph = m - mmin
            ms.append(m)
            phs.append(ph)
            alarms.append(ph > lam)
        state.update((int(n), float(s), float(m), float(mmin)))
        yield pd.DataFrame(
            {
                id_col: batch[id_col].values,
                key_col: [key[0]] * len(ms),
                "m": ms,
                "ph": phs,
                "alarm": alarms,
            }
        )

    return update


def streaming_page_hinkley(
    stream: DataFrame,
    key: str,
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    lam: float = 500.0,
) -> DataFrame:
    """Stateful streaming form: (id_col, key, m, ph, alarm) per event.
    Equivalent to :func:`page_hinkley_batch` when events arrive in
    event-time order per key (within one availableNow batch the
    in-batch sort guarantees it; across micro-batches, upstream
    ordering — the same contract as streaming_zscore)."""
    id_type = stream.schema[id_col].dataType.simpleString()
    key_type = stream.schema[key].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, {key} {key_type}, m double, ph double,"
        " alarm boolean"
    )
    state_schema = "n long, s double, m double, mmin double"
    return (
        stream.select(key, ts_col, val_col, id_col)
        .filter(F.col(val_col).isNotNull())
        .groupBy(key)
        .applyInPandasWithState(
            _ph_func_factory(key, ts_col, val_col, id_col, lam),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
