"""Streaming anomaly scoring — per-key expanding z-score.

North-star §2.10: score each event against the key's OWN history
(how unusual is this value for this user?) without a model artifact.
The batch twin (`expanding_zscore`) is a window over prior rows —
SQL-oracle-checkable; the streaming form keeps (n, mean, M2) Welford
state per key, O(1) memory per key regardless of history length, and
scores each event against state-before-it, which is exactly the batch
twin's ROWS UNBOUNDED PRECEDING .. 1 PRECEDING frame.

Scale: state is three doubles per key — 10⁹ keys ≈ 24 GB across the
cluster's state stores; no watermark-dependent growth. The batch twin
is one window shuffle per key column.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def expanding_zscore(
    df: DataFrame,
    key: str,
    ts_col: str,
    val_col: str,
    id_col: str,
    round_dp: int = 4,
) -> DataFrame:
    """Batch twin: z = (x − mean(prior)) / stddev_samp(prior) over the
    (ts, id) order within each key; null until ≥2 prior values and
    positive spread. Deterministic tie-break via id_col."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(key)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_prior = F.count(val_col).over(w)
    mean_p = F.avg(val_col).over(w)
    std_p = F.stddev_samp(val_col).over(w)
    # engine-independent rounding (functions/rounding.py — same rule as
    # quantize_int8 and the streaming scorer's Python twin)
    from ..functions.rounding import round_floor

    raw = (F.col(val_col) - mean_p) / std_p
    z = F.when(
        (n_prior >= 2) & (std_p > 0),
        round_floor(raw, round_dp),
    )
    return df.select(id_col, key, val_col, z.alias("zscore"))


def _zscore_func_factory(ts_col: str, val_col: str, id_col: str, round_dp: int):
    import math

    import numpy as np
    import pandas as pd

    scale = float(10**round_dp)

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        batches = [p for p in pdfs if len(p)]
        if not batches:
            return
        batch = pd.concat(batches, ignore_index=True) if len(batches) > 1 else batches[0]
        batch = batch.sort_values([ts_col, id_col], kind="mergesort")

        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        ids, zs = [], []
        for x in batch[val_col].astype(float).values:
            if n >= 2 and m2 > 0:
                std = (m2 / (n - 1)) ** 0.5
                # same floor(x·10^dp + 0.5) rule as the batch twin —
                # Python round() is banker's half-even and diverges from
                # Spark/DuckDB on exact .5 ties
                zs.append(
                    math.floor((x - mean) / std * scale + 0.5) / scale
                    if std > 0
                    else None
                )
            else:
                zs.append(None)
            # Welford update AFTER scoring: prior-only semantics
            n += 1
            d = x - mean
            mean += d / n
            m2 += d * (x - mean)
        state.update((int(n), float(mean), float(m2)))
        out = pd.DataFrame(
            {id_col: batch[id_col].values, "zscore": pd.array(zs, dtype="Float64")}
        )
        yield out

    return update


def streaming_zscore(
    stream: DataFrame,
    key: str,
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    round_dp: int = 4,
) -> DataFrame:
    """Stateful streaming form: (id_col, zscore) per event. Equivalent
    to :func:`expanding_zscore` when events arrive in event-time order
    per key (guaranteed within one availableNow batch by the in-batch
    sort; across micro-batches by upstream ordering, as with any
    sequence-sensitive stateful op). The output id column keeps the
    input's type — derived from the stream schema, not hardcoded."""
    id_type = stream.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, zscore double"
    state_schema = "n long, mean double, m2 double"
    return (
        stream.select(key, ts_col, val_col, id_col)
        .filter(F.col(val_col).isNotNull())
        .groupBy(key)
        .applyInPandasWithState(
            _zscore_func_factory(ts_col, val_col, id_col, round_dp),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
