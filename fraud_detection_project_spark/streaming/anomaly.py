"""Anomaly scoring — per-key expanding z-score.

North-star §2.10: score each event against the key's OWN history
(how unusual is this value for this user?) without a model artifact.
`expanding_zscore` is a window over prior rows (ROWS UNBOUNDED
PRECEDING .. 1 PRECEDING) — SQL-oracle-checkable, one window shuffle
per key column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def expanding_zscore(
    df: DataFrame,
    key: str,
    ts_col: str,
    val_col: str,
    id_col: str,
) -> DataFrame:
    """z = (x − mean(prior)) / stddev_samp(prior) over the (ts, id)
    order within each key, rounded half-up to 4 dp; null until ≥2 prior
    values and positive spread. Deterministic tie-break via id_col."""
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
    # quantize_int8)
    from ..functions.rounding import round_floor

    raw = (F.col(val_col) - mean_p) / std_p
    z = F.when(
        (n_prior >= 2) & (std_p > 0),
        round_floor(raw, 4),
    )
    return df.select(id_col, key, val_col, z.alias("zscore"))
