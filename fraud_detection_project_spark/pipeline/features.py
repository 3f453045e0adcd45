"""Fraud feature engineering (reference ``transform_data.py:49-67``).

F2-F5 time features + the three W1 trailing-24h velocity features, as
one composed lazy plan. All column expressions are JVM-side (no Python
UDFs); the only shuffles are the three window partitionings — at 100 TB
those are the unavoidable cost of per-entity ordering, and each is an
independent hash partition that AQE sizes from runtime stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.time import day_of_week, hour_of_day, time_since_hours, time_since_seconds
from ..operators.windows import velocity_features

VELOCITY_KEYS = {
    "user_transactions_24h": "user_id",
    "device_transactions_24h": "device_id",
    "ip_transactions_24h": "ip_address",
}


def engineer_fraud_features(df: DataFrame) -> DataFrame:
    """``engineer_fraud_features`` (``transform_data.py:49-67``) over a
    cleaned frame whose ``purchase_time`` and ``signup_time`` are already
    timestamps (``clean_transactions`` coerces them):

    - ``hour_of_day``  (F2, ``.dt.hour``)
    - ``day_of_week``  (F3, Monday=0 — pandas ``.dt.dayofweek`` parity)
    - ``time_since_signup_seconds``/``_hours`` (F4/F5)
    - three trailing-24h same-entity counts (W1), pandas
      ``closed='right'`` boundary semantics, for the key columns present.

    The reference's global pre-sort (``transform_data.py:59``) is not
    needed: each window spec carries its own intra-partition ordering.
    """
    df = (
        df.withColumn("hour_of_day", hour_of_day("purchase_time"))
        .withColumn("day_of_week", day_of_week("purchase_time"))
        .withColumn(
            "time_since_signup_seconds", time_since_seconds("purchase_time", "signup_time")
        )
        .withColumn(
            "time_since_signup_hours", time_since_hours("purchase_time", "signup_time")
        )
    )
    keys = {out: k for out, k in VELOCITY_KEYS.items() if k in df.columns}
    return velocity_features(df, F.unix_timestamp(F.col("purchase_time")), keys)
