"""Cleaning operators (SURVEY.md §2 P3/P4/A6/F1/F6/F8).

Reference: ``src/preprocessing/clean_data.py`` — missing-value handling,
time-column coercion, dedup, IP conversion, and the per-dataset cleaning
chain ``clean_all_datasets`` (``clean_data.py:71-105``).

Everything stays a lazy DataFrame transform; the null-count "gate" the
reference runs eagerly (``clean_data.py:19``) would be an extra full scan
at 100 TB, so here it's not performed — ``na.drop`` is a no-op on clean
data anyway and costs nothing extra inside the same scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ip import ip_to_int
from ..functions.time import to_timestamp_coerce


def handle_missing_values(
    df: DataFrame, column_name: str, strategy: str = "drop"
) -> DataFrame:
    """P3 (``clean_data.py:14-26``). 'drop' filters nulls in the column;
    'impute' is implemented (mean-impute) rather than the reference's
    warning stub.
    """
    if column_name not in df.columns:
        return df
    if strategy == "drop":
        return df.na.drop(subset=[column_name])
    if strategy == "impute":
        # mean imputation without a second pass over the data at plan
        # build time: window-less scalar agg via a broadcast cross join.
        mean_df = df.select(F.avg(F.col(column_name)).alias("__mean"))
        return (
            df.crossJoin(F.broadcast(mean_df))
            .withColumn(column_name, F.coalesce(F.col(column_name), F.col("__mean")))
            .drop("__mean")
        )
    raise ValueError(f"unknown strategy: {strategy}")


def convert_time_columns(df: DataFrame, time_columns: Sequence[str]) -> DataFrame:
    """F1 (``clean_data.py:28-35``): string → timestamp, invalid → NULL."""
    for col in time_columns:
        if col in df.columns:
            df = df.withColumn(col, to_timestamp_coerce(col))
    return df


def remove_duplicates(df: DataFrame) -> DataFrame:
    """A6 (``clean_data.py:37-42``): full-row distinct, one hash-aggregate
    shuffle on all columns."""
    return df.dropDuplicates()


def convert_ip_to_int_column(
    df: DataFrame, ip_column: str, new_int_column: str
) -> DataFrame:
    """F6 (``clean_data.py:63-69``) as a columnar expression — the
    reference's ``Series.apply`` escape is eliminated.
    """
    if ip_column not in df.columns:
        return df
    return df.withColumn(new_int_column, ip_to_int(ip_column))


def clean_transactions(
    df: DataFrame,
    *,
    required_column: str | None = None,
    time_columns: Sequence[str] = (),
    ip_column: str | None = None,
    ip_int_column: str = "ip_address_int",
    dedup: bool = True,
) -> DataFrame:
    """The fraud-dataset cleaning chain (``clean_data.py:76-82``):
    null-drop → time coercion → dedup → ip→int. One composed lazy plan;
    Catalyst fuses the projections into the scan.
    """
    if required_column:
        df = handle_missing_values(df, required_column, "drop")
    if time_columns:
        df = convert_time_columns(df, time_columns)
    if dedup:
        df = remove_duplicates(df)
    if ip_column:
        df = convert_ip_to_int_column(df, ip_column, ip_int_column)
    return df
