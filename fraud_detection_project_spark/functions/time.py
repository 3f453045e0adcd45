"""Time feature functions (SURVEY.md §2 F1-F5).

Reference: ``src/preprocessing/transform_data.py:51-57`` —
hour-of-day, day-of-week (pandas convention Monday=0), seconds/hours
since signup; ``clean_data.py:28-35`` — coercing string→timestamp.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_timestamp_coerce(col: Column | str) -> Column:
    """``pd.to_datetime(errors='coerce')`` equivalent: invalid → NULL.

    Uses try_to_timestamp so behavior is NULL-on-failure even under ANSI.
    """
    return F.try_to_timestamp(_c(col))


def hour_of_day(col: Column | str) -> Column:
    """0-23 (``transform_data.py:54``; pandas ``.dt.hour``)."""
    return F.hour(_c(col))


def day_of_week(col: Column | str) -> Column:
    """Monday=0 … Sunday=6 — pandas ``.dt.dayofweek`` convention
    (``transform_data.py:55``). F.weekday is the exact Spark match;
    NOT F.dayofweek (Sunday=1).
    """
    return F.weekday(_c(col))


def time_since_seconds(later: Column | str, earlier: Column | str) -> Column:
    """``(later - earlier).dt.total_seconds()`` (``transform_data.py:56``).

    Double-cast subtraction keeps sub-second precision.
    """
    return _c(later).cast("double") - _c(earlier).cast("double")


def time_since_hours(later: Column | str, earlier: Column | str) -> Column:
    """Seconds/3600 (``transform_data.py:57``)."""
    return time_since_seconds(later, earlier) / F.lit(3600.0)
