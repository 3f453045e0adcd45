"""Stream-stream joins with watermark-bounded state.

North-star §2.10 extension: the batch engine's interval join
(operators/joins.py) re-expressed for two unbounded inputs — e.g.
correlating a purchase stream with an error stream per user inside a
time envelope (the fraud "action shortly after signal" pattern).

Why the time-range predicate matters: a stream-stream equi-join alone
would buffer BOTH streams forever. With watermarks on both sides AND a
range condition between their event times, Spark derives state-eviction
bounds per side (state TTL = watermark delay + join interval), so state
is O(events in the interval window), independent of stream length —
the only stream-stream join shape that survives at 100 TB/day.

Works on batch frames too (same plan minus watermarks): the batch form
is the oracle in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    lower: str = "0 seconds",
    upper: str = "1 hour",
) -> DataFrame:
    """Inner-join ``left`` and ``right`` on ``key`` where
    ``r.ts ∈ [l.ts + lower, l.ts + upper]``.

    Column names are prefixed ``l_`` / ``r_`` in the output (both sides
    commonly share a schema). ``lower``/``upper`` are interval strings
    (negative lower looks backward). A streaming side gets a 1-hour
    watermark on its ``ts``.
    """
    l = left.select([F.col(c).alias(f"l_{c}") for c in left.columns])
    r = right.select([F.col(c).alias(f"r_{c}") for c in right.columns])
    if l.isStreaming:
        l = l.withWatermark("l_ts", "1 hour")
    if r.isStreaming:
        r = r.withWatermark("r_ts", "1 hour")
    cond = (
        (F.col(f"l_{key}") == F.col(f"r_{key}"))
        & (F.col("r_ts") >= F.expr(f"l_ts + interval {lower}"))
        & (F.col("r_ts") <= F.expr(f"l_ts + interval {upper}"))
    )
    return l.join(r, cond)
