"""Window / time-series operators (SURVEY.md §2 W1/W2).

Reference: ``src/preprocessing/transform_data.py:59-65`` — per-entity
trailing-24h transaction counts ("velocity" features) via pandas
``.rolling('24h', closed='right').count() - 1``.

Spark shape: one shuffle per distinct partition key; the frame is a
``rangeBetween`` over an integer epoch column, evaluated streaming within
each partition — no per-row re-scan, and at 100 TB the cost is the
shuffle, not the window.

Boundary semantics: pandas ``closed='right'`` counts events in
``(t-24h, t]`` — the event *exactly* 24h earlier is excluded. We match it
exactly by opening the lower bound one tick: ``rangeBetween(-(W-1), 0)``
in the epoch unit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rolling_count_24h(
    df: DataFrame,
    key: str | Sequence[str],
    time_col: str | Column,
    out_col: str,
    window_seconds: int = 86400,
    tick: int = 1,
) -> DataFrame:
    """Trailing-window event count per key, excluding the current row.

    ``time_col`` must be (castable to) an integer epoch in units of
    ``tick``-per-second... i.e. pass seconds with tick=1, microseconds
    with tick=1_000_000. The frame is the reference's pandas
    ``closed='right'`` window ``(t-W, t]``.
    """
    keys = [key] if isinstance(key, str) else list(key)
    t = (F.col(time_col) if isinstance(time_col, str) else time_col).cast("long")
    width = window_seconds * tick
    w = Window.partitionBy(*keys).orderBy(t).rangeBetween(-(width - 1), 0)
    cnt = F.count(F.lit(1)).over(w) - F.lit(1)
    # the reference's fillna(0) (transform_data.py:65): unreachable for
    # non-null keys, but preserved for null-key rows.
    return df.withColumn(out_col, F.coalesce(cnt, F.lit(0)).cast("long"))


def velocity_features(
    df: DataFrame,
    time_col: str | Column,
    keys: dict[str, str],
    window_seconds: int = 86400,
    tick: int = 1,
) -> DataFrame:
    """The reference's three velocity features in one pass
    (``transform_data.py:59-65``): ``{out_col: key_col}`` e.g.
    ``{'user_transactions_24h': 'user_id', 'device_transactions_24h':
    'device_id', 'ip_transactions_24h': 'ip_address'}``.

    Each key is its own shuffle; they are independent, so AQE pipelines
    them. (The global pre-sort the reference does is unnecessary — each
    window spec carries its own ordering.)
    """
    for out_col, key in keys.items():
        df = rolling_count_24h(
            df, key, time_col, out_col, window_seconds=window_seconds, tick=tick
        )
    return df


def rolling_count_sliced(
    df: DataFrame,
    key: str | Sequence[str],
    time_col: str | Column,
    out_col: str,
    window_seconds: int = 86400,
    tick: int = 1,
) -> DataFrame:
    """Skew-hardened twin of :func:`rolling_count_24h` — identical
    semantics, bounded partitions.

    The plain form partitions the window by key alone, so one hot entity
    (a device with millions of events — the reference workload of
    ``transform_data.py:59-65`` at 100×) pins its entire history to a
    single task. This form partitions by ``(key, time_slice)`` with the
    slice as wide as the window, replicating each event once into the
    next slice so every probe still sees its full trailing window:

    - slice s's partition holds slice s's events (probes) plus slice
      s-1's events (context); the trailing window of width W can only
      reach into the previous slice, so the count is exact;
    - context rows are dropped after the window pass;
    - a hot key's work now spreads over its time slices — the per-task
      bound is 2 slices of one key's events, regardless of history
      length. Cost: 2x shuffle volume on the replicated input.

    Equivalent result to :func:`rolling_count_24h` for every input (the
    equality is pytest-property-tested); use this form when a key can be
    hot, the plain form when keys are well-distributed.
    """
    keys = [key] if isinstance(key, str) else list(key)
    t = (F.col(time_col) if isinstance(time_col, str) else time_col).cast("long")
    width = window_seconds * tick

    slice_id = F.floor(t / F.lit(width))
    probes = df.withColumn("__slice", slice_id).withColumn(
        "__probe", F.lit(True)
    )
    context = df.withColumn("__slice", slice_id + 1).withColumn(
        "__probe", F.lit(False)
    )
    both = probes.unionByName(context)

    w = Window.partitionBy(*keys, "__slice").orderBy(t).rangeBetween(-(width - 1), 0)
    cnt = F.count(F.lit(1)).over(w) - F.lit(1)
    return (
        both.withColumn(out_col, F.coalesce(cnt, F.lit(0)).cast("long"))
        .filter(F.col("__probe"))
        .drop("__slice", "__probe")
    )


def sessionize(
    df: DataFrame,
    key: str | Sequence[str],
    time_col: str | Column,
    gap_seconds: int,
    tick: int = 1,
) -> DataFrame:
    """Gaps-and-islands sessionization: consecutive same-key events
    closer than ``gap_seconds`` share a session; a longer gap starts a
    new one. ``session_id`` is the 0-based per-key session ordinal.

    One window shuffle on the key (lag + running sum over the same
    ordering — a single Sort+Window stage). The streaming equivalent is
    ``F.session_window``.
    """
    keys = [key] if isinstance(key, str) else list(key)
    t = (F.col(time_col) if isinstance(time_col, str) else time_col).cast("long")
    w = Window.partitionBy(*keys).orderBy(t)
    gap = F.lit(gap_seconds * tick)
    new_session = (t - F.lag(t).over(w) > gap).cast("int")
    return df.withColumn(
        "session_id",
        F.sum(F.coalesce(new_session, F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def ewma_bounded(
    df: DataFrame,
    keys: list[str],
    order_by: list[str],
    value: str,
    alpha: float = 0.3,
    n: int = 20,
    precision: int | None = 6,
):
    """Exponentially weighted moving average over the trailing ``n``
    rows per key, as column ``ewma`` (NULL values excluded from both
    numerator and normalization):

        ewma_t = Σ_{j=0..n-1} (1-α)^j · x_{t-j}  /  Σ_{j} (1-α)^j

    — the ``adjust=True`` pandas ``ewm`` convention, truncated to a
    bounded window so state stays O(n) per row. The truncation error of
    dropping terms beyond n is (1-α)^n (< 0.1% for α=0.3, n=20), which
    is why the bounded form is the production choice: the exact
    infinite-history EWMA needs a sequential scan per key, while this
    is ONE window shuffle on the key, identical in shape to the 24h
    velocity windows (reference `transform_data.py:59-65`).

    Rows with a NULL value are dropped up front (they appear in neither
    the output nor any other row's history), so "trailing n rows" means
    n observed values — unambiguous across engines.

    Implementation: ``collect_list`` over the rows-frame (frame order =
    the window's ORDER BY, so the list is oldest→newest), then a
    JVM-side left fold ``s ← s·(1-α) + x`` whose closed form equals the
    weighted numerator; the denominator is the geometric series of the
    window's row count.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_by)
        .rowsBetween(-(n - 1), 0)
    )
    beta = 1.0 - alpha
    xs = F.collect_list(F.col(value)).over(w)
    # fold oldest->newest: s = s*beta + x  ==>  Σ x_i * beta^(m-1-i)
    num = F.aggregate(
        xs,
        F.lit(0.0),
        lambda acc, x: acc * F.lit(beta) + x.cast("double"),
    )
    m = F.size(xs)
    den = (F.lit(1.0) - F.pow(F.lit(beta), m)) / F.lit(alpha)
    out = num / den
    if precision is not None:
        out = F.round(out, precision)
    return df.filter(F.col(value).isNotNull()).withColumn("ewma", out)
