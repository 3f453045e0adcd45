"""Incremental aggregate maintenance — update a materialized aggregate
with a delta batch instead of rescanning history.

No reference equivalent. At 100 TB the difference between "recompute
daily revenue over all history" and "combine yesterday's state with
today's partials" is the whole batch budget; this is the batch twin of
what Structured Streaming's stateful aggregation does per micro-batch,
expressed as an explicit state ⋈ delta merge so it works on plain
parquet state tables.

Only algebraic/distributive aggregates combine losslessly:
count/sum/min/max merge directly; avg must be carried as (sum, count).
``merge_aggregate_state`` refuses anything else — a holistic aggregate
(median, distinct count) CANNOT be maintained this way (use sketches:
HLL for distinct, KLL/t-digest for quantiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_COMBINERS = {
    "sum": lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    "count": lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    "min": F.least,   # least/greatest ignore nulls -> absent side is identity
    "max": F.greatest,
}


def aggregate_delta(
    batch: DataFrame, keys: list[str], specs: dict[str, tuple[str, str]]
) -> DataFrame:
    """Partial aggregates of one delta batch; same shape as the state.
    ``specs``: out_col -> (in_col, fn) with fn in sum/count/min/max."""
    aggs = []
    for out, (col, fn) in specs.items():
        if fn not in _COMBINERS:
            raise ValueError(
                f"{fn} is not algebraic — cannot be incrementally maintained"
            )
        aggs.append(getattr(F, fn)(col).alias(out))
    return batch.groupBy(*keys).agg(*aggs)


def merge_aggregate_state(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    specs: dict[str, tuple[str, str]],
) -> DataFrame:
    """New state = state ⊕ aggregate_delta(delta): full-outer join on
    the group keys, per-column algebraic combine. Keys only in the
    delta appear (new groups); untouched keys pass through. One shuffle
    of the (small) delta partials + one join against state — if the
    state table is bucketed by the keys, its side never shuffles."""
    d = aggregate_delta(delta, keys, specs)
    s, dd = state.alias("s"), d.alias("d")
    merged = s.join(dd, on=keys, how="full_outer")
    cols = [
        _COMBINERS[fn](F.col(f"s.{out}"), F.col(f"d.{out}")).alias(out)
        for out, (_, fn) in specs.items()
    ]
    return merged.select(*keys, *cols)


def moment_partials(
    batch: DataFrame, keys: list[str], col: str
) -> DataFrame:
    """Mergeable second-moment partials per group: ``(n, s1, s2)`` =
    count, Σx, Σx². Closes the documented gap above for mean/variance:
    carried this way they ARE algebraic — the raw power sums add
    component-wise across shards — so running stats can be maintained
    incrementally without rescanning history. (Σx² accumulates in
    float64: fine for telemetry-scale magnitudes; a catastrophic-
    cancellation-sensitive domain would carry Chan's (mean, M2) pairs
    instead, merged with the pairwise-update formula.)"""
    c = F.col(col)
    return batch.filter(c.isNotNull()).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c.cast("double")).alias("s1"),
        F.sum((c * c).cast("double")).alias("s2"),
    )


def merge_moments(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Combine ``moment_partials`` shards (component-wise sums over any
    extra sharding columns NOT in ``keys``) and finalize to
    ``(n, mean, var_pop, std_pop)``, rounded to 6 dp. Merge-then-finalize
    is exact — identical to a single global pass."""
    merged = partials.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    return merged.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("var_pop"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_pop"),
    )
