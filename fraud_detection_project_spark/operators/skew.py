"""Skew mitigation: salted aggregation, skew diagnostics, join advice.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime, but a groupBy where one key holds a double-digit percentage of
all rows still needs explicit salting: a single reducer gets that key
no matter how AQE splits scans. :func:`salted_agg` keeps the two-phase
shape: per-(key, salt) partial aggregation (parallel across
``salt_buckets`` reducers) → final merge per key. For algebraic
aggregates the result is exact.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 32,
) -> DataFrame:
    """Exact two-phase aggregation for skewed keys.

    ``aggs`` maps output column → (input column, fn) with fn in
    {'sum', 'count', 'min', 'max'} (the algebraic functions that merge
    exactly; avg = sum/count composed by the caller).

    Phase 1 groups by (keys…, random salt) — the hot key fans out over
    ``salt_buckets`` reducers; phase 2 merges the tiny per-salt partials
    by key alone. Cost: one extra (small) shuffle; benefit: no straggler
    reducer pinned to the hot key.
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    phase1_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for _, (c, fn) in aggs.items():
        if fn not in merge_fn:
            raise ValueError(f"non-algebraic agg {fn!r} cannot be salted exactly")

    salted = df.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        *[phase1_fn[fn](F.col(c)).alias(out) for out, (c, fn) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[merge_fn[fn](F.col(out)).alias(out) for out, (_, fn) in aggs.items()]
    )


def skew_report(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Key-distribution diagnostic — the measurement that decides
    between plain hash partitioning, salting (:func:`salted_agg`), and AQE skew handling: one row with
    the group-size distribution over ``keys``.

    ``skew_ratio`` = max group / mean group: ~1 is uniform; a ratio of
    N/10 means one key holds 10% of the data and its task runs that
    much longer than the average — the straggler signal. Two aggregates
    (per-key count → one-row stats); nothing collected beyond the
    summary row.
    """
    per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("__n").alias("n_rows"),
        F.max("__n").alias("max_count"),
        F.percentile("__n", F.lit(0.5)).alias("p50_count"),
        F.percentile("__n", F.lit(0.99)).alias("p99_count"),
        F.round(
            F.max("__n") / (F.sum("__n") / F.count(F.lit(1))), 4
        ).alias("skew_ratio"),
    )


def advise_join_strategy(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
) -> DataFrame:
    """Measurement-driven join-strategy recommendation — the decision
    procedure this module's operators exist to feed:

    1. ``dim`` at most 100k rows → **broadcast** (no fact shuffle);
    2. else if the fact key distribution is skewed
       (:func:`skew_report` ratio >= 20) → **shuffle+salt**
       (:func:`salted_agg` / AQE skew join);
    3. else plain **shuffle** hash join.

    Returns ONE row: ``(fact_rows, dim_rows, skew_ratio,
    recommendation)`` — the evidence plus the verdict, so the choice is
    auditable. Cost: one count on the dim, one two-phase key-histogram
    on the fact (both single aggregates); nothing collected. For join-
    SIZE estimation (a different question: output volume, not
    strategy), see operators/sketches.py:count_min_inner_product.
    """
    dim_n = dim.agg(F.count(F.lit(1)).alias("dim_rows"))
    rep = skew_report(fact, [fact_key]).select(
        F.col("n_rows").alias("fact_rows"), "skew_ratio"
    )
    return (
        rep.crossJoin(F.broadcast(dim_n))
        .select(
            F.col("fact_rows").cast("long").alias("fact_rows"),
            F.col("dim_rows").cast("long").alias("dim_rows"),
            "skew_ratio",
            F.when(
                F.col("dim_rows") <= 100_000,
                F.lit("broadcast"),
            )
            .when(
                F.col("skew_ratio") >= 20.0,
                F.lit("shuffle+salt"),
            )
            .otherwise(F.lit("shuffle"))
            .alias("recommendation"),
        )
    )
