"""Aggregate operators (SURVEY.md §2 A1-A7) — the reference's EDA surface
(``src/pipeline/processor.py:21-54``) as proper distributed queries.

All are single hash-aggregations with automatic partial (map-side)
aggregation; result cardinality is bounded by the group count, so these
collect safely at any input scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rate_by(df: DataFrame, dim: str, flag: str | Column, rate_col: str = "rate") -> DataFrame:
    """A1 (``processor.py:37-40``): mean of a 0/1 flag per category,
    descending — the 'fraud rate by source/browser/sex' query.
    """
    flag_col = F.col(flag) if isinstance(flag, str) else flag
    return (
        df.groupBy(dim)
        .agg(F.avg(flag_col.cast("double")).alias(rate_col))
        .orderBy(F.desc(rate_col), F.col(dim))
    )


def value_counts(df: DataFrame, col: str, count_col: str = "cnt") -> DataFrame:
    """A2 (``processor.py:30``): category frequencies, most-common first."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias(count_col)).orderBy(
        F.desc(count_col), F.col(col)
    )


def count_distinct(df: DataFrame, col: str) -> DataFrame:
    """A4 (``transform_data.py:46``): exact distinct count."""
    return df.select(F.countDistinct(col).alias("n_distinct"))


def numeric_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """A3 (``processor.py:23``, ``df.describe()``): count/mean/std/min/max
    per numeric column, one row per column. Explicit aggs rather than
    ``df.summary()`` so the output schema is stable and oracle-checkable.
    """
    pieces = []
    for c in cols:
        pieces.append(
            df.select(
                F.lit(c).alias("column"),
                F.count(F.col(c)).alias("n"),
                F.avg(F.col(c)).alias("mean"),
                F.stddev_samp(F.col(c)).alias("std"),
                F.min(F.col(c)).alias("min"),
                F.max(F.col(c)).alias("max"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def histogram(
    df: DataFrame,
    col: str,
    bins: int,
    lo: float,
    hi: float,
    by: str | None = None,
) -> DataFrame:
    """A7 (``processor.py:45-54``): fixed-width binned counts, optionally
    grouped by a second dimension (the hue of the reference's histplot).

    Bucket formula is explicit (``least(floor((x-lo)/w), bins-1)``) so the
    exact same arithmetic is expressible in any SQL oracle. Values outside
    [lo, hi] are clamped into the edge buckets.
    """
    width = (hi - lo) / bins
    bucket = F.least(
        F.greatest(F.floor((F.col(col) - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    keys: list[Column | str] = [bucket.alias("bucket")]
    if by:
        keys.append(F.col(by))
    out = df.filter(F.col(col).isNotNull()).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    order = ["bucket"] + ([by] if by else [])
    return out.orderBy(*order)


def mad_outliers(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] | None = None,
    n_sigmas: float = 3.0,
) -> DataFrame:
    """Robust outlier flag via Median Absolute Deviation:
    ``|x − median| > n_sigmas · 1.4826 · MAD`` (1.4826 makes MAD a
    consistent σ estimator under normality). Unlike the z-score, both
    the center and the spread have 50% breakdown — a corrupt batch
    cannot drag the threshold toward itself, which is exactly the
    failure mode of mean/σ gating on dirty 100 TB feeds.

    Two aggregate passes (median, then median of absolute deviations),
    optionally per ``by`` group — each a |groups|-row broadcast; the
    flag itself is codegen arithmetic, in ``is_outlier``. NULLs flag as
    NULL.
    """
    gb = list(by) if by else []
    med_agg = df.groupBy(*gb).agg(
        F.percentile(value_col, F.lit(0.5)).alias("__med")
    ) if gb else df.agg(F.percentile(value_col, F.lit(0.5)).alias("__med"))
    with_med = (
        df.join(F.broadcast(med_agg), gb) if gb
        else df.crossJoin(F.broadcast(med_agg))
    )
    dev = F.abs(F.col(value_col) - F.col("__med"))
    mad_agg = with_med.groupBy(*gb).agg(
        F.percentile(dev, F.lit(0.5)).alias("__mad")
    ) if gb else with_med.agg(F.percentile(dev, F.lit(0.5)).alias("__mad"))
    out = (
        with_med.join(F.broadcast(mad_agg), gb) if gb
        else with_med.crossJoin(F.broadcast(mad_agg))
    )
    flag = F.when(
        F.col(value_col).isNotNull(),
        F.abs(F.col(value_col) - F.col("__med"))
        > F.lit(float(n_sigmas) * 1.4826) * F.col("__mad"),
    )
    return out.withColumn("is_outlier", flag).drop("__med", "__mad")


def entropy_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Shannon entropy per categorical column →
    ``(column_name, n_distinct, n_rows, entropy_bits)``.

    H = −Σ p·log2(p) over the column's value distribution (nulls
    excluded) — the data-profiling signal behind "is this column a
    near-constant / near-key": H ≈ 0 flags degenerate features,
    H ≈ log2(n_distinct) flags uniform ones.

    Scale design: every column profiles in ONE pass — rows melt into
    (column, value) structs (values via their string form so one frame
    carries all columns), one grouped count per (column, value), then
    the entropy fold runs over the tiny distinct-counts frame. No
    per-column job loop.
    """
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"), F.col(c).cast("string").alias("v")
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).filter(F.col("p.v").isNotNull())
    counts = (
        melted.select("p.c", "p.v")
        .groupBy("c", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("n").alias("n_rows"),
            F.sum(F.col("n") * F.log2("n")).alias("__sum_nlogn"),
        )
        # H = log2(N) - (1/N)·Σ n·log2(n): one pass, no second join
        # against the per-column total
        .select(
            F.col("c").alias("column_name"),
            "n_distinct",
            "n_rows",
            F.round(
                F.log2("n_rows") - F.col("__sum_nlogn") / F.col("n_rows"), 6
            ).alias("entropy_bits"),
        )
        .orderBy("column_name")
    )
