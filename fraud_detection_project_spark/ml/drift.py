"""Distribution-drift monitoring between two datasets.

A deployed fraud model (the consumer of the reference pipeline's
train/test bundles, `transform_data.py:150-161`) degrades silently when
the serving distribution drifts from the training one. This module
provides the two standard drift statistics as distributed aggregates
over a *pair* of DataFrames (train vs serve, last week vs this week):

- ``psi``            Population Stability Index over fixed-width bins
- ``ks_two_sample``  exact two-sample Kolmogorov-Smirnov statistic

Scale design
------------
Both operators tag the two inputs and union them, so each statistic is
ONE grouped aggregation over one combined scan — no join between the
sides. ``psi`` groups into ``n_bins`` data-independent bins: map-side
partial aggregation reduces the shuffle to ≤ n_bins rows per task, and
the final PSI sum runs over a ≤ n_bins-row frame. ``ks_two_sample``
groups by distinct value before the ordered cumulative pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _bin_key(x: Column, lo: float, hi: float, n_bins: int) -> Column:
    width = (hi - lo) / n_bins
    return F.least(
        F.greatest(F.floor((x - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    ).cast("long")


def _tagged_union(
    expected: DataFrame, actual: DataFrame, col: str | Column
) -> DataFrame:
    x = _as_col(col)
    e = expected.select(x.alias("x")).filter(F.col("x").isNotNull())
    a = actual.select(x.alias("x")).filter(F.col("x").isNotNull())
    return e.select("x", F.lit(1).alias("is_e")).unionByName(
        a.select("x", F.lit(0).alias("is_e"))
    )


def psi(
    expected: DataFrame,
    actual: DataFrame,
    col: str | Column,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index of ``actual`` against ``expected``
    over ``n_bins`` fixed-width bins in ``[lo, hi]`` (out-of-range
    values clamp to the edge bins, so mass is never dropped):

        PSI = Σ_bins (f_a − f_e) · ln(f_a / f_e)

    with bin fractions clipped to 1e-6 so one-sided-empty bins stay
    finite (the standard industry convention; < 0.1 stable, 0.1-0.25
    moderate, > 0.25 major drift). Returns one row:
    ``psi, n_expected, n_actual``, PSI rounded to 6 dp.
    """
    grouped = (
        _tagged_union(expected, actual, col)
        .groupBy(_bin_key(F.col("x"), lo, hi, n_bins).alias("bin"))
        .agg(
            F.sum("is_e").alias("ce"),
            F.sum(1 - F.col("is_e")).alias("ca"),
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    fe = F.greatest(
        F.col("ce").cast("double") / F.sum("ce").over(w_all), F.lit(1e-6)
    )
    fa = F.greatest(
        F.col("ca").cast("double") / F.sum("ca").over(w_all), F.lit(1e-6)
    )
    return (
        grouped.select(
            ((fa - fe) * F.log(fa / fe)).alias("term"), "ce", "ca"
        )
        .agg(
            F.round(F.sum("term"), 6).alias("psi"),
            F.sum("ce").alias("n_expected"),
            F.sum("ca").alias("n_actual"),
        )
    )


def ks_two_sample(
    a: DataFrame,
    b: DataFrame,
    col: str | Column,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic

        D = max_x | ECDF_a(x) − ECDF_b(x) |

    evaluated at every distinct value (the ECDF only changes there, so
    this IS the exact supremum). Returns one row: ``ks, n_a, n_b``, KS
    rounded to 6 dp.

    The ECDF cumulation runs through ``partitioned_prefix_sum``
    (range-partitioned two-phase scan, the same shape as the AUC's):
    even when |distinct values| ≈ n — a continuous column — no
    single-task ordered window appears anywhere in the
    plan; the totals ride a broadcast 1-row frame.
    """
    from ..operators.indexing import partitioned_prefix_sum

    grouped = (
        _tagged_union(a, b, col)
        .groupBy(F.col("x").alias("k"))
        .agg(
            F.sum("is_e").alias("ca"),
            F.sum(1 - F.col("is_e")).alias("cb"),
        )
    )
    cum = partitioned_prefix_sum(
        grouped, ["k"], ["ca", "cb"], ["ca_cum", "cb_cum"]
    )
    totals = cum.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    with_cum = cum.crossJoin(F.broadcast(totals)).select(
        (
            F.col("ca_cum").cast("double") / F.col("na")
            - F.col("cb_cum").cast("double") / F.col("nb")
        ).alias("diff"),
        "na",
        "nb",
    )
    return with_cum.agg(
        F.round(F.max(F.abs(F.col("diff"))), 6).alias("ks"),
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
    )
