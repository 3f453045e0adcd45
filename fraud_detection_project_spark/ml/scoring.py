"""Batch model scoring and leakage-safe target encoding.

The reference emits train matrices (`transform_data.py:150-161`) and
stops; this module adds the serving side — applying a fitted linear /
logistic model to a DataFrame — and the leakage-safe cousin of the
target encoder used during feature engineering.

- ``score_linear``       σ(w·x + b) over an ``array<float>`` column — a
                         pure columnar expression
                         (functions/vectors.py:dot), no UDF
- ``loo_target_encode``  leave-one-out target encoding
                         ``(Σ_group y − y) / (n_group − 1)``

Scale design
------------
``score_linear`` broadcasts nothing and shuffles nothing: the weight
vector is a literal array inside the plan, so scoring is map-only and
pipelines into whatever follows. The fold runs JVM-side via
``F.aggregate``; for very wide vectors (≥ several thousand dims) where
Catalyst's interpreted higher-order lambda becomes the bottleneck, swap
the dot for an Arrow-batched ``pandas_udf`` matmul (the
operators/similarity.py blocked-matmul kernel) — same contract.

``loo_target_encode`` is one window shuffle on the group key. The
leave-one-out form exists because naive target encoding leaks the row's
own label into its feature; LOO subtracts it, and singleton groups
(where LOO is undefined) fall back to the global mean — one extra 1-row
aggregate broadcast by crossJoin, never collected to the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot


def score_linear(
    df: DataFrame,
    vec_col: str | Column,
    weights: Sequence[float],
    intercept: float = 0.0,
) -> DataFrame:
    """Append ``score = σ(w·x + b)`` for a fixed weight vector.

    The weights are embedded as a literal array, so the expression is
    map-only and whole-stage-codegen eligible; rounding to 6 dp makes
    the output stable across engines despite summation-order
    differences.
    """
    w = F.array(*[F.lit(float(x)) for x in weights])
    z = dot(vec_col, w) + F.lit(float(intercept))
    return df.withColumn("score", F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6))


def loo_target_encode(
    df: DataFrame,
    keys: Sequence[str],
    target: str | Column,
) -> DataFrame:
    """Leave-one-out target encoding: each row's key is encoded by the
    mean target of the OTHER rows sharing it —
    ``(Σ_group y − y) / (n_group − 1)`` — so the row's own label never
    leaks into its feature (the flaw of naive target encoding that
    inflates offline metrics). Groups of size 1 fall back to the global
    target mean; rows with a NULL target get a NULL encoding (they
    contribute nothing to any group sum either). The encoding lands in
    ``loo_enc``, rounded to 6 dp.

    One window shuffle on ``keys`` plus a 1-row global-mean aggregate
    joined in by broadcast crossJoin.
    """
    y = F.col(target) if isinstance(target, str) else target
    w = Window.partitionBy(*keys)
    gmean = df.agg(F.avg(y).alias("_global_mean"))
    loo = F.when(
        F.count(y).over(w) > 1,
        (F.sum(y).over(w) - y) / (F.count(y).over(w) - 1),
    ).otherwise(F.col("_global_mean"))
    loo = F.round(F.when(y.isNotNull(), loo), 6)
    return (
        df.crossJoin(F.broadcast(gmean))
        .withColumn("loo_enc", loo)
        .drop("_global_mean")
    )
