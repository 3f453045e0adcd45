"""Feature preprocessing (SURVEY.md §2 M2-M5, M8).

Reference: ``ColumnTransformer([('num', StandardScaler(), num),
('cat', OneHotEncoder(handle_unknown='ignore'), cat)])`` wrapped in a
Pipeline, fit on train only (``transform_data.py:84-87, 125-127``).

Spark shape: numeric ``VectorAssembler`` + ``StandardScaler``, then ONE
multi-column ``StringIndexer(handleInvalid='keep')`` and ONE multi-column
``OneHotEncoder(handleInvalid='keep', dropLast=False)`` covering every
categorical, final assembler → one ``features`` vector column. ``fit``
is the only action: the scaler's moments plus a single value-count pass
for all categorical columns, not one pass per column. This is the only
fitted prep: ``Processor``, ``bench.py`` q5 and ``score_stream`` (which
takes a ``PipelineModel``) all use it.

Parity note (SURVEY hard-list #3): sklearn standardizes with population
std (ddof=0), MLlib with sample std (ddof=1). :func:`standardize` (the
pure-DataFrame scaler) exposes ``ddof`` so either contract is exact;
the MLlib pipeline keeps MLlib's own convention and documents it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import (
    OneHotEncoder,
    StandardScaler,
    StringIndexer,
    VectorAssembler,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_feature_pipeline(
    num_cols: Sequence[str],
    cat_cols: Sequence[str],
) -> Pipeline:
    """M2+M3+M4 composed: numeric scaling + unknown-tolerant one-hot.

    ``handleInvalid='keep'`` on both indexer and encoder reproduces
    sklearn's ``handle_unknown='ignore'`` contract: categories unseen at
    fit time transform without error. ``dropLast=False`` matches
    sklearn's default of keeping every category level. Numerics are
    centred and scaled (MLlib's sample std); the output column is
    ``features``.
    """
    stages = []
    assembled_inputs: list[str] = []

    if num_cols:
        stages.append(
            VectorAssembler(
                inputCols=list(num_cols), outputCol="__num_vec", handleInvalid="keep"
            )
        )
        stages.append(
            StandardScaler(
                inputCol="__num_vec",
                outputCol="__num_scaled",
                withMean=True,
                withStd=True,
            )
        )
        assembled_inputs.append("__num_scaled")

    if cat_cols:
        # one multi-column indexer and one multi-column encoder: the
        # indexer's fit counts every column's values in a single pass
        idx_cols = [f"__{c}_idx" for c in cat_cols]
        ohe_cols = [f"__{c}_ohe" for c in cat_cols]
        stages.append(
            StringIndexer(
                inputCols=list(cat_cols), outputCols=idx_cols, handleInvalid="keep"
            )
        )
        stages.append(
            OneHotEncoder(
                inputCols=idx_cols,
                outputCols=ohe_cols,
                dropLast=False,
                handleInvalid="keep",
            )
        )
        assembled_inputs.extend(ohe_cols)

    stages.append(VectorAssembler(inputCols=assembled_inputs, outputCol="features"))
    return Pipeline(stages=stages)


def feature_names_out(model: PipelineModel, df: DataFrame) -> list[str]:
    """M8 (``get_feature_names_out``, ``transform_data.py:128``): read the
    assembled vector's ``ml_attr`` metadata for per-slot feature names.
    """
    transformed = model.transform(df.limit(1))
    meta = transformed.schema["features"].metadata
    attrs = meta.get("ml_attr", {}).get("attrs", {})
    named: list[tuple[int, str]] = []
    for group in attrs.values():
        for a in group:
            named.append((a["idx"], a["name"]))
    return [n for _, n in sorted(named)]


def standardize(df: DataFrame, cols: Sequence[str], ddof: int = 0) -> DataFrame:
    """Pure-DataFrame z-scoring into ``{col}_scaled``: ``(x - mean) / std``
    with the moments fitted on ``df``.

    ``ddof=0`` is sklearn's convention (``transform_data.py:85``),
    ``ddof=1`` MLlib's. One tree-aggregate + a broadcast join — no
    per-column passes. Zero-variance columns scale to 0.0.
    """
    std_fn = F.stddev_pop if ddof == 0 else F.stddev_samp
    aggs = []
    for c in cols:
        aggs.append(F.avg(c).alias(f"__mean_{c}"))
        aggs.append(std_fn(c).alias(f"__std_{c}"))
    out = df.crossJoin(F.broadcast(df.select(*aggs)))
    for c in cols:
        out = out.withColumn(
            c + "_scaled",
            F.when(
                F.col(f"__std_{c}") > 0,
                (F.col(c) - F.col(f"__mean_{c}")) / F.col(f"__std_{c}"),
            ).otherwise(F.lit(0.0)),
        )
    return out.drop(*[f"__mean_{c}" for c in cols], *[f"__std_{c}" for c in cols])


def one_hot_columns(
    df: DataFrame, col: str, categories: Sequence[str], prefix: str | None = None
) -> DataFrame:
    """Columnar one-hot with a fixed category list (oracle-expressible
    M3 variant): unseen values get all-zeros — sklearn
    ``handle_unknown='ignore'`` semantics, visible as plain columns.
    """
    p = prefix or col
    for cat in categories:
        safe = cat.replace(" ", "_")
        df = df.withColumn(
            f"{p}_{safe}", (F.col(col) == F.lit(cat)).cast("int")
        )
    return df


def winsorize(
    df: DataFrame,
    cols: Sequence[str],
    lower: float = 0.01,
    upper: float = 0.99,
    by: Sequence[str] | None = None,
) -> DataFrame:
    """Percentile clipping (winsorization): cap each column at its
    [lower, upper] exact interpolated percentiles, optionally per
    ``by``-group — the standard outlier guard before scaling (a single
    extreme value otherwise dominates a z-score's σ).

    Scale design: percentiles come from ONE aggregate over the input
    (per group when ``by`` is set — a |groups|-row frame), broadcast
    back; the clip itself is a codegen ``greatest(least(...))``. NULLs
    pass through untouched.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.percentile(c, F.lit(float(lower))).alias(f"__lo_{c}"),
            F.percentile(c, F.lit(float(upper))).alias(f"__hi_{c}"),
        ]
    if by:
        bounds = df.groupBy(*by).agg(*aggs)
        out = df.join(F.broadcast(bounds), list(by), "left")
    else:
        bounds = df.agg(*aggs)
        out = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        clipped = F.greatest(
            F.least(F.col(c), F.col(f"__hi_{c}")), F.col(f"__lo_{c}")
        )
        out = out.withColumn(c, F.when(F.col(c).isNotNull(), clipped))
    return out.drop(*[f"__lo_{c}" for c in cols], *[f"__hi_{c}" for c in cols])


def target_encode(
    train: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 10.0,
):
    """Mean target encoding into ``{cat_col}_te`` with additive
    smoothing, train-only fit:
    ``enc(c) = (sum_c + prior·m) / (n_c + m)`` where ``prior`` is the
    global target mean and ``m`` the smoothing mass — the standard
    high-cardinality categorical encoder (one-hot explodes at 10⁶
    categories; this is one double per category).

    Returns ``(encoder_df, transform)``: a |categories|-row mapping
    frame and a closure applying it to ANY frame via broadcast join
    (unseen categories fall back to the prior — the unknown-tolerant
    contract of the one-hot path). Fit is one groupBy over train; no
    driver collection.
    """
    out_col = f"{cat_col}_te"
    prior_df = train.agg(
        F.avg(target_col).alias("__prior"), F.count(target_col).alias("__n")
    )
    enc = (
        train.groupBy(cat_col)
        .agg(
            F.sum(target_col).alias("__sum"),
            F.count(target_col).alias("__cnt"),
        )
        .crossJoin(F.broadcast(prior_df.select("__prior")))
        .select(
            cat_col,
            (
                (F.col("__sum") + F.col("__prior") * F.lit(smoothing))
                / (F.col("__cnt") + F.lit(smoothing))
            ).alias(out_col),
            "__prior",
        )
    )

    def transform(df: DataFrame) -> DataFrame:
        joined = df.join(F.broadcast(enc.drop("__prior")), cat_col, "left")
        prior = F.broadcast(prior_df.select("__prior"))
        return (
            joined.crossJoin(prior)
            .withColumn(out_col, F.coalesce(F.col(out_col), F.col("__prior")))
            .drop("__prior")
        )

    return enc.drop("__prior"), transform


def robust_scale(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Median/IQR scaling (sklearn ``RobustScaler`` parity) into
    ``{col}_scaled``: ``(x - median) / (q3 - q1)`` per column, fitted on
    ``df`` — the outlier-insensitive alternative to z-scoring (mean and
    σ are both unbounded under a single corrupt value; median and IQR
    are 25%-breakdown robust).

    Zero-IQR columns scale to 0.0 (matching the zero-variance convention
    in :func:`standardize`); NULLs stay NULL. One aggregate pass; the
    scaling is codegen arithmetic off a broadcast one-row join.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.percentile(c, F.lit(0.5)).alias(f"__med_{c}"),
            (
                F.percentile(c, F.lit(0.75)) - F.percentile(c, F.lit(0.25))
            ).alias(f"__iqr_{c}"),
        ]
    out = df.crossJoin(F.broadcast(df.agg(*aggs)))
    for c in cols:
        iqr = F.col(f"__iqr_{c}")
        scaled = F.when(
            iqr > 0, (F.col(c) - F.col(f"__med_{c}")) / iqr
        ).otherwise(F.when(F.col(c).isNotNull(), F.lit(0.0)))
        out = out.withColumn(f"{c}_scaled", scaled)
    return out.drop(
        *[f"__med_{c}" for c in cols], *[f"__iqr_{c}" for c in cols]
    )


def quantile_discretize(df: DataFrame, col: str, n_bins: int = 4) -> DataFrame:
    """Equal-frequency binning into ``{col}_bin`` (MLlib
    ``QuantileDiscretizer`` with EXACT boundaries instead of its
    approximate sketch): fit the ``n_bins - 1`` interior percentile
    boundaries on ``df``, assign ``bin = #{boundaries < x}`` ∈
    [0, n_bins). Fit is one aggregate; the assignment is a fold over the
    tiny boundary array off a broadcast one-row join — no per-row UDF,
    no window. NULLs pass through as NULL.
    """
    fracs = [i / n_bins for i in range(1, n_bins)]
    bounds = df.agg(
        F.array(*[F.percentile(col, F.lit(f)) for f in fracs]).alias(f"__bnds_{col}")
    )
    out = df.crossJoin(F.broadcast(bounds))
    bnds = F.col(f"__bnds_{col}")
    bin_ = F.size(F.filter(bnds, lambda b: b < F.col(col)))
    return out.withColumn(
        f"{col}_bin", F.when(F.col(col).isNotNull(), bin_).cast("int")
    ).drop(f"__bnds_{col}")
