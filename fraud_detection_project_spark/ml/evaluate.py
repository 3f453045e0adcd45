"""Distributed model-evaluation metrics.

The reference pipeline ends where the model begins: it emits train/test
matrices (`transform_data.py:150-161`) and never scores or evaluates.
A production fraud engine needs the other half — batch evaluation of a
score column against a label column — so this module provides the
standard binary-classification metrics as *pure DataFrame aggregates*:

- ``binary_metrics``     one-scan confusion matrix + derived rates
- ``auc_roc``            exact ROC-AUC (Mann-Whitney with tie averaging)
- ``auc_roc_binned``     fixed-bin approximation — the 100 TB path
- ``log_loss``           clipped cross-entropy, one scan
- ``calibration_bins``   reliability-diagram aggregates

Scale design
------------
``binary_metrics`` / ``log_loss`` are single conditional-sum scans:
partial aggregation map-side, a 1-row shuffle, no sort. ``auc_roc``
first collapses to *distinct score values* (``groupBy(score)``), so the
ordered prefix-sum window runs over ``|distinct scores|`` rows, not
``n`` — exact and cheap whenever scores are discretized (model outputs
rounded to k decimals, integer risk scores). For genuinely continuous
scores at 100 TB the distinct frame degenerates to ``n`` rows in a
single-partition window; use ``auc_roc_binned`` there — it buckets
scores into ``n_bins`` fixed-width bins (pure map-side work, one small
shuffle) and applies the same pair-counting formula, giving AUC exact
up to within-bin ordering (error ≤ the bin's pos·neg overlap mass).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def binary_metrics(
    df: DataFrame,
    score: str | Column,
    label: str | Column,
    threshold: float,
) -> DataFrame:
    """Confusion matrix + precision/recall/F1/accuracy at ``threshold``.

    One conditional-sum aggregate over a single scan — no join, no
    window. ``label`` must be 0/1 (int or bool); rows with a NULL score
    or label are excluded (counted in no cell), matching sklearn's
    requirement that inputs be finite.
    """
    s, y = _as_col(score), _as_col(label).cast("int")
    valid = s.isNotNull() & y.isNotNull()
    pred = (s >= F.lit(threshold)).cast("int")
    tp = F.sum(F.when(valid & (pred == 1) & (y == 1), 1).otherwise(0))
    fp = F.sum(F.when(valid & (pred == 1) & (y == 0), 1).otherwise(0))
    fn = F.sum(F.when(valid & (pred == 0) & (y == 1), 1).otherwise(0))
    tn = F.sum(F.when(valid & (pred == 0) & (y == 0), 1).otherwise(0))
    agg = df.agg(
        tp.alias("tp"), fp.alias("fp"), fn.alias("fn"), tn.alias("tn")
    )
    tp_c, fp_c, fn_c, tn_c = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    prec = tp_c / F.nullif(tp_c + fp_c, F.lit(0))
    rec = tp_c / F.nullif(tp_c + fn_c, F.lit(0))
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            2 * prec * rec / F.nullif(prec + rec, F.lit(0.0)), 6
        ).alias("f1"),
        F.round(
            (tp_c + tn_c) / (tp_c + fp_c + fn_c + tn_c), 6
        ).alias("accuracy"),
    )


def _pair_count_auc(per_score: DataFrame, precision: int) -> DataFrame:
    """AUC from a (score_key, pos_s, neg_s) frame via pair counting:

        AUC = [ Σ_s pos_s · (neg_below(s) + neg_s / 2) ] / (n_pos · n_neg)

    i.e. P(score⁺ > score⁻) + ½·P(score⁺ = score⁻) — the Mann-Whitney
    U statistic with tie averaging, identical to sklearn's
    ``roc_auc_score``. The cumulation runs through
    ``partitioned_prefix_sum`` (range-partitioned two-phase scan), so
    even a CONTINUOUS score — where |distinct scores| ≈ n and the old
    ``Window.orderBy`` form funneled everything through one task —
    stays fully parallel; ``score_key`` is the
    groupBy key, hence already a unique total order.
    """
    from ..operators.indexing import partitioned_prefix_sum

    cum = partitioned_prefix_sum(
        per_score, ["score_key"], "neg_s", "neg_cum"
    ).withColumn("neg_below", F.col("neg_cum") - F.col("neg_s"))
    return cum.agg(
        F.round(
            F.sum(F.col("pos_s") * (F.col("neg_below") + F.col("neg_s") / 2))
            / (F.sum("pos_s") * F.sum("neg_s")),
            precision,
        ).alias("auc"),
        F.sum("pos_s").cast("long").alias("n_pos"),
        F.sum("neg_s").cast("long").alias("n_neg"),
    )


def auc_roc(
    df: DataFrame,
    score: str | Column,
    label: str | Column,
    precision: int = 6,
) -> DataFrame:
    """Exact ROC-AUC. Collapses to distinct scores first (hash agg),
    then one ordered prefix-sum over the distinct-score frame — see
    module docstring for the scale contract."""
    s, y = _as_col(score), _as_col(label).cast("int")
    per_score = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("score_key"))
        .agg(
            F.sum(y).cast("double").alias("pos_s"),
            F.sum(1 - y).cast("double").alias("neg_s"),
        )
    )
    return _pair_count_auc(per_score, precision)


def auc_roc_binned(
    df: DataFrame,
    score: str | Column,
    label: str | Column,
    lo: float,
    hi: float,
    n_bins: int = 1000,
    precision: int = 6,
) -> DataFrame:
    """Approximate AUC over ``n_bins`` fixed-width score bins in
    ``[lo, hi]`` (scores outside clamp to the edge bins). Same pair
    counting as :func:`auc_roc`, but the ordered frame is at most
    ``n_bins`` rows regardless of data size — the 100 TB path."""
    s, y = _as_col(score), _as_col(label).cast("int")
    bin_w = (hi - lo) / n_bins
    key = F.least(
        F.greatest(F.floor((s - F.lit(lo)) / F.lit(bin_w)), F.lit(0)),
        F.lit(n_bins - 1),
    )
    per_bin = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(key.alias("score_key"))
        .agg(
            F.sum(y).cast("double").alias("pos_s"),
            F.sum(1 - y).cast("double").alias("neg_s"),
        )
    )
    return _pair_count_auc(per_bin, precision)


def average_precision(
    df: DataFrame,
    score: str | Column,
    label: str | Column,
) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    sklearn's ``average_precision_score`` step interpolation):

        AP = Σ_k (R_k − R_{k−1}) · P_k   over distinct scores desc,

    where threshold k admits every row scoring >= s_k. Same scale
    contract as auc_roc: collapse to distinct scores first (hash agg
    with map-side partials), then range-partitioned prefix sums over
    the aggregated frame (``partitioned_prefix_sum`` — no single-task
    ordered window even for continuous scores).
    The DESCENDING cumulations fall out of ascending ones via the
    complement identity ``sum(key >= s) = total − sum(key < s)``.
    """
    from ..operators.indexing import partitioned_prefix_sum

    s, y = _as_col(score), _as_col(label).cast("int")
    per_score = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("score_key"))
        .agg(
            F.sum(y).cast("double").alias("pos_s"),
            F.sum(1 - y).cast("double").alias("neg_s"),
        )
        .withColumn("tot_s", F.col("pos_s") + F.col("neg_s"))
    )
    asc = partitioned_prefix_sum(
        per_score, ["score_key"], ["pos_s", "tot_s"], ["pos_cum", "tot_cum"]
    )
    totals = asc.agg(
        F.sum("pos_s").alias("__p_tot"), F.sum("tot_s").alias("__n_tot")
    )
    cum = asc.crossJoin(F.broadcast(totals)).select(
        "pos_s",
        "neg_s",
        (F.col("__p_tot") - F.col("pos_cum") + F.col("pos_s")).alias("tp"),
        (F.col("__n_tot") - F.col("tot_cum") + F.col("tot_s")).alias("pp"),
    )
    return cum.agg(
        F.round(
            F.sum(F.col("pos_s") * F.col("tp") / F.col("pp"))
            / F.sum("pos_s"),
            6,
        ).alias("average_precision"),
        F.sum("pos_s").cast("long").alias("n_pos"),
        (F.sum("pos_s") + F.sum("neg_s")).cast("long").alias("n"),
    )


def log_loss(
    df: DataFrame,
    prob: str | Column,
    label: str | Column,
) -> DataFrame:
    """Mean cross-entropy ``-avg(y·ln p + (1-y)·ln(1-p))`` with p
    clipped to [1e-15, 1 - 1e-15] (sklearn's contract). One scan."""
    p, y = _as_col(prob), _as_col(label).cast("double")
    pc = F.least(F.greatest(p, F.lit(1e-15)), F.lit(1.0 - 1e-15))
    term = -(y * F.log(pc) + (1 - y) * F.log(1 - pc))
    return df.filter(p.isNotNull() & y.isNotNull()).agg(
        F.round(F.avg(term), 6).alias("log_loss"),
        F.count(F.lit(1)).alias("n"),
    )


def calibration_bins(
    df: DataFrame,
    score: str | Column,
    label: str | Column,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram aggregates: fixed-width bins over the raw
    score (deterministic bin edges — no quantile pass), per bin the
    mean score, observed positive rate, and count. Binning on the raw
    score rather than a transcendental transform keeps bin assignment
    bit-identical across engines."""
    s, y = _as_col(score), _as_col(label).cast("double")
    bin_w = (hi - lo) / n_bins
    key = F.least(
        F.greatest(F.floor((s - F.lit(lo)) / F.lit(bin_w)), F.lit(0)),
        F.lit(n_bins - 1),
    )
    return (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(key.cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(s), 6).alias("mean_score"),
            F.round(F.avg(y), 6).alias("frac_pos"),
        )
        .orderBy("bin")
    )


def cohens_kappa(
    df: DataFrame,
    rater_a: str | Column,
    rater_b: str | Column,
) -> DataFrame:
    """Cohen's κ — chance-corrected agreement between two categorical
    raters (Cohen 1960): ``κ = (p_o − p_e) / (1 − p_e)`` with observed
    agreement ``p_o = P[a == b]`` and chance agreement
    ``p_e = Σ_k P[a=k]·P[b=k]``.

    The label-quality staple for LLM data work: two annotators (human
    pools, model-as-judge runs, heuristic labelers) are only usable
    when they agree beyond what their marginal label distributions force.

    Scale design: one conditional-sum scan yields ``n`` and the
    agreement count; each marginal is a ``groupBy(category)`` whose
    output is |categories| rows; the chance term is an inner join of the
    two tiny marginal frames on the category. Nothing holistic, no
    sort — three small aggregates and a broadcast-sized join, valid at
    any row count. Rows where either rater is NULL are excluded
    (pairwise deletion), matching ``sklearn.metrics.cohen_kappa_score``
    over the non-null subset.

    Returns one row: ``(n, po, pe, kappa)``.
    """
    a, b = _as_col(rater_a), _as_col(rater_b)
    obs = df.filter(a.isNotNull() & b.isNotNull()).select(
        a.cast("string").alias("a"), b.cast("string").alias("b")
    )
    base = obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("a") == F.col("b")).cast("long")).alias("n_agree"),
    )
    ma = obs.groupBy("a").agg(F.count(F.lit(1)).alias("na"))
    mb = obs.groupBy("b").agg(F.count(F.lit(1)).alias("nb"))
    chance = (
        ma.join(mb, ma["a"] == mb["b"])
        .agg(F.sum(F.col("na") * F.col("nb")).alias("prod_sum"))
    )
    po = F.col("n_agree") / F.col("n")
    pe = F.coalesce(F.col("prod_sum"), F.lit(0)) / (F.col("n") * F.col("n"))
    kappa = F.when(pe < 1.0, (po - pe) / (1 - pe)).otherwise(F.lit(1.0))
    return (
        base.crossJoin(F.broadcast(chance))
        .select(
            F.col("n").cast("long").alias("n"),
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round(kappa, 6).alias("kappa"),
        )
    )


# deterministic-hash constants shared with ml/split.py (Knuth
# multiplicative mixing; affine-mod-prime then remultiply so seed and
# replicate index genuinely reshuffle the draw)
_KNUTH = 2654435761
_MIX = 40503
_HASH_PRIME = 999983

# Poisson(1) CDF prefix: P[X <= k] for k = 0..4; mass above 5 (~0.06%)
# is clamped to 5 — bias far below bootstrap Monte-Carlo noise.
_POISSON1_CDF = (
    0.367879441171442,
    0.735758882342885,
    0.919698602928606,
    0.981011843123846,
    0.996340153172656,
)


def poisson_bootstrap_mean_ci(
    df: DataFrame,
    group_cols: list[str],
    value: str | Column,
    id_col: str,
    n_replicates: int = 50,
    lo_rank: int | None = None,
    hi_rank: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """Per-group bootstrap confidence interval for the mean via the
    POISSON bootstrap (Chamandy et al. 2012, "Estimating Uncertainty
    for Massive Data Streams" — the Google large-scale recipe; also
    Kleiner et al.'s BLB lineage): classical resampling needs the row
    count up front and a global shuffle per replicate; the Poisson
    bootstrap instead gives every row an independent Poisson(1) weight
    per replicate, which matches multinomial resampling to O(1/n) and
    runs in ONE pass.

    Each (row, replicate) weight is derived from a deterministic
    integer hash of ``(id_col, replicate, seed)`` inverted through the
    Poisson(1) CDF (clamped at 5) — no RNG state, so any engine and any
    partitioning reproduces the identical draw, making the whole
    resampling procedure oracle-checkable. The CI is read off the
    ORDER STATISTICS of the replicate means (ranks ``lo_rank`` /
    ``hi_rank``, 1-indexed; defaults to the 2.5%/97.5% ranks) — no
    interpolation, so engines can't disagree on quantile definitions.

    Scale design: rows × replicates is a map-side ``explode`` (no
    shuffle); the only exchange is ``groupBy(group, replicate)`` →
    ``|groups|·R`` rows; the rank pick is a window over R rows per
    group. Weighted sums, never materialized resamples.

    Returns ``(group_cols..., mean_value, ci_lo, ci_hi, n_replicates)``.
    """
    v = _as_col(value)
    # default ranks bracket the 2.5%/97.5% quantiles from the outside
    # without degenerating to the extreme order statistics: ceil on the
    # upper rank (NOT round(·)+1, which hits R itself for R=50 — the
    # 100th percentile) and floor-with-min-1 on the lower
    if lo_rank is None:
        lo_rank = max(1, int(math.floor(0.025 * n_replicates)))
    if hi_rank is None:
        hi_rank = min(n_replicates, int(math.ceil(0.975 * n_replicates)))
    P = _HASH_PRIME
    base = df.filter(v.isNotNull()).select(
        *group_cols,
        v.alias("__v"),
        F.pmod(F.col(id_col).cast("long"), F.lit(P)).alias("__idm"),
    )
    rep = base.withColumn(
        "__r", F.explode(F.sequence(F.lit(0), F.lit(n_replicates - 1)))
    )
    u = (
        F.pmod(
            F.pmod(
                F.col("__idm") * _KNUTH + F.col("__r") * _MIX + seed, F.lit(P)
            )
            * _KNUTH,
            F.lit(P),
        ).cast("double")
        / F.lit(float(P))
    )
    w = F.lit(5)
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    means = (
        rep.withColumn("__w", w)
        .groupBy(*group_cols, "__r")
        .agg(
            (F.sum(F.col("__w") * F.col("__v")) / F.sum("__w")).alias("__rm")
        )
        # a replicate whose weights all landed 0 (only plausible for
        # tiny groups) has no mean; drop it so NULL-ordering dialect
        # differences can never reach the rank pick
        .filter(F.col("__rm").isNotNull())
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy(*group_cols).orderBy(F.col("__rm").asc(), F.col("__r").asc())
    )
    picked = means.withColumn("__rk", rk).filter(
        F.col("__rk").isin(lo_rank, hi_rank)
    )
    ci = picked.groupBy(*group_cols).agg(
        F.min("__rm").alias("__lo"), F.max("__rm").alias("__hi")
    )
    overall = base.groupBy(*group_cols).agg(F.avg("__v").alias("__mean"))
    return overall.join(ci, group_cols).select(
        *group_cols,
        F.round("__mean", 6).alias("mean_value"),
        F.round("__lo", 6).alias("ci_lo"),
        F.round("__hi", 6).alias("ci_hi"),
        F.lit(n_replicates).cast("long").alias("n_replicates"),
    )
