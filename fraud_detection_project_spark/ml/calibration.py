"""Isotonic (PAV) score calibration, binned for scale.

The reference pipeline stops at emitting train/test matrices
(``transform_data.py:150-161``) — no scoring, no calibration. A fraud
engine that scores needs calibrated probabilities; the classical tool is
isotonic regression fit by Pool-Adjacent-Violators (PAV; Barlow et al.
1972, the ``sklearn.isotonic.IsotonicRegression`` algorithm). PAV is
inherently sequential over sorted scores, so the 100 TB design is the
BINNED form used by large-scale ranking systems: aggregate (weight,
positive-rate) into ``n_bins`` fixed-width score bins — one map-side
shuffle to ``n_bins`` rows — then run exact PAV over the ≤ ``n_bins``
bin summaries on the driver (bounded, O(n_bins), NOT O(rows)), and
return the monotone step function as a mapping frame. Binning
cost: calibration within a bin is constant, an error bounded by bin
width — the same trade ``auc_roc_binned`` documents.

PAV guarantees on the output mapping (both pinned by tests and the
constant-TRUE SQL invariant twin):
- calibrated probabilities are non-decreasing in the score bin;
- pooling preserves the weighted mean: Σ w·calibrated = Σ w·pos_rate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _pav(weights: list[float], values: list[float]) -> list[float]:
    """Exact pool-adjacent-violators on (weight, value) sequences.

    Standard stack formulation: maintain blocks of (w, mean); while the
    last two blocks violate monotonicity, merge them (weighted mean).
    Returns the fitted value per input position.
    """
    blocks: list[list[float]] = []  # [w, mean, count]
    for w, v in zip(weights, values):
        blocks.append([w, v, 1])
        while len(blocks) > 1 and blocks[-2][1] > blocks[-1][1]:
            w2, v2, c2 = blocks.pop()
            w1, v1, c1 = blocks.pop()
            wt = w1 + w2
            blocks.append([wt, (w1 * v1 + w2 * v2) / wt, c1 + c2])
    out: list[float] = []
    for w, v, c in blocks:
        out.extend([v] * c)
    return out


def isotonic_bins(
    df: DataFrame,
    score: str | Column,
    label: str | Column,
    lo: float,
    hi: float,
    n_bins: int = 100,
) -> DataFrame:
    """Fit binned isotonic calibration; return the mapping frame
    ``(bin, n, mean_score, frac_pos, calibrated)`` ordered by bin.

    One ``groupBy(bin)`` exchange to ≤ ``n_bins`` rows; exact PAV over
    the collected bin summaries (driver work bounded by ``n_bins``,
    never row count); the result re-enters the cluster via
    ``createDataFrame``, small enough to broadcast-join onto a scored
    frame by bin id. Deterministic: fixed-width
    bins on the raw score, no quantile pass, no RNG.
    """
    s = F.col(score) if isinstance(score, str) else score
    y = (F.col(label) if isinstance(label, str) else label).cast("double")
    bin_w = (hi - lo) / n_bins
    key = F.least(
        F.greatest(F.floor((s - F.lit(lo)) / F.lit(bin_w)), F.lit(0)),
        F.lit(n_bins - 1),
    )
    agg = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(key.cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(s).alias("mean_score"),
            F.avg(y).alias("frac_pos"),
        )
        .orderBy("bin")
    )
    rows = agg.collect()  # bounded: ≤ n_bins rows by construction
    fitted = _pav([r.n for r in rows], [r.frac_pos for r in rows])
    out = [
        (r.bin, r.n, float(r.mean_score), float(r.frac_pos), float(v))
        for r, v in zip(rows, fitted)
    ]
    return df.sparkSession.createDataFrame(
        out, "bin long, n long, mean_score double, frac_pos double, calibrated double"
    )
