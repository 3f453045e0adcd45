"""Model-evaluation (ml/evaluate.py) and drift (ml/drift.py) metrics.

Oracles are hand-computed numpy implementations of the textbook
definitions (sklearn is not installed in this environment; the numpy
forms below are the same formulas sklearn documents).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fraud_detection_project_spark.ml.evaluate import (
    auc_roc,
    auc_roc_binned,
    binary_metrics,
    calibration_bins,
    log_loss,
)


def _numpy_auc(scores, labels):
    """Mann-Whitney AUC with tie averaging (== sklearn.roc_auc_score)."""
    scores = np.asarray(scores, dtype=float)
    labels = np.asarray(labels)
    order = np.argsort(scores, kind="mergesort")
    s, y = scores[order], labels[order]
    # average ranks (1-based) with ties sharing the mean rank
    ranks = np.empty(len(s))
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[i]:
            j += 1
        ranks[i : j + 1] = (i + j) / 2 + 1
        i = j + 1
    n_pos = int(y.sum())
    n_neg = len(y) - n_pos
    u = ranks[y == 1].sum() - n_pos * (n_pos + 1) / 2
    return u / (n_pos * n_neg)


@pytest.fixture(scope="module")
def scored(spark):
    rng = np.random.RandomState(7)
    scores = np.round(rng.rand(400) * 10, 1)  # 1dp -> plenty of ties
    labels = (rng.rand(400) < 1 / (1 + np.exp(-(scores - 5)))).astype(int)
    df = spark.createDataFrame(
        [(float(s), int(y)) for s, y in zip(scores, labels)],
        "score double, label int",
    )
    return df, scores, labels


class TestAuc:
    def test_matches_numpy_with_ties(self, spark, scored):
        df, scores, labels = scored
        got = auc_roc(df, "score", "label", precision=9).collect()[0]
        assert got["auc"] == pytest.approx(_numpy_auc(scores, labels), abs=1e-8)
        assert got["n_pos"] == int(labels.sum())
        assert got["n_neg"] == int(len(labels) - labels.sum())

    def test_perfect_and_inverted_separation(self, spark):
        df = spark.createDataFrame(
            [(float(i), int(i >= 5)) for i in range(10)],
            "score double, label int",
        )
        assert auc_roc(df, "score", "label").collect()[0]["auc"] == 1.0
        inv = df.withColumn("label", 1 - F.col("label"))
        assert auc_roc(inv, "score", "label").collect()[0]["auc"] == 0.0

    def test_constant_score_is_half(self, spark):
        df = spark.createDataFrame(
            [(1.0, i % 2) for i in range(20)], "score double, label int"
        )
        assert auc_roc(df, "score", "label").collect()[0]["auc"] == 0.5

    def test_binned_close_to_exact(self, spark, scored):
        df, scores, labels = scored
        exact = _numpy_auc(scores, labels)
        got = auc_roc_binned(
            df, "score", "label", lo=0.0, hi=10.0, n_bins=200, precision=9
        ).collect()[0]
        # bins at 0.05 width vs scores on a 0.1 grid -> exact agreement
        assert got["auc"] == pytest.approx(exact, abs=1e-8)
        coarse = auc_roc_binned(
            df, "score", "label", lo=0.0, hi=10.0, n_bins=10, precision=9
        ).collect()[0]
        assert coarse["auc"] == pytest.approx(exact, abs=0.05)

    def test_null_scores_excluded(self, spark):
        df = spark.createDataFrame(
            [(1.0, 0), (2.0, 1), (None, 1)], "score double, label int"
        )
        got = auc_roc(df, "score", "label").collect()[0]
        assert (got["n_pos"], got["n_neg"]) == (1, 1)


class TestBinaryMetrics:
    def test_against_manual_counts(self, spark, scored):
        df, scores, labels = scored
        pred = scores >= 5.0
        tp = int((pred & (labels == 1)).sum())
        fp = int((pred & (labels == 0)).sum())
        fn = int((~pred & (labels == 1)).sum())
        tn = int((~pred & (labels == 0)).sum())
        got = binary_metrics(df, "score", "label", threshold=5.0).collect()[0]
        assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (tp, fp, fn, tn)
        prec, rec = tp / (tp + fp), tp / (tp + fn)
        assert got["precision"] == pytest.approx(prec, abs=1e-6)
        assert got["recall"] == pytest.approx(rec, abs=1e-6)
        assert got["f1"] == pytest.approx(
            2 * prec * rec / (prec + rec), abs=1e-6
        )
        assert got["accuracy"] == pytest.approx(
            (tp + tn) / len(labels), abs=1e-6
        )

    def test_degenerate_threshold_yields_null_precision(self, spark):
        df = spark.createDataFrame(
            [(0.1, 1), (0.2, 0)], "score double, label int"
        )
        got = binary_metrics(df, "score", "label", threshold=9.0).collect()[0]
        assert got["tp"] == 0 and got["fp"] == 0
        assert got["precision"] is None and got["f1"] is None


def _numpy_ks(a, b):
    """Exact two-sample KS via ECDF evaluation at all sample points."""
    a, b = np.sort(np.asarray(a, float)), np.sort(np.asarray(b, float))
    pts = np.concatenate([a, b])
    ca = np.searchsorted(a, pts, side="right") / len(a)
    cb = np.searchsorted(b, pts, side="right") / len(b)
    return float(np.max(np.abs(ca - cb)))


class TestDrift:
    def _frames(self, spark, a, b):
        fa = spark.createDataFrame([(float(v),) for v in a], "value double")
        fb = spark.createDataFrame([(float(v),) for v in b], "value double")
        return fa, fb

    def test_psi_identical_distribution_is_zero(self, spark):
        from fraud_detection_project_spark.ml.drift import psi

        vals = [float(i % 10) for i in range(100)]
        fa, fb = self._frames(spark, vals, vals)
        got = psi(fa, fb, "value", lo=0.0, hi=10.0, n_bins=5).collect()[0]
        assert got["psi"] == pytest.approx(0.0, abs=1e-9)
        assert got["n_expected"] == 100 and got["n_actual"] == 100

    def test_psi_matches_hand_computation(self, spark):
        from fraud_detection_project_spark.ml.drift import psi

        rng = np.random.RandomState(3)
        a = rng.rand(500) * 10
        b = rng.rand(400) * 10 + 2  # shifted -> drift, plus clamping
        fa, fb = self._frames(spark, a, b)
        n_bins, lo, hi = 5, 0.0, 10.0
        width = (hi - lo) / n_bins
        bins_a = np.clip(np.floor((a - lo) / width), 0, n_bins - 1)
        bins_b = np.clip(np.floor((b - lo) / width), 0, n_bins - 1)
        want = 0.0
        for k in range(n_bins):
            fe = max((bins_a == k).mean(), 1e-6)
            fc = max((bins_b == k).mean(), 1e-6)
            want += (fc - fe) * np.log(fc / fe)
        got = psi(fa, fb, "value", lo=lo, hi=hi, n_bins=n_bins).collect()[0]
        # PSI is rounded to 6 dp
        assert got["psi"] == pytest.approx(want, abs=1e-6)

    def test_psi_one_sided_empty_bin_stays_finite(self, spark):
        from fraud_detection_project_spark.ml.drift import psi

        fa, fb = self._frames(spark, [0.5] * 50, [9.5] * 50)
        got = psi(fa, fb, "value", lo=0.0, hi=10.0, n_bins=10).collect()[0]
        assert np.isfinite(got["psi"]) and got["psi"] > 10

    def test_ks_identical_zero_disjoint_one(self, spark):
        from fraud_detection_project_spark.ml.drift import ks_two_sample

        vals = [float(i) for i in range(50)]
        fa, fb = self._frames(spark, vals, vals)
        assert ks_two_sample(fa, fb, "value").collect()[0]["ks"] == 0.0
        fa, fb = self._frames(spark, range(50), range(100, 150))
        got = ks_two_sample(fa, fb, "value").collect()[0]
        assert got["ks"] == 1.0
        assert got["n_a"] == 50 and got["n_b"] == 50

    def test_ks_matches_numpy_with_ties(self, spark):
        from fraud_detection_project_spark.ml.drift import ks_two_sample

        rng = np.random.RandomState(11)
        a = np.round(rng.rand(300) * 10, 1)
        b = np.round(rng.rand(200) * 10 + 1.5, 1)
        fa, fb = self._frames(spark, a, b)
        got = ks_two_sample(fa, fb, "value").collect()[0]
        # KS is rounded to 6 dp
        assert got["ks"] == pytest.approx(_numpy_ks(a, b), abs=1e-6)

    def test_ks_continuous_matches_numpy(self, spark):
        from fraud_detection_project_spark.ml.drift import ks_two_sample

        # 1000 distinct values: the ECDF prefix scan spans several ranges
        rng = np.random.RandomState(13)
        a, b = rng.rand(500) * 10, rng.rand(500) * 10 + 1
        fa, fb = self._frames(spark, a, b)
        got = ks_two_sample(fa, fb, "value").collect()[0]
        assert got["ks"] == pytest.approx(_numpy_ks(a, b), abs=1e-6)


class TestLogLossCalibration:
    def test_log_loss_matches_numpy(self, spark, scored):
        df, scores, labels = scored
        p = 1 / (1 + np.exp(-(scores - 5)))
        pc = np.clip(p, 1e-15, 1 - 1e-15)
        want = float(
            -np.mean(labels * np.log(pc) + (1 - labels) * np.log(1 - pc))
        )
        prob = 1 / (1 + F.exp(-(F.col("score") - 5)))
        got = log_loss(df, prob, "label").collect()[0]
        # log loss is rounded to 6 dp
        assert got["log_loss"] == pytest.approx(want, abs=1e-6)
        assert got["n"] == len(labels)

    def test_calibration_bins_partition_and_rates(self, spark, scored):
        df, scores, labels = scored
        rows = calibration_bins(
            df, "score", "label", lo=0.0, hi=10.0, n_bins=5
        ).collect()
        assert sum(r["n"] for r in rows) == len(labels)
        assert [r["bin"] for r in rows] == sorted(r["bin"] for r in rows)
        for r in rows:
            in_bin = (scores >= r["bin"] * 2.0) & (
                (scores < (r["bin"] + 1) * 2.0) | (r["bin"] == 4)
            )
            assert r["n"] == int(in_bin.sum())
            assert r["frac_pos"] == pytest.approx(
                labels[in_bin].mean(), abs=1e-6
            )


class TestEwmaBounded:
    def test_matches_pandas_ewm_within_window(self, spark):
        """For series shorter than n, bounded EWMA == pandas
        ewm(alpha, adjust=True).mean() exactly."""
        import pandas as pd
        from fraud_detection_project_spark.operators.windows import (
            ewma_bounded,
        )

        rng = np.random.RandomState(17)
        vals = rng.rand(15) * 10
        df = spark.createDataFrame(
            [(1, i, float(v)) for i, v in enumerate(vals)],
            "k long, t long, value double",
        )
        got = (
            ewma_bounded(df, ["k"], ["t"], "value", alpha=0.3, n=20,
                         precision=None)
            .orderBy("t")
            .collect()
        )
        want = pd.Series(vals).ewm(alpha=0.3, adjust=True).mean()
        for r, w in zip(got, want):
            assert r["ewma"] == pytest.approx(float(w), rel=1e-12)

    def test_truncation_at_n(self, spark):
        """Row 25 of a constant-then-spike series must only see the
        last 20 values."""
        from fraud_detection_project_spark.operators.windows import (
            ewma_bounded,
        )

        vals = [100.0] * 10 + [1.0] * 20
        df = spark.createDataFrame(
            [(1, i, v) for i, v in enumerate(vals)],
            "k long, t long, value double",
        )
        got = (
            ewma_bounded(df, ["k"], ["t"], "value", alpha=0.3, n=20,
                         precision=None)
            .orderBy("t")
            .collect()
        )
        # last row's trailing-20 window is all 1.0 -> ewma exactly 1.0
        assert got[-1]["ewma"] == pytest.approx(1.0, abs=1e-12)
        # an infinite-history EWMA would still carry spike mass > 1e-4
        beta = 0.7
        inf_hist = (
            sum(v * beta ** (len(vals) - 1 - i) for i, v in enumerate(vals))
            * 0.3 / (1 - beta ** len(vals))
        )
        assert inf_hist > 1.0 + 1e-4

    def test_null_rows_dropped_everywhere(self, spark):
        from fraud_detection_project_spark.operators.windows import (
            ewma_bounded,
        )

        df = spark.createDataFrame(
            [(1, 0, 2.0), (1, 1, None), (1, 2, 4.0)],
            "k long, t long, value double",
        )
        got = (
            ewma_bounded(df, ["k"], ["t"], "value", alpha=0.5, n=20,
                         precision=None)
            .orderBy("t")
            .collect()
        )
        assert [r["t"] for r in got] == [0, 2]
        # second row: (2*0.5 + 4) / 1.5
        assert got[1]["ewma"] == pytest.approx((2 * 0.5 + 4) / 1.5)

    def test_keys_do_not_mix(self, spark):
        from fraud_detection_project_spark.operators.windows import (
            ewma_bounded,
        )

        df = spark.createDataFrame(
            [(1, 0, 10.0), (2, 1, 99.0), (1, 2, 20.0)],
            "k long, t long, value double",
        )
        got = {
            (r["k"], r["t"]): r["ewma"]
            for r in ewma_bounded(
                df, ["k"], ["t"], "value", alpha=0.5, n=20, precision=None
            ).collect()
        }
        assert got[(1, 2)] == pytest.approx((10 * 0.5 + 20) / 1.5)
        assert got[(2, 1)] == pytest.approx(99.0)
