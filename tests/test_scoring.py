"""ml/scoring.py — batch linear scoring and LOO target encoding."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fraud_detection_project_spark.ml.scoring import (
    loo_target_encode,
    score_linear,
)


class TestScoreLinear:
    def test_matches_numpy_logistic(self, spark):
        rng = np.random.RandomState(5)
        vecs = rng.randn(30, 8).astype(np.float32)
        w = rng.randn(8)
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "id long, embedding array<float>",
        )
        got = {
            r["id"]: r["score"]
            for r in score_linear(df, "embedding", w, intercept=0.25).collect()
        }
        want = 1 / (1 + np.exp(-(vecs.astype(np.float64) @ w + 0.25)))
        for i in range(30):
            # scores are rounded to 6 dp
            assert got[i] == pytest.approx(float(want[i]), abs=5e-7)

    def test_hand_computed_score_rounds_to_6dp(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, 2.0])], "id long, embedding array<float>"
        )
        got = score_linear(
            df, "embedding", [3.0, -1.0], intercept=1.0
        ).collect()[0]
        # σ(3·1 − 1·2 + 1) = σ(2) = 0.88079707…
        assert got["score"] == 0.880797


class TestLooTargetEncode:
    def test_hand_computed(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", 6.0), ("b", 10.0), ("b", 20.0)],
            "k string, y double",
        )
        got = {
            (r["k"], r["y"]): r["loo_enc"]
            for r in loo_target_encode(df, ["k"], "y").collect()
        }
        assert got[("a", 1.0)] == pytest.approx((2 + 6) / 2)
        assert got[("a", 6.0)] == pytest.approx((1 + 2) / 2)
        assert got[("b", 10.0)] == pytest.approx(20.0)

    def test_singleton_falls_back_to_global_mean(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("solo", 100.0)], "k string, y double"
        )
        got = {
            r["k"]: r["loo_enc"]
            for r in loo_target_encode(df, ["k"], "y").collect()
            if r["k"] == "solo"
        }
        assert got["solo"] == pytest.approx((1 + 3 + 100) / 3)

    def test_null_target_encodes_null_and_is_excluded(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("a", None), ("a", 3.0)], "k string, y double"
        )
        rows = loo_target_encode(df, ["k"], "y").collect()
        by_y = {r["y"]: r["loo_enc"] for r in rows}
        assert by_y[None] is None
        # the null row contributes to neither sum nor count
        assert by_y[1.0] == pytest.approx(3.0)
        assert by_y[3.0] == pytest.approx(1.0)

    def test_reconstruction_property(self, spark):
        """loo·(n−1) + y recovers the group sum for every non-singleton
        row — the algebraic identity that pins the formula, up to the
        6-dp rounding of loo scaled by n−1."""
        rng = np.random.RandomState(9)
        rows = [(f"k{i % 7}", float(rng.rand())) for i in range(200)]
        df = spark.createDataFrame(rows, "k string, y double")
        out = loo_target_encode(df, ["k"], "y")
        pdf = out.toPandas()
        for k, sub in pdf.groupby("k"):
            s = sub["y"].sum()
            for _, r in sub.iterrows():
                assert r["loo_enc"] * (len(sub) - 1) + r["y"] == pytest.approx(
                    s, abs=len(sub) * 5e-7
                )
