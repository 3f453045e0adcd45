"""Binned isotonic (PAV) calibration."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from fraud_detection_project_spark.ml.calibration import (
    _pav,
    isotonic_bins,
)


def _brute_pav(w, v):
    """O(n²) reference: repeatedly merge any adjacent violating pair."""
    blocks = [[wi, vi, [i]] for i, (wi, vi) in enumerate(zip(w, v))]
    changed = True
    while changed:
        changed = False
        for i in range(len(blocks) - 1):
            if blocks[i][1] > blocks[i + 1][1]:
                w1, v1, idx1 = blocks[i]
                w2, v2, idx2 = blocks[i + 1]
                wt = w1 + w2
                blocks[i : i + 2] = [[wt, (w1 * v1 + w2 * v2) / wt, idx1 + idx2]]
                changed = True
                break
    out = [0.0] * len(v)
    for wt, val, idxs in blocks:
        for i in idxs:
            out[i] = val
    return out


class TestPAV:
    def test_matches_brute_force_randomized(self):
        rng = random.Random(42)
        for _ in range(50):
            n = rng.randint(1, 30)
            w = [rng.randint(1, 10) for _ in range(n)]
            v = [rng.uniform(0, 1) for _ in range(n)]
            got = _pav(w, v)
            exp = _brute_pav(w, v)
            assert all(math.isclose(a, b, abs_tol=1e-12) for a, b in zip(got, exp))

    def test_monotone_and_mass_preserving(self):
        rng = random.Random(7)
        w = [rng.randint(1, 5) for _ in range(40)]
        v = [rng.uniform(0, 1) for _ in range(40)]
        got = _pav(w, v)
        assert all(a <= b + 1e-12 for a, b in zip(got, got[1:]))
        assert math.isclose(
            sum(wi * gi for wi, gi in zip(w, got)),
            sum(wi * vi for wi, vi in zip(w, v)),
            rel_tol=1e-12,
        )

    def test_already_monotone_is_identity(self):
        v = [0.1, 0.2, 0.2, 0.5, 0.9]
        assert _pav([1] * 5, v) == v


class TestIsotonicBins:
    def _scored(self, spark, n=4000):
        # score weakly-monotone in label probability with noise
        return spark.range(n).select(
            ((F.col("id") % 100) / 100.0).alias("s"),
            (
                F.pmod(F.col("id") * 2654435761, F.lit(97))
                < (F.col("id") % 100)
            ).alias("y"),
        )

    def test_mapping_contract(self, spark):
        df = self._scored(spark)
        m = isotonic_bins(df, "s", "y", 0.0, 1.0, n_bins=25).collect()
        cals = [r.calibrated for r in m]
        assert all(a <= b + 1e-12 for a, b in zip(cals, cals[1:]))
        mass_fit = sum(r.n * r.calibrated for r in m)
        mass_raw = sum(r.n * r.frac_pos for r in m)
        assert math.isclose(mass_fit, mass_raw, rel_tol=1e-12)
        assert len(m) <= 25
        assert sum(r.n for r in m) == df.count()

    def test_out_of_range_scores_clamp(self, spark):
        df = spark.createDataFrame(
            [(-5.0, False), (99.0, True)], ["s", "y"]
        )
        m = isotonic_bins(df, "s", "y", 0.0, 1.0, n_bins=4)
        rows = sorted(m.collect(), key=lambda r: r.bin)
        assert [r.bin for r in rows] == [0, 3]  # clamped to edge bins
