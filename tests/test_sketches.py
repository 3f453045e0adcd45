"""Count-min sketch + hash-filter pruning (operators/sketches.py) and
average precision (ml/evaluate.py:average_precision)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


class TestCountMin:
    def _events(self, spark, counts: dict[int, int]):
        rows = [(k,) for k, n in counts.items() for _ in range(n)]
        random.Random(7).shuffle(rows)
        return spark.createDataFrame(rows, "user_id long")

    def test_never_underestimates_and_bounded(self, spark):
        from fraud_detection_project_spark.operators.sketches import (
            count_min_estimate,
        )

        counts = {k: (50 if k < 3 else 2) for k in range(100)}
        df = self._events(spark, counts)
        n = sum(counts.values())
        got = {
            r["user_id"]: r["cms_est"]
            for r in count_min_estimate(df, "user_id", width=64).collect()
        }
        assert set(got) == set(counts)
        for k, exact in counts.items():
            assert got[k] >= exact, f"underestimate at {k}"
            assert got[k] <= exact + 8 * n / 64

    def test_exact_when_width_dwarfs_cardinality(self, spark):
        from fraud_detection_project_spark.operators.sketches import (
            count_min_estimate,
        )

        counts = {k: k + 1 for k in range(10)}
        df = self._events(spark, counts)
        got = {
            r["user_id"]: r["cms_est"]
            for r in count_min_estimate(
                df, "user_id", width=65536
            ).collect()
        }
        assert got == counts

    def test_probe_subset(self, spark):
        from fraud_detection_project_spark.operators.sketches import (
            count_min_estimate,
        )

        df = self._events(spark, {1: 5, 2: 7, 3: 9})
        probes = spark.createDataFrame([(2,)], "user_id long")
        got = count_min_estimate(df, "user_id", probes=probes, width=65536).collect()
        assert len(got) == 1 and got[0]["cms_est"] == 7


class TestHashFilter:
    def test_no_false_negatives_even_at_tiny_width(self, spark):
        from fraud_detection_project_spark.operators.sketches import (
            hash_filter_semijoin,
        )

        fact = spark.createDataFrame([(i,) for i in range(1000)], "k long")
        dim = spark.createDataFrame([(i,) for i in range(0, 1000, 50)], "d long")
        # 8 buckets guarantees heavy false positives; never negatives
        filtered = hash_filter_semijoin(fact, "k", dim, "d", num_buckets=8)
        kept = {r["k"] for r in filtered.collect()}
        assert {i for i in range(0, 1000, 50)} <= kept

    def test_prunes_most_nonmatches_at_sane_width(self, spark):
        from fraud_detection_project_spark.operators.sketches import (
            hash_filter_semijoin,
        )

        fact = spark.createDataFrame([(i,) for i in range(2000)], "k long")
        dim = spark.createDataFrame([(1,), (2,), (3,)], "d long")
        filtered = hash_filter_semijoin(
            fact, "k", dim, "d", num_buckets=1 << 16
        )
        n = filtered.count()
        assert 3 <= n <= 3 + 2000 * 3 * 3 // (1 << 16) + 5

    def test_multiplicity_preserved(self, spark):
        from fraud_detection_project_spark.operators.sketches import (
            hash_filter_semijoin,
        )

        fact = spark.createDataFrame([(1,), (1,), (2,)], "k long")
        dim = spark.createDataFrame([(1,)], "d long")
        out = hash_filter_semijoin(fact, "k", dim, "d", num_buckets=1 << 16)
        assert [r["k"] for r in out.collect()] == [1, 1]


class TestAveragePrecision:
    def _ap(self, spark, scored):
        from fraud_detection_project_spark.ml.evaluate import average_precision

        df = spark.createDataFrame(scored, "score double, y int")
        return average_precision(df, "score", "y").first()

    def test_hand_computed_interleaved(self, spark):
        # thresholds desc: P=1 R=.5 | P=.5 | P=2/3 R=1 | P=.5
        # AP = .5*1 + .5*(2/3) = 5/6
        got = self._ap(
            spark, [(0.9, 1), (0.8, 0), (0.7, 1), (0.6, 0)]
        )
        assert abs(got["average_precision"] - 5 / 6) < 1e-6
        assert got["n_pos"] == 2 and got["n"] == 4

    def test_perfect_ranking_is_one(self, spark):
        got = self._ap(spark, [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)])
        assert got["average_precision"] == 1.0

    def test_constant_score_gives_prevalence(self, spark):
        got = self._ap(spark, [(0.5, 1), (0.5, 0), (0.5, 0), (0.5, 0)])
        assert abs(got["average_precision"] - 0.25) < 1e-6


class TestCmsInnerProduct:
    def _est(self, spark, a, b, **kw):
        from fraud_detection_project_spark.operators.sketches import (
            count_min_inner_product,
        )

        da = spark.createDataFrame([(x,) for x in a], "k long")
        db = spark.createDataFrame([(x,) for x in b], "k long")
        return count_min_inner_product(da, "k", db, "k", **kw).first()[
            "join_size_est"
        ]

    def test_exact_at_wide_width(self, spark):
        # true size = sum of freq products: 2*1 (k=1) + 1*3 (k=2) = 5
        got = self._est(spark, [1, 1, 2, 3], [1, 2, 2, 2], width=1 << 20)
        assert got == 5

    def test_disjoint_keys_estimate_zero(self, spark):
        assert self._est(spark, [1, 2, 3], [10, 11], width=1 << 20) == 0

    def test_never_underestimates_at_tiny_width(self, spark):
        got = self._est(spark, list(range(100)) * 2, list(range(50, 150)), width=16)
        # exact = 50 keys shared x 2 x 1 = 100
        assert got >= 100


class TestHistogramSketch:
    def test_shard_merge_equals_full_build(self, spark):
        from pyspark.sql import functions as F

        from fraud_detection_project_spark.operators.sketches import (
            histogram_sketch,
        )

        # both shards hold v = 0 (ids 0, 977) and v = 976 * 1.5 (ids 976,
        # 1953), so each one's measured range is the full build's
        base = spark.range(0, 2000).select(
            "id", (F.col("id") % 977 * 1.5).alias("v")
        )
        h_full = histogram_sketch(base, "v", n_bins=64)
        h_a = histogram_sketch(base.filter(F.col("id") % 2 == 0), "v", n_bins=64)
        h_b = histogram_sketch(base.filter(F.col("id") % 2 == 1), "v", n_bins=64)
        assert {(r["lo"], r["hi"]) for r in h_a.union(h_b).collect()} == {
            (0.0, 976 * 1.5)
        }
        merged = (
            h_a.unionByName(h_b)
            .groupBy("bin", "lo", "hi", "n_bins")
            .agg(F.sum("cnt").alias("cnt"))
        )
        want = {r["bin"]: r["cnt"] for r in h_full.collect()}
        got = {r["bin"]: r["cnt"] for r in merged.collect()}
        assert got == want

    def test_quantile_estimates_within_one_bin_width(self, spark):
        import random

        from pyspark.sql import functions as F

        from fraud_detection_project_spark.operators.sketches import (
            histogram_sketch,
            quantiles_from_histogram,
        )

        rng = random.Random(3)
        vals = [rng.gauss(50, 12) for _ in range(5000)]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        n_bins = 128
        hist = histogram_sketch(df, "v", n_bins=n_bins)
        est = {
            r["prob"]: r["est"]
            for r in quantiles_from_histogram(
                hist, [0.1, 0.5, 0.9]
            ).collect()
        }
        width = (max(vals) - min(vals)) / n_bins
        sv = sorted(vals)
        for p in (0.1, 0.5, 0.9):
            exact = sv[min(len(sv) - 1, int(p * len(sv)))]
            assert abs(est[p] - exact) <= width + 1e-9, (p, est[p], exact)

    def test_empty_input_yields_empty_sketch(self, spark):
        from pyspark.sql import functions as F

        from fraud_detection_project_spark.operators.sketches import (
            histogram_sketch,
        )

        df = spark.createDataFrame([], "v double")
        assert histogram_sketch(df, "v").count() == 0
        # all-null column behaves the same
        dn = spark.createDataFrame([(None,), (None,)], "v double")
        assert histogram_sketch(dn, "v").count() == 0

    def test_mixed_range_merge_rejected(self, spark):
        import pytest as _pytest

        from pyspark.sql import functions as F

        from fraud_detection_project_spark.operators.sketches import (
            histogram_sketch,
            quantiles_from_histogram,
        )

        df = spark.range(0, 100).select(F.col("id").cast("double").alias("v"))
        a = histogram_sketch(df, "v", n_bins=8)
        b = histogram_sketch(df.filter(F.col("v") < 50), "v", n_bins=8)
        with _pytest.raises(ValueError, match="configurations"):
            quantiles_from_histogram(a.unionByName(b), [0.5])


class TestMisraGries:
    """misra_gries guarantee tests: the candidate SET is
    partition-dependent, so assertions cover only the deterministic
    frequent-items guarantees (≤ k rows, underestimate ≤ n/(k+1),
    every true heavy item present, exact when distinct ≤ k)."""

    def _df(self, spark, counts, parts=7):
        rows = [(k,) for k, n in counts.items() for _ in range(n)]
        random.Random(11).shuffle(rows)
        return spark.createDataFrame(rows, "item string").repartition(parts)

    def test_bound_and_heavy_presence(self, spark):
        from fraud_detection_project_spark.operators.sketches import (
            misra_gries,
        )

        counts = {f"w{i}": (400 if i < 2 else 3) for i in range(60)}
        n = sum(counts.values())
        k = 5
        got = {
            r["item"]: r["est"]
            for r in misra_gries(self._df(spark, counts), "item", k).collect()
        }
        assert len(got) <= k
        for item, est in got.items():
            exact = counts[item]
            assert 0 < est <= exact
            assert exact - est <= n / (k + 1)
        # true heavy hitters (count > n/(k+1)) must all survive
        for item, exact in counts.items():
            if exact > n / (k + 1):
                assert item in got

    def test_exact_when_distinct_le_k(self, spark):
        from fraud_detection_project_spark.operators.sketches import (
            misra_gries,
        )

        counts = {"a": 17, "b": 5, "c": 29}
        got = {
            r["item"]: r["est"]
            for r in misra_gries(self._df(spark, counts, parts=3), "item", 8).collect()
        }
        assert got == counts
