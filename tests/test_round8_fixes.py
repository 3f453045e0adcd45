"""Round-8 regression tests for the ADVICE r7 / VERDICT r7 fixes.

- streaming AMS sign hash: string and negative keys must spread across
  BOTH signs (the cast('long')-NULL hazard made every row -1), and the
  streamed state must equal the batch law for those key types too;
- partitioned_prefix_sum: colliding / duplicate out_col names raise
  instead of silently overwriting input columns via schema.add;
- hyperplane_bucket lazy dim: dim=None is bit-equal to the explicit
  dim and costs ZERO extra Spark jobs at operator-build time;
- smote: dim inference rides the class-count aggregate — same job
  count as passing dim explicitly.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _jobs(spark) -> int:
    # MAX job id, not len(): job ids are sequential, so deltas of the
    # max count launched jobs exactly — while len() silently DROPS when
    # the UI evicts old jobs past spark.ui.retainedJobs, which made this
    # helper go backwards (delta -94) deep into a full-suite session.
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


class TestAmsSignHash:
    def test_string_keys_spread_both_signs(self, spark):
        """ADVICE r7: cast('long') on a string key is NULL, the when()
        condition is NULL, and every row took otherwise(-1) — so
        Z_j = -batch_count and the F2 estimate silently became n²."""
        from fraud_detection_project_spark.streaming.sketches import (
            _ams_batch_delta,
        )

        batch = spark.createDataFrame(
            [(f"user_{i}",) for i in range(200)], "k string"
        )
        rows = _ams_batch_delta(batch, "k", 8).collect()
        assert len(rows) == 8
        # all-(-1) signs ⇒ z == -200 for every estimator; a healthy
        # ±1 hash keeps |z| well under n for ALL estimators at n=200
        assert all(abs(r["z"]) < 200 for r in rows)
        assert any(r["z"] != rows[0]["z"] for r in rows)  # js vary

    def test_negative_keys_spread_both_signs(self, spark):
        """Spark % keeps the dividend's sign: a negative long key made
        the pre-fix operand negative ⇒ always < 499991 ⇒ sign +1 for
        every row. pmod restores the two-sided draw."""
        from fraud_detection_project_spark.streaming.sketches import (
            _ams_batch_delta,
        )

        batch = spark.createDataFrame(
            [(-i,) for i in range(1, 201)], "k long"
        )
        rows = _ams_batch_delta(batch, "k", 8).collect()
        assert all(abs(r["z"]) < 200 for r in rows)

    def test_string_key_stream_equals_batch(self, spark, tmp_path):
        """Two string-keyed micro-batches merged sequentially must leave
        exactly the state of the combined batch (add-mergeability holds
        for the hashed-key path too)."""
        from fraud_detection_project_spark.streaming.sketches import (
            _ams_batch_delta,
            merge_ams_batch,
            read_ams,
        )

        b1 = spark.createDataFrame(
            [(f"u{i % 17}",) for i in range(120)], "k string"
        )
        b2 = spark.createDataFrame(
            [(f"u{i % 23}",) for i in range(80)], "k string"
        )
        path = str(tmp_path / "ams_state")
        merge_ams_batch(spark, b1, "k", path, epoch=0, stream_id=None)
        merge_ams_batch(spark, b2, "k", path, epoch=1, stream_id=None)
        got = {r["j"]: r["z"] for r in read_ams(spark, path).collect()}
        want = {
            r["j"]: r["z"]
            for r in _ams_batch_delta(b1.unionByName(b2), "k", 8).collect()
        }
        assert got == want and len(got) == 8

    def test_nonneg_integral_draw_unchanged(self, spark):
        """pmod ≡ % for non-negative operands: the fixed path must
        reproduce the batch twin's oracle draw bit-for-bit (the driver
        hash of ams_f2_sketch_audit depends on it)."""
        from fraud_detection_project_spark.streaming.sketches import (
            _ams_batch_delta,
        )

        batch = spark.createDataFrame([(i % 50,) for i in range(300)], "k long")
        got = {r["j"]: r["z"] for r in _ams_batch_delta(batch, "k", 4).collect()}
        legacy_sign = F.when(
            (F.col("k").cast("long") * (1000003 + 2 * F.col("j")) + 7)
            % 999983
            * 40503
            % 999983
            < 499991,
            F.lit(1),
        ).otherwise(F.lit(-1))
        want = {
            r["j"]: r["z"]
            for r in batch.withColumn(
                "j", F.explode(F.sequence(F.lit(0), F.lit(3)))
            )
            .groupBy("j")
            .agg(F.sum(legacy_sign).cast("long").alias("z"))
            .collect()
        }
        assert got == want


class TestPrefixSumNameValidation:
    def test_duplicate_out_cols_raise(self, spark):
        from fraud_detection_project_spark.operators.indexing import (
            partitioned_prefix_sum,
        )

        df = spark.createDataFrame([(i, 1, 2) for i in range(10)], "o int, a int, b int")
        with pytest.raises(ValueError, match="distinct"):
            partitioned_prefix_sum(df, ["o"], ["a", "b"], ["c", "c"])

    def test_colliding_out_col_raises(self, spark):
        from fraud_detection_project_spark.operators.indexing import (
            partitioned_prefix_sum,
        )

        df = spark.createDataFrame([(i, 1) for i in range(10)], "o int, a int")
        with pytest.raises(ValueError, match="exist in the input"):
            partitioned_prefix_sum(df, ["o"], ["a"], ["o"])


class TestLazyDimInference:
    def test_lazy_dim_bit_equal_to_explicit(self, spark):
        from fraud_detection_project_spark.operators.similarity import (
            hyperplane_bucket,
        )

        import numpy as np

        rng = np.random.RandomState(7)
        rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(64)]
        df = spark.createDataFrame(rows, "id long, v array<double>")
        explicit = {
            r["id"]: r["b"]
            for r in df.select(
                "id", hyperplane_bucket("v", 16, bits=8).alias("b")
            ).collect()
        }
        lazy = {
            r["id"]: r["b"]
            for r in df.select(
                "id", hyperplane_bucket("v", None, bits=8).alias("b")
            ).collect()
        }
        assert explicit == lazy

    def test_near_dup_default_build_runs_no_job(self, spark):
        """VERDICT r7 item 5: cosine_near_dup_pairs(df) with default
        args must not pay a .first() driver job just to learn the
        vector width — operator construction is job-free."""
        from fraud_detection_project_spark.operators.similarity import (
            cosine_near_dup_pairs,
        )

        import numpy as np

        rng = np.random.RandomState(3)
        rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(32)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        df.count()  # materialize any lazy source work first
        before = _jobs(spark)
        out = cosine_near_dup_pairs(df, threshold=0.5)
        assert _jobs(spark) == before, "operator build triggered a Spark job"
        assert out.columns == ["id_a", "id_b", "cosine_sim"]

    def test_smote_all_null_features_raise_cleanly(self, spark):
        """F.size(NULL array) is -1 under non-ANSI semantics — the
        inference agg must null-guard with when(), else an all-null
        feature column silently becomes dim=-1 and explodes deep
        inside the projection kernel instead of the intended error."""
        from fraud_detection_project_spark.ml.imbalance import smote

        rows = [(i, int(i < 4), None) for i in range(16)]
        df = spark.createDataFrame(rows, "id long, y int, f array<double>")
        with pytest.raises(ValueError, match="no non-null vectors"):
            smote(df, "y", "f", "id", k=2)

    def test_smote_dim_inference_adds_no_job(self, spark):
        from fraud_detection_project_spark.ml.imbalance import smote

        import numpy as np

        rng = np.random.RandomState(5)
        rows = [
            (i, int(i < 8), [float(x) for x in rng.normal(size=4)])
            for i in range(48)
        ]
        df = spark.createDataFrame(rows, "id long, y int, f array<double>")
        before = _jobs(spark)
        smote(df, "y", "f", "id", k=2)
        # the width rides in the class-count aggregate, so the build is
        # its three collects (class counts + width, projection spread,
        # bucket counts) at two jobs each under AQE: 6 on local[4], the
        # count measured when the width could still be passed in; a
        # separate width probe would add jobs
        assert _jobs(spark) - before <= 6
