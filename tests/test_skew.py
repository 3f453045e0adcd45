"""Salted aggregation: exactness vs the unsalted plan, and the
fan-out property that motivates it."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_salted_agg_exact(spark):
    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.operators.skew import salted_agg

    ev = load_table(spark, SF_SMOKE, "events")
    got = salted_agg(
        ev,
        ["event_type"],
        {
            "total_value": ("value", "sum"),
            "n": ("event_id", "count"),
            "max_value": ("value", "max"),
        },
        salt_buckets=8,
    )
    want = ev.groupBy("event_type").agg(
        F.sum("value").alias("total_value"),
        F.count("event_id").alias("n"),
        F.max("value").alias("max_value"),
    )
    g = {r["event_type"]: r for r in got.collect()}
    w = {r["event_type"]: r for r in want.collect()}
    assert set(g) == set(w)
    for k in w:
        assert g[k]["n"] == w[k]["n"]
        assert abs(g[k]["total_value"] - w[k]["total_value"]) < 1e-6
        assert g[k]["max_value"] == w[k]["max_value"]


def test_salted_agg_rejects_non_algebraic(spark):
    import pytest

    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.operators.skew import salted_agg

    ev = load_table(spark, SF_SMOKE, "events")
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_agg(ev, ["event_type"], {"x": ("value", "avg")})


def test_salted_agg_fans_out_hot_key(spark):
    """The hot key's phase-1 rows really are spread across salts."""
    from fraud_detection_project_spark.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    salted = ev.withColumn("__salt", (F.rand(seed=42) * 8).cast("int"))
    n_salts = (
        salted.groupBy("user_id", "__salt")
        .count()
        .groupBy("user_id")
        .agg(F.countDistinct("__salt").alias("s"))
        .agg(F.max("s"))
        .first()[0]
    )
    assert n_salts >= 6  # 1000 events over 15 users → every salt hit


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling without salting: AQE detects the hot key's
    oversized shuffle partition and splits it (skew=true in the final
    adaptive plan) — the no-code-change complement to salted_join for
    sort-merge joins. Thresholds are lowered to make toy data register
    as skewed; at real scale the defaults (256MB/factor 5) do this."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        left = spark.range(0, 300000).select(
            F.when(F.col("id") % 10 < 9, F.lit(1))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        agg = left.join(right, "k").agg(F.sum("payload").alias("s"))
        (row,) = agg.collect()
        # exactness unaffected by the split
        assert row["s"] == sum(
            i for i in range(300000)
        ), "skew split changed the result"
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


class TestJoinAdvisor:
    # one row past the 100k-row broadcast limit
    BIG_DIM = 100_001

    def _advise(self, spark, fact_keys, dim_n):
        from fraud_detection_project_spark.operators.skew import (
            advise_join_strategy,
        )

        fact = spark.createDataFrame([(k,) for k in fact_keys], "k long")
        dim = spark.range(dim_n).withColumnRenamed("id", "d")
        return advise_join_strategy(fact, "k", dim, "d").first()

    def test_small_dim_broadcasts(self, spark):
        got = self._advise(spark, list(range(100)), 100_000)
        assert got["recommendation"] == "broadcast"
        assert got["fact_rows"] == 100 and got["dim_rows"] == 100_000

    def test_skewed_fact_salts(self, spark):
        # one hot key with 500 rows over 50 keys -> ratio >> 20
        keys = [0] * 500 + list(range(1, 50))
        got = self._advise(spark, keys, self.BIG_DIM)
        assert got["recommendation"] == "shuffle+salt"
        assert got["skew_ratio"] > 20

    def test_uniform_big_dim_shuffles(self, spark):
        got = self._advise(spark, list(range(200)), self.BIG_DIM)
        assert got["recommendation"] == "shuffle"


class TestCapacityPlan:
    def test_plan_shapes_and_spill_guard(self):
        import sys, os
        sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
        from capacity_plan import plan

        p = plan(
            "/root/testdata/sf0.01",
            target_mult=1000.0,
            executors=1000,
            cores=4,
            task_mem_mb=1024,
        )
        rec = p["recommendations"]
        # snapped to a power of two, at least the slot count
        n = rec["spark.sql.shuffle.partitions"]
        assert n >= 4000 and (n & (n - 1)) == 0
        # per-partition share must be consistent with the guard verdict
        share = p["spill_check"]["bytes_per_partition_at_recommendation"]
        assert p["spill_check"]["fits_task_memory"] == (
            share <= 1024 * 1024 * 1024
        )
        assert p["tables"]["lineitem"]["rows"] > p["tables"]["nation"]["rows"]

    def test_undersized_memory_flags_spill(self):
        import sys, os
        sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
        from capacity_plan import plan

        p = plan(
            "/root/testdata/sf0.01",
            target_mult=10**7,  # absurd scale, tiny cluster
            executors=2,
            cores=1,
            task_mem_mb=64,
        )
        assert not p["spill_check"]["fits_task_memory"]
        assert "raise" in p["spill_check"]["note"]
