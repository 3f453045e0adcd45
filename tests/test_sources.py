"""Storage-layout tests: partitioned parquet gets dynamic partition
pruning; schema evolution and format round-trips are lossless."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_dynamic_partition_pruning(spark, tmp_path):
    """Join-driven pruning: a filtered dim on the partition key prunes
    fact partitions at runtime (DPP) — the fact scan must carry a
    dynamicpruning subquery, not read all days."""
    from fraud_detection_project_spark.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "ev_dpp")
    ev.write.partitionBy("day").parquet(path)

    days = ev.select("day").distinct().withColumn(
        "is_hot", F.dayofmonth("day") <= 2
    )
    fact = spark.read.parquet(path)
    dim = days.filter(F.col("is_hot"))
    joined = fact.join(dim.hint("broadcast"), "day").groupBy("day").count()

    optimized = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in optimized.lower(), optimized

    expect = ev.join(dim, "day").groupBy("day").count()
    got = {(r["day"], r["count"]) for r in joined.collect()}
    want = {(r["day"], r["count"]) for r in expect.collect()}
    assert got == want


def test_schema_evolution_merge_read(spark, tmp_path):
    """Parquet schema evolution: files written before a column existed
    read as null under mergeSchema — additive evolution never breaks
    old data, the contract a long-lived 100 TB table relies on."""
    from fraud_detection_project_spark.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    path = str(tmp_path / "evolving")
    ev.limit(100).write.parquet(path)
    ev.limit(50).withColumn("risk_score", F.lit(0.5)).write.mode(
        "append"
    ).parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"event_id", "user_id", "risk_score"}
    assert merged.count() == 150
    assert merged.filter(F.col("risk_score").isNull()).count() == 100
    assert merged.filter(F.col("risk_score") == 0.5).count() == 50


def test_multi_format_roundtrip(spark, tmp_path):
    """Source-format breadth: the same frame survives parquet, ORC,
    JSON-lines, and headered CSV round-trips value-exact (CSV/JSON ride
    explicit schemas on read — schema-on-read contract, FIXTURES.md)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a,b", 1.5, True), (2, None, -0.25, False), (3, "", 0.0, None)],
        "id long, s string, x double, flag boolean",
    )
    want = sorted([tuple(r) for r in df.collect()])
    schema = df.schema

    p = str(tmp_path / "t.parquet")
    df.write.parquet(p)
    assert sorted(tuple(r) for r in spark.read.parquet(p).collect()) == want

    o = str(tmp_path / "t.orc")
    df.write.orc(o)
    assert sorted(tuple(r) for r in spark.read.orc(o).collect()) == want

    j = str(tmp_path / "t.json")
    df.write.json(j)
    got_j = sorted(
        tuple(r) for r in spark.read.schema(schema).json(j).collect()
    )
    assert got_j == want

    c = str(tmp_path / "t.csv")
    df.write.option("header", True).csv(c)
    got_c = sorted(
        tuple(r)
        for r in spark.read.options(header=True)
        .schema(schema)
        .csv(c)
        .collect()
    )
    # CSV cannot distinguish NULL string from empty string without an
    # explicit marker — both read back NULL under the default; assert
    # everything else exact and that distinction explicitly
    assert [g[:1] + g[2:] for g in got_c] == [w[:1] + w[2:] for w in want]
    assert [g[1] for g in got_c] == ["a,b", None, None]
