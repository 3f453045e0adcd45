"""Storage-layout tests: bucketed join elides the shuffle; partitioned
write prunes partitions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def warehouse(spark, tmp_path):
    # saveAsTable needs a warehouse; the session fixture already has one —
    # just isolate table names per test via a unique db
    db = f"t_{abs(hash(str(tmp_path))) % 10**8}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    yield db
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_bucketed_join_has_no_exchange(spark, warehouse):
    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.sources.bucketing import write_bucketed

    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    write_bucketed(orders, f"{warehouse}.orders_b", ["o_orderkey"], 4,
                   sort_cols=["o_orderkey"])
    write_bucketed(lineitem, f"{warehouse}.lineitem_b", ["l_orderkey"], 4,
                   sort_cols=["l_orderkey"])

    o = spark.table(f"{warehouse}.orders_b")
    l = spark.table(f"{warehouse}.lineitem_b")
    # merge hint: at toy scale the planner would broadcast instead (also
    # shuffle-free, but SMJ-over-buckets is the 100 TB-relevant shape)
    joined = o.hint("merge").join(l, o.o_orderkey == l.l_orderkey).groupBy(
        "o_orderkey"
    ).agg(F.sum("l_quantity").alias("qty"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # bucket spec satisfies the join's distribution on both sides AND the
    # downstream groupBy on the same key: zero shuffle in the whole plan,
    # and the scans confirm the bucket layout was used
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Bucketed: true" in plan

    # and it's still correct
    expect = (
        load_table(spark, SF_SMOKE, "orders")
        .join(load_table(spark, SF_SMOKE, "lineitem"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey").agg(F.sum("l_quantity").alias("qty"))
    )
    assert joined.exceptAll(expect).count() == 0
    assert expect.exceptAll(joined).count() == 0


def test_partitioned_write_prunes(spark, tmp_path):
    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.sources.bucketing import write_partitioned

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "ev_part")
    write_partitioned(ev, path, ["day"])

    one_day = ev.select(F.min("day").alias("d")).first()["d"]
    scan = spark.read.parquet(path).filter(F.col("day") == F.lit(one_day))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # pruned scan reads exactly that day's rows
    want = ev.filter(F.col("day") == F.lit(one_day)).count()
    assert scan.count() == want


def test_cluster_for_join_single_shuffle_each_side(spark):
    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.sources.bucketing import cluster_for_join

    o = load_table(spark, SF_SMOKE, "orders")
    l = load_table(spark, SF_SMOKE, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    lo, ll = cluster_for_join(o, l, ["o_orderkey"], partitions=4)
    joined = lo.join(ll, "o_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # exactly the two explicit repartitions — the join itself adds none
    assert plan.count("Exchange hashpartitioning") == 2


def test_partitioned_write_file_sizing(spark, tmp_path):
    """sort_cols + max_records_per_file: hot partitions split into
    multiple bounded files, and row-group stats are clustered."""
    import glob

    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.sources.bucketing import write_partitioned

    ev = load_table(spark, SF_SMOKE, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "ev_sized")
    write_partitioned(
        ev, path, ["day"], sort_cols=["user_id"], max_records_per_file=500
    )
    # every parquet file respects the record cap
    for f in glob.glob(f"{path}/day=*/*.parquet"):
        n = spark.read.parquet(f).count()
        assert n <= 500, f"{f} has {n} rows"
    # and the round-trip is lossless
    assert spark.read.parquet(path).count() == ev.count()


def test_dynamic_partition_pruning(spark, tmp_path):
    """Join-driven pruning: a filtered dim on the partition key prunes
    fact partitions at runtime (DPP) — the fact scan must carry a
    dynamicpruning subquery, not read all days."""
    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.sources.bucketing import write_partitioned

    ev = load_table(spark, SF_SMOKE, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "ev_dpp")
    write_partitioned(ev, path, ["day"])

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


def test_zorder_tightens_both_dims(spark, tmp_path):
    """Per-file bounding boxes: a single-column sort leaves the other
    dimension's span at ~100% of global in every file; the Z-order
    layout keeps BOTH dims' average spans well under half — that's the
    min/max-stats pruning win for two-predicate scans."""
    import glob

    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.sources.zorder import zorder_by

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "value").filter(
        F.col("value").isNotNull()
    )
    g = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).first()
    span_u = g[1] - g[0] or 1
    span_v = g[3] - g[2] or 1.0

    def avg_spans(path):
        su, sv, n = 0.0, 0.0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            r = spark.read.parquet(f).agg(
                F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
            ).first()
            su += (r[1] - r[0]) / span_u
            sv += (r[3] - r[2]) / span_v
            n += 1
        return su / n, sv / n, n

    zp = str(tmp_path / "z")
    zorder_by(ev, "user_id", "value", num_files=8).write.parquet(zp)
    sp = str(tmp_path / "s")
    ev.repartitionByRange(8, "user_id").sortWithinPartitions("user_id").write.parquet(sp)

    zu, zv, zn = avg_spans(zp)
    su, sv, sn = avg_spans(sp)
    assert zn >= 4 and sn >= 4
    # single-col sort: value mostly unclustered (measured ~0.77)
    assert sv > 0.7, sv
    # z-order: both dims clustered under half the global span
    # (measured ~0.38 / ~0.35)
    assert zu < 0.6 and zv < 0.6, (zu, zv)
    # the second dim tightens by ~2x vs the single-col layout
    assert zv < 0.6 * sv, (zv, sv)


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
