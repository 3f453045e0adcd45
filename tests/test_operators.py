"""Operator-level tests: joins (J1 geolocation semantics, as-of), windows
(W1 boundary closedness), cleaning chain, aggregates."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fraud_detection_project_spark.operators.cleaning import (
    clean_transactions,
    handle_missing_values,
    remove_duplicates,
)
from fraud_detection_project_spark.operators.joins import as_of_join, geolocate
from tests.conftest import SF_SMOKE
from fraud_detection_project_spark.operators.windows import rolling_count_24h


def ts(s):
    return datetime.datetime.fromisoformat(s)


class TestGeolocate:
    def test_match_unmatched_and_null(self, spark):
        txns = spark.createDataFrame(
            [Row(id=1, ip_address_int=150), Row(id=2, ip_address_int=9999),
             Row(id=3, ip_address_int=None)],
            "id int, ip_address_int long",
        )
        dim = spark.createDataFrame(
            [Row(lower_bound_ip_address_int=100, upper_bound_ip_address_int=200,
                 country="AA")],
        )
        out = {r["id"]: r["country"] for r in geolocate(txns, dim).collect()}
        # matched; past upper bound → Unknown (transform_data.py:38-43);
        # null IP → Unknown
        assert out == {1: "AA", 2: "Unknown", 3: "Unknown"}

    def test_boundary_inclusive(self, spark):
        txns = spark.createDataFrame([Row(id=1, ip_address_int=100), Row(id=2, ip_address_int=200)])
        dim = spark.createDataFrame(
            [Row(lower_bound_ip_address_int=100, upper_bound_ip_address_int=200, country="AA")]
        )
        out = {r["id"]: r["country"] for r in geolocate(txns, dim).collect()}
        assert out == {1: "AA", 2: "AA"}


class TestAsOfJoin:
    def test_backward(self, spark):
        left = spark.createDataFrame(
            [Row(id=1, k="u", t=10), Row(id=2, k="u", t=20), Row(id=3, k="u", t=5),
             Row(id=4, k="v", t=10)],
        )
        right = spark.createDataFrame(
            [Row(k="u", rt=8, payload="a"), Row(k="u", rt=20, payload="b"),
             Row(k="w", rt=1, payload="z")],
        )
        out = as_of_join(left, right, on="k", left_time="t", right_time="rt",
                         payload=["payload"])
        got = {r["id"]: r["payload"] for r in out.collect()}
        # t=10 → rt=8; t=20 → exact match rt=20; t=5 → nothing ≤ 5;
        # key v has no right rows at all
        assert got == {1: "a", 2: "b", 3: None, 4: None}

    def test_forward(self, spark):
        left = spark.createDataFrame([Row(id=1, k="u", t=10)])
        right = spark.createDataFrame(
            [Row(k="u", rt=9, payload="early"), Row(k="u", rt=11, payload="next")]
        )
        out = as_of_join(left, right, on="k", left_time="t", right_time="rt",
                         payload=["payload"], direction="forward")
        assert out.collect()[0]["payload"] == "next"

    def test_backward_duplicate_ts_tiebreak(self, spark):
        # Two right rows at the same (k, rt): the MAX payload tuple wins
        # (arg_max convention; round-5 VERDICT #1). Repartition to force
        # a nondeterministic physical order so a regression can't hide.
        left = spark.createDataFrame([Row(id=1, k="u", t=10), Row(id=2, k="u", t=3)])
        right = spark.createDataFrame(
            [Row(k="u", rt=3, payload=0), Row(k="u", rt=3, payload=7),
             Row(k="u", rt=3, payload=2)]
        ).repartition(8)
        out = as_of_join(left, right, on="k", left_time="t", right_time="rt",
                         payload=["payload"])
        got = {r["id"]: r["payload"] for r in out.collect()}
        assert got == {1: 7, 2: 7}

    def test_forward_duplicate_ts_tiebreak(self, spark):
        # Forward direction: the MIN payload tuple wins among duplicates.
        left = spark.createDataFrame([Row(id=1, k="u", t=10)])
        right = spark.createDataFrame(
            [Row(k="u", rt=12, payload=9), Row(k="u", rt=12, payload=1),
             Row(k="u", rt=12, payload=5)]
        ).repartition(8)
        out = as_of_join(left, right, on="k", left_time="t", right_time="rt",
                         payload=["payload"], direction="forward")
        assert out.collect()[0]["payload"] == 1

    def test_duplicate_ts_multi_payload_consistent(self, spark):
        # Multi-column payload: tuple ordering, not per-column max —
        # (2, 3) > (1, 9) lexicographically, so both columns come from
        # the (2, 3) row.
        left = spark.createDataFrame([Row(id=1, k="u", t=10)])
        right = spark.createDataFrame(
            [Row(k="u", rt=5, a=1, b=9), Row(k="u", rt=5, a=2, b=3)]
        ).repartition(4)
        out = as_of_join(left, right, on="k", left_time="t", right_time="rt",
                         payload=["a", "b"])
        row = out.collect()[0]
        assert (row["a"], row["b"]) == (2, 3)


class TestRollingCount:
    def test_closed_right_excludes_exact_24h(self, spark):
        # pandas rolling('24h', closed='right') counts (t-24h, t]:
        # an event exactly 86400s earlier is NOT counted (SURVEY W1).
        base = 1_000_000
        df = spark.createDataFrame(
            [Row(id=1, k="u", t=base), Row(id=2, k="u", t=base + 86_400),
             Row(id=3, k="u", t=base + 86_399)],
        )
        out = rolling_count_24h(df, "k", "t", "c", window_seconds=86400, tick=1)
        got = {r["id"]: r["c"] for r in out.collect()}
        assert got[1] == 0
        assert got[3] == 1        # 86399s later: inside (t-24h, t]
        assert got[2] == 1        # sees id=3 (1s before) but NOT id=1 (exactly 24h)

    def test_excludes_current_row_and_counts_ties(self, spark):
        df = spark.createDataFrame(
            [Row(id=1, k="u", t=100), Row(id=2, k="u", t=100), Row(id=3, k="u", t=150)]
        )
        out = rolling_count_24h(df, "k", "t", "c", window_seconds=86400, tick=1)
        got = {r["id"]: r["c"] for r in out.collect()}
        # simultaneous events see each other (range frame, not rows frame)
        assert got[1] == 1 and got[2] == 1 and got[3] == 2


class TestRollingCountSliced:
    def _mk_skewed(self, spark):
        # one hot key: 200 events spread over 10 days; one cold key
        rows = [
            Row(id=i, k="hot", t=i * 4_320)  # every 72 min for 10 days
            for i in range(200)
        ] + [Row(id=1000 + i, k="cold", t=i * 50_000) for i in range(5)]
        return spark.createDataFrame(rows)

    def test_matches_plain_form(self, spark):
        from fraud_detection_project_spark.operators.windows import (
            rolling_count_sliced,
        )

        df = self._mk_skewed(spark)
        plain = {
            r["id"]: r["c"]
            for r in rolling_count_24h(
                df, "k", "t", "c", window_seconds=86400, tick=1
            ).collect()
        }
        sliced = {
            r["id"]: r["c"]
            for r in rolling_count_sliced(
                df, "k", "t", "c", window_seconds=86400, tick=1
            ).collect()
        }
        assert sliced == plain

    def test_closed_right_boundary(self, spark):
        from fraud_detection_project_spark.operators.windows import (
            rolling_count_sliced,
        )

        base = 1_000_000
        df = spark.createDataFrame(
            [Row(id=1, k="u", t=base), Row(id=2, k="u", t=base + 86_400),
             Row(id=3, k="u", t=base + 86_399)],
        )
        out = rolling_count_sliced(df, "k", "t", "c", window_seconds=86400, tick=1)
        got = {r["id"]: r["c"] for r in out.collect()}
        assert got == {1: 0, 3: 1, 2: 1}  # exactly-24h event excluded

    def test_hot_key_work_is_partition_bounded(self, spark):
        from fraud_detection_project_spark.operators.windows import (
            rolling_count_sliced,
        )

        df = self._mk_skewed(spark)
        # reproduce the internal grouping: probes + next-slice context
        S = 86400
        probes = df.withColumn("slice", F.floor(F.col("t") / S))
        context = df.withColumn("slice", F.floor(F.col("t") / S) + 1)
        groups = (
            probes.unionByName(context)
            .groupBy("k", "slice")
            .count()
            .collect()
        )
        hot = [r for r in groups if r["k"] == "hot"]
        # the hot key's 400 replicated rows spread over >= 10 slice
        # groups, and no single group exceeds 2 slices' worth of events
        assert len(hot) >= 10
        per_slice = 86400 // 4_320  # events per day for the hot key
        assert max(r["count"] for r in hot) <= 2 * per_slice + 2
        # the plain form would put all 200 hot rows in ONE partition
        # group — that is the straggler this operator removes
        assert rolling_count_sliced(
            df, "k", "t", "c", window_seconds=86400, tick=1
        ).count() == df.count()

    def test_window_reaches_into_previous_slice_only(self, spark):
        """The slice is as wide as the window, so a probe's trailing
        window reaches back across one slice boundary and never two."""
        from fraud_detection_project_spark.operators.windows import (
            rolling_count_sliced,
        )

        W = 86400
        df = spark.createDataFrame(
            [Row(id=1, k="u", t=W - 1),           # slice 0
             Row(id=2, k="u", t=2 * W - 2),       # slice 1, 86399s after id=1
             Row(id=3, k="u", t=2 * W - 1),       # slice 1, exactly 24h after id=1
             Row(id=4, k="u", t=2 * W)],          # slice 2
        )
        out = rolling_count_sliced(df, "k", "t", "c", window_seconds=W, tick=1)
        got = {r["id"]: r["c"] for r in out.collect()}
        assert got == {1: 0, 2: 1, 3: 1, 4: 2}
        plain = rolling_count_24h(df, "k", "t", "c", window_seconds=W, tick=1)
        assert got == {r["id"]: r["c"] for r in plain.collect()}


class TestCleaning:
    def test_handle_missing_drop(self, spark):
        df = spark.createDataFrame([Row(a=1, b="x"), Row(a=None, b="y")], "a int, b string")
        assert handle_missing_values(df, "a", "drop").count() == 1

    def test_handle_missing_impute(self, spark):
        df = spark.createDataFrame([Row(a=1.0), Row(a=3.0), Row(a=None)], "a double")
        vals = sorted(
            r["a"] for r in handle_missing_values(df, "a", "impute").collect()
        )
        assert vals == [1.0, 2.0, 3.0]

    def test_remove_duplicates(self, spark):
        df = spark.createDataFrame([Row(a=1, b="x"), Row(a=1, b="x"), Row(a=1, b="y")])
        assert remove_duplicates(df).count() == 2

    def test_clean_transactions_chain(self, spark):
        df = spark.createDataFrame(
            [
                Row(ip_address="1.2.3.4", signup_time="2024-01-01 00:00:00",
                    purchase_time="2024-01-02 00:00:00"),
                Row(ip_address="1.2.3.4", signup_time="2024-01-01 00:00:00",
                    purchase_time="2024-01-02 00:00:00"),  # dup
                Row(ip_address=None, signup_time="2024-01-01 00:00:00",
                    purchase_time="bad"),  # dropped (null ip)
            ]
        )
        out = clean_transactions(
            df,
            required_column="ip_address",
            time_columns=["signup_time", "purchase_time"],
            ip_column="ip_address",
        ).collect()
        assert len(out) == 1
        assert out[0]["ip_address_int"] == 16909060
        assert out[0]["purchase_time"] == ts("2024-01-02 00:00:00")


class TestBinnedRangeJoin:
    def test_matches_broadcast_range_join(self, spark):
        from fraud_detection_project_spark.catalog import load_table
        from fraud_detection_project_spark.operators.joins import (
            binned_range_join,
            range_join,
        )
        from pyspark.sql import functions as F

        ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
            "event_id", "value"
        )
        dim = (
            load_table(spark, "/root/testdata/sf0.001", "part")
            .filter(F.col("p_partkey") <= 150)
            .select(
                (F.col("p_partkey") * 2.0).alias("lo"),
                (F.col("p_partkey") * 2.0 + 1.5).alias("hi"),
                "p_brand",
            )
        )
        want = range_join(ev, dim, "value", "lo", "hi", ["p_brand"])
        for bw in (None, 1.0, 7.3, 1000.0):
            got = binned_range_join(
                ev, dim, "value", "lo", "hi", ["p_brand"], how="left", bin_width=bw
            )
            assert got.count() == want.count(), bw
            assert got.exceptAll(want).count() == 0, bw
            assert want.exceptAll(got).count() == 0, bw

    def test_inner_semantics(self, spark):
        from fraud_detection_project_spark.operators.joins import binned_range_join

        fact = spark.createDataFrame(
            [(1, 5.0), (2, 55.0), (3, 200.0)], "id long, p double"
        )
        dim = spark.createDataFrame(
            [(0.0, 10.0, "a"), (50.0, 60.0, "b")], "lo double, hi double, tag string"
        )
        got = binned_range_join(fact, dim, "p", "lo", "hi", ["tag"], how="inner")
        rows = {(r["id"], r["tag"]) for r in got.collect()}
        assert rows == {(1, "a"), (2, "b")}

    def test_equi_join_shape_not_nested_loop(self, spark):
        """The whole point: the physical plan is a hash/sort-merge join on
        the bin key, never a BroadcastNestedLoopJoin."""
        from fraud_detection_project_spark.catalog import load_table
        from fraud_detection_project_spark.operators.joins import binned_range_join
        from pyspark.sql import functions as F

        ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
            "event_id", "value"
        )
        dim = (
            load_table(spark, "/root/testdata/sf0.001", "part")
            .select(
                (F.col("p_partkey") * 2.0).alias("lo"),
                (F.col("p_partkey") * 2.0 + 1.5).alias("hi"),
                "p_brand",
            )
        )
        got = binned_range_join(ev, dim, "value", "lo", "hi", ["p_brand"], how="inner")
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan, plan


class TestApproxSketches:
    """The at-scale variants next to their exact anchors: HLL distinct
    counts and the percentile sketch stay within documented error."""

    def test_approx_count_distinct_within_5pct(self, spark):
        from fraud_detection_project_spark.catalog import load_table
        from pyspark.sql import functions as F

        ev = load_table(spark, "/root/testdata/sf0.01", "events")
        row = ev.agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        ).first()
        assert abs(row["approx"] - row["exact"]) <= max(1, 0.05 * row["exact"])

    def test_percentile_approx_close_to_exact(self, spark):
        from fraud_detection_project_spark.catalog import load_table
        from pyspark.sql import functions as F

        ev = load_table(spark, "/root/testdata/sf0.01", "events")
        row = ev.agg(
            F.expr("percentile(value, 0.5)").alias("exact"),
            F.expr("percentile_approx(value, 0.5, 10000)").alias("approx"),
        ).first()
        spread = ev.agg(F.max("value") - F.min("value")).first()[0]
        assert abs(row["approx"] - row["exact"]) <= 0.01 * spread

    def test_freq_items_covers_true_heavy_hitters(self, spark):
        """freqItems (one-pass Karp/Misra-Gries style, no sort) must
        contain every exact top-3 token from the top_words anchor —
        the sketch may over-report, never miss, above its support."""
        from fraud_detection_project_spark.catalog import load_table
        from pyspark.sql import functions as F

        docs = load_table(spark, "/root/testdata/sf0.01", "documents")
        words = docs.select(F.explode(F.split("text", " ")).alias("word")).filter(
            F.col("word") != ""
        )
        exact_top = [
            r["word"]
            for r in words.groupBy("word").count().orderBy(F.desc("count")).limit(3).collect()
        ]
        sketched = set(words.freqItems(["word"], support=0.02).first()[0])
        assert set(exact_top) <= sketched


def test_geolocate_strategies_equivalent(spark):
    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.operators.joins import (
        binned_range_join,
        geolocate,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", F.col("value").alias("ip_address_int")
    )
    dim = (
        load_table(spark, "/root/testdata/sf0.001", "part")
        .filter(F.col("p_partkey") <= 100)
        .select(
            (F.col("p_partkey") * 3.0).alias("lower_bound_ip_address_int"),
            (F.col("p_partkey") * 3.0 + 2.0).alias("upper_bound_ip_address_int"),
            F.col("p_brand").alias("country"),
        )
    )
    a = geolocate(ev, dim).select("event_id", "country")
    b = binned_range_join(
        ev,
        dim,
        point="ip_address_int",
        lower="lower_bound_ip_address_int",
        upper="upper_bound_ip_address_int",
        payload=["country"],
    ).select("event_id", F.coalesce("country", F.lit("Unknown")).alias("country"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


class TestMergeApply:
    def test_upsert_delete_latest_wins(self, spark):
        from fraud_detection_project_spark.operators.merge import merge_apply

        base = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
        changes = spark.createDataFrame(
            [
                (2, "b1", "U", 10),   # update, superseded
                (2, "b2", "U", 20),   # latest update wins
                (3, None, "D", 5),    # delete
                (4, "d", "I", 1),     # insert of new key
                (5, "e", "U", 1),     # upsert-insert then delete — gone
                (5, None, "D", 2),
            ],
            "k long, v string, op string, seq long",
        )
        out = {
            (r["k"], r["v"])
            for r in merge_apply(base, changes, ["k"], "seq").collect()
        }
        assert out == {(1, "a"), (2, "b2"), (4, "d")}

    def test_broadcast_variant_same_result(self, spark):
        from fraud_detection_project_spark.operators.merge import merge_apply

        base = spark.createDataFrame([(i, i * 10) for i in range(50)], "k long, v long")
        changes = spark.createDataFrame(
            [(i, i * 100, "U" if i % 3 else "D", i) for i in range(0, 50, 2)],
            "k long, v long, op string, seq long",
        )
        plain = merge_apply(base, changes, ["k"], "seq").collect()
        bcast = merge_apply(base, changes, ["k"], "seq", broadcast_changes=True).collect()
        assert sorted(map(tuple, plain)) == sorted(map(tuple, bcast))
        plan = merge_apply(base, changes, ["k"], "seq", broadcast_changes=True)._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan

    def test_replayed_batch_is_noop(self, spark):
        """A base that carries ``seq`` guards every change with
        ``change.seq >= base.seq``, so re-delivering the batch just
        applied (foreachBatch's retry) leaves the snapshot unchanged."""
        from fraud_detection_project_spark.operators.merge import merge_apply

        base = spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0)], "k long, v string, seq long"
        )
        changes = spark.createDataFrame(
            [(1, "a1", "U", 3), (2, None, "D", 4), (3, "c", "U", 5)],
            "k long, v string, op string, seq long",
        )
        once = merge_apply(base, changes, ["k"], "seq")
        twice = merge_apply(once, changes, ["k"], "seq")
        assert sorted(map(tuple, once.collect())) == [(1, "a1", 3), (3, "c", 5)]
        assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))

    @pytest.mark.parametrize("broadcast", [False, True])
    def test_update_batches_commute_across_batch_order(self, spark, broadcast):
        """Without deletes, the seq guard makes batch order irrelevant:
        a stale update or insert applied after a newer one for the same
        key is a no-op. Covers both join strategies, including a key the
        base has never seen."""
        from fraud_detection_project_spark.operators.merge import merge_apply

        base = spark.createDataFrame(
            [(k, f"v{k}", 0) for k in range(6)], "k long, v string, seq long"
        )
        b1 = [(2, "old2", "U", 1), (9, "old9", "U", 2)]
        b2 = [(2, "new2", "U", 5), (9, "new9", "U", 6), (4, "new4", "U", 7)]
        schema = "k long, v string, op string, seq long"

        def apply_in(order):
            snap = base
            for rows in order:
                snap = merge_apply(
                    snap,
                    spark.createDataFrame(rows, schema),
                    ["k"],
                    "seq",
                    broadcast_changes=broadcast,
                )
            return sorted(map(tuple, snap.collect()))

        fwd, rev = apply_in([b1, b2]), apply_in([b2, b1])
        assert fwd == rev
        assert (2, "new2", 5) in fwd and (9, "new9", 6) in fwd and (4, "new4", 7) in fwd


class TestHllSketchRollup:
    def test_merge_equivalence_and_error(self, spark):
        """union-merged daily sketches == one direct sketch (byte-path
        mergeability), and the estimate is within 5% of exact."""
        from fraud_detection_project_spark.catalog import load_table

        ev = load_table(spark, SF_SMOKE, "events").withColumn(
            "day", F.to_date("ts")
        )
        daily = ev.groupBy("event_type", "day").agg(
            F.hll_sketch_agg("user_id").alias("sk")
        )
        merged = {
            r["event_type"]: r["est"]
            for r in daily.groupBy("event_type")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
            .collect()
        }
        direct = {
            r["event_type"]: r["est"]
            for r in ev.groupBy("event_type")
            .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
            .collect()
        }
        exact = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert merged == direct
        for k, n in exact.items():
            assert abs(merged[k] - n) <= 0.05 * n + 2, (k, merged[k], n)


class TestDataQuality:
    def test_check_report_single_pass_and_counts(self, spark):
        from fraud_detection_project_spark.operators.quality import (
            check_report,
            with_dim_marker,
        )

        fact = spark.createDataFrame(
            [(1, 10.0, 100), (2, None, 100), (3, -5.0, 999), (4, 2.0, None)],
            "id long, v double, k long",
        )
        dim = spark.createDataFrame([(100,), (200,)], "k long")
        marked = with_dim_marker(fact, "k", dim, "k", "__hit")
        rep = {
            r["check"]: (r["n_violations"], r["n_rows"])
            for r in check_report(
                marked,
                {
                    "null_v": F.col("v").isNull(),
                    "neg_v": F.col("v") < 0,
                    "orphan": F.col("k").isNotNull() & F.col("__hit").isNull(),
                },
            ).collect()
        }
        assert rep == {
            "null_v": (1, 4), "neg_v": (1, 4), "orphan": (1, 4),
        }
        # referential check rides a broadcast join (fact unshuffled);
        # a checks-set that never reads the marker gets the join
        # ELIMINATED outright (distinct right side) — both plans good
        plan = check_report(
            marked, {"orphan": F.col("k").isNotNull() & F.col("__hit").isNull()}
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        pruned = check_report(
            marked, {"null_v": F.col("v").isNull()}
        )._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in pruned


class TestIncrementalAgg:
    def test_merge_equals_full_recompute(self, spark):
        from fraud_detection_project_spark.operators.incremental import (
            aggregate_delta,
            merge_aggregate_state,
        )

        specs = {
            "n": ("v", "count"),
            "s": ("v", "sum"),
            "mn": ("v", "min"),
            "mx": ("v", "max"),
        }
        old = spark.createDataFrame(
            [("a", 1), ("a", 5), ("b", 3)], "k string, v long"
        )
        new = spark.createDataFrame(
            [("a", 2), ("c", 7), ("c", -1)], "k string, v long"  # c is a NEW group
        )
        state = aggregate_delta(old, ["k"], specs)
        merged = {
            r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
            for r in merge_aggregate_state(state, new, ["k"], specs).collect()
        }
        full = {
            r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
            for r in aggregate_delta(old.union(new), ["k"], specs).collect()
        }
        assert merged == full
        assert merged["c"] == (2, 6, -1, 7)  # group born in the delta
        assert merged["b"] == (1, 3, 3, 3)   # untouched group passes through

    def test_holistic_aggregate_refused(self, spark):
        import pytest as _pytest

        from fraud_detection_project_spark.operators.incremental import aggregate_delta

        df = spark.createDataFrame([("a", 1)], "k string, v long")
        with _pytest.raises(ValueError, match="not algebraic"):
            aggregate_delta(df, ["k"], {"m": ("v", "median")})


class TestCountMinSketch:
    def test_sketch_deterministic_for_seed(self, spark):
        """count_min_sketch: mergeable frequency-sketch surface exists
        and is deterministic for a fixed seed (the property a
        distributed rollup relies on; PySpark exposes no point-query
        function, so estimate accuracy is out of test scope)."""
        from pyspark.sql.functions import count_min_sketch

        from fraud_detection_project_spark.catalog import load_table

        ev = load_table(spark, SF_SMOKE, "events")

        def sketch():
            return bytes(
                ev.agg(
                    count_min_sketch(
                        "event_type", F.lit(0.001), F.lit(0.01), F.lit(42)
                    ).alias("sk")
                ).first()["sk"]
            )

        a, b = sketch(), sketch()
        assert a and a == b


class TestTableDiff:
    def test_classification_and_null_safety(self, spark):
        from fraud_detection_project_spark.operators.diff import (
            diff_rows,
            diff_summary,
        )

        left = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
            "k long, name string, v double",
        )
        right = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", None), (3, "CHANGED", 3.0), (5, "e", 5.0)],
            "k long, name string, v double",
        )
        rows = {r["k"]: r for r in diff_rows(left, right, ["k"]).collect()}
        assert rows[1]["diff_status"] == "equal"
        # NULL == NULL under eqNullSafe — key 2 is equal, not differing
        assert rows[2]["diff_status"] == "equal"
        assert rows[3]["diff_status"] == "differing"
        assert rows[3]["eq_name"] is False and rows[3]["eq_v"] is True
        assert rows[4]["diff_status"] == "only_left"
        assert rows[5]["diff_status"] == "only_right"

        s = diff_summary(left, right, ["k"]).first()
        assert (
            s["n_only_left"],
            s["n_only_right"],
            s["n_differing"],
            s["n_equal"],
        ) == (1, 1, 1, 2)

    def test_compare_cols_subset(self, spark):
        from fraud_detection_project_spark.operators.diff import diff_rows

        left = spark.createDataFrame([(1, "a", 1.0)], "k long, name string, v double")
        right = spark.createDataFrame([(1, 1.0)], "k long, v double")
        r = diff_rows(left, right, ["k"]).first()
        assert r["diff_status"] == "equal"  # only shared columns compare
        assert "eq_name" not in r.asDict()

    def test_null_keys_classified_by_presence(self, spark):
        """NULL key components must classify by side PRESENCE, not key
        nullness: the null-safe join aligns NULL keys, so a matched
        NULL-key pair is equal/differing and a one-sided NULL-key row is
        only_<side> — the case key-nullness presence checks invert."""
        from fraud_detection_project_spark.operators.diff import diff_rows

        left = spark.createDataFrame([(1, "a"), (None, "x")], "k long, v string")
        right = spark.createDataFrame(
            [(1, "a"), (None, "x"), (None, None)], "k long, v string"
        )
        # note: the two NULL-key right rows each null-safe-match the one
        # NULL-key left row (join semantics), so we diff per-column
        out = diff_rows(left, right, ["k"]).collect()
        by = {}
        for r in out:
            by.setdefault(r["k"], []).append(r)
        assert by[1][0]["diff_status"] == "equal"
        null_states = sorted(r["diff_status"] for r in by[None])
        assert null_states == ["differing", "equal"]  # matched, not only_left

        rightonly = spark.createDataFrame([(1, "a")], "k long, v string")
        states = [
            r["diff_status"]
            for r in diff_rows(rightonly, right, ["k"]).collect()
            if r["k"] is None
        ]
        assert states and all(s == "only_right" for s in states)

    def test_diff_identifies_merge_changes_exactly(self, spark):
        """diff(base, merge_apply(base, changes)) classifies exactly the
        changeset: updates → differing, deletes → only_left, inserts →
        only_right, untouched keys → equal. Links the reconciliation
        operator to the MERGE operator it validates."""
        from fraud_detection_project_spark.operators.diff import diff_summary
        from fraud_detection_project_spark.operators.merge import merge_apply

        base = spark.createDataFrame(
            [(k, f"v{k}") for k in range(10)], "k long, v string"
        )
        changes = spark.createDataFrame(
            [
                (2, "upd2", "U", 1),
                (5, "upd5", "U", 2),
                (7, None, "D", 3),
                (100, "new", "U", 4),
            ],
            "k long, v string, op string, seq long",
        )
        merged = merge_apply(base, changes, ["k"], "seq")
        s = diff_summary(base, merged, ["k"]).first()
        assert (
            s["n_only_left"],      # deleted key 7
            s["n_only_right"],     # inserted key 100
            s["n_differing"],      # updated keys 2, 5
            s["n_equal"],          # the 7 untouched keys
        ) == (1, 1, 2, 7)


class TestDenseGlobalIndex:
    def test_matches_row_number_and_avoids_single_partition(self, spark):
        from fraud_detection_project_spark.operators.indexing import (
            dense_global_index,
        )

        import random

        rng = random.Random(5)
        rows = [(i, rng.randint(0, 10**9)) for i in range(5000)]
        df = spark.createDataFrame(rows, "rid long, key long").repartition(16)
        out = dense_global_index(df, ["key", "rid"], out_col="idx")
        got = {(r["rid"]): r["idx"] for r in out.collect()}
        want = {
            rid: i
            for i, (rid, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
        }
        assert got == want
        # the scalable shape: range partitioning, no SinglePartition sort
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan

    def test_indices_dense_and_unique(self, spark):
        from fraud_detection_project_spark.operators.indexing import (
            dense_global_index,
        )

        df = spark.range(0, 3000).withColumnRenamed("id", "k")
        out = dense_global_index(df, ["k"])
        idxs = sorted(r["idx"] for r in out.collect())
        assert idxs == list(range(3000))


class TestPartitionedPrefixSum:
    def test_matches_window_cumsum_long(self, spark):
        import random

        from fraud_detection_project_spark.operators.indexing import (
            partitioned_prefix_sum,
        )

        rng = random.Random(11)
        rows = [(i, rng.randint(-5, 20)) for i in range(4000)]
        df = spark.createDataFrame(rows, "k long, v long").repartition(16)
        out = partitioned_prefix_sum(df, ["k"], "v", out_col="cs")
        got = {r["k"]: r["cs"] for r in out.collect()}
        acc, want = 0, {}
        for k, v in sorted(rows):
            acc += v
            want[k] = acc
        assert got == want
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan

    def test_double_values_and_nulls(self, spark):
        from fraud_detection_project_spark.operators.indexing import (
            partitioned_prefix_sum,
        )

        rows = [(0, 1.5), (1, None), (2, 2.25), (3, None), (4, -1.0)]
        df = spark.createDataFrame(rows, "k long, v double").repartition(4)
        out = partitioned_prefix_sum(df, ["k"], "v", out_col="cs")
        got = {r["k"]: r["cs"] for r in out.collect()}
        # NULL contributes 0 to the running total
        assert got == {0: 1.5, 1: 1.5, 2: 3.75, 3: 3.75, 4: 2.75}


class TestIntervalOverlapJoin:
    def test_matches_bruteforce_crossjoin(self, spark):
        import random

        from fraud_detection_project_spark.operators.joins import (
            interval_overlap_join,
        )

        rng = random.Random(9)
        L = [(i, a := rng.randint(0, 500), a + rng.randint(0, 80)) for i in range(40)]
        R = [(j, b := rng.randint(0, 500), b + rng.randint(0, 40)) for j in range(30)]
        left = spark.createDataFrame(L, "lid long, l_lo long, l_hi long")
        right = spark.createDataFrame(R, "rid long, r_lo long, r_hi long")
        got = {
            (r["lid"], r["rid"])
            for r in interval_overlap_join(
                left, right, ("l_lo", "l_hi"), ("r_lo", "r_hi")
            ).collect()
        }
        want = {
            (i, j)
            for (i, a, b) in L
            for (j, c, d) in R
            if a <= d and c <= b
        }
        assert got == want

    def test_no_duplicate_pairs_across_bins(self, spark):
        from fraud_detection_project_spark.operators.joins import (
            interval_overlap_join,
        )

        # long intervals that span many bins — every pair must emit once
        left = spark.createDataFrame([(1, 0, 1000)], "lid long, l_lo long, l_hi long")
        right = spark.createDataFrame([(2, 500, 1500)], "rid long, r_lo long, r_hi long")
        out = interval_overlap_join(
            left, right, ("l_lo", "l_hi"), ("r_lo", "r_hi"), bin_width=10.0
        )
        assert out.count() == 1


    def test_duplicate_rows_keep_multiplicity(self, spark):
        """Dedup runs on row-ids, not column values: duplicate input
        rows must yield the full cross-product multiplicity, matching
        the naive cross-join-with-predicate (ADVICE r3)."""
        from fraud_detection_project_spark.operators.joins import (
            interval_overlap_join,
        )

        left = spark.createDataFrame(
            [(1, 0, 10), (1, 0, 10)], "lid long, l_lo long, l_hi long"
        )
        right = spark.createDataFrame(
            [(2, 5, 15), (2, 5, 15), (2, 5, 15)], "rid long, r_lo long, r_hi long"
        )
        out = interval_overlap_join(
            left, right, ("l_lo", "l_hi"), ("r_lo", "r_hi"), bin_width=4.0
        )
        assert out.count() == 6

    def test_shared_column_names_rejected(self, spark):
        import pytest

        from fraud_detection_project_spark.operators.joins import (
            interval_overlap_join,
        )

        df = spark.createDataFrame([(1, 0, 10)], "id long, lo long, hi long")
        with pytest.raises(ValueError, match="disjoint"):
            interval_overlap_join(df, df, ("lo", "hi"), ("lo", "hi"))


class TestScd2:
    def _obs(self, spark, rows):
        return spark.createDataFrame(
            rows, "k long, seq long, attr string, ts long"
        )

    def test_compression_and_intervals(self, spark):
        from fraud_detection_project_spark.operators.scd import build_scd2

        rows = [
            (1, 0, "a", 10), (1, 1, "a", 20), (1, 2, "b", 30),
            (1, 3, "b", 40), (1, 4, "a", 50),
            (2, 0, "x", 15),
        ]
        out = build_scd2(
            self._obs(spark, rows), ["k"], ["ts", "seq"], ["attr"], "ts"
        ).orderBy("k", "valid_from").collect()
        got = [(r["k"], r["attr"], r["valid_from"], r["valid_to"]) for r in out]
        assert got == [
            (1, "a", 10, 30), (1, "b", 30, 50), (1, "a", 50, None),
            (2, "x", 15, None),
        ]

    def test_intervals_tile_without_gaps(self, spark):
        import numpy as np

        from fraud_detection_project_spark.operators.scd import build_scd2

        rng = np.random.RandomState(31)
        rows = [
            (int(k), i, str(rng.randint(0, 3)), i * 10)
            for i in range(100)
            for k in [rng.randint(0, 5)]
        ]
        out = build_scd2(
            self._obs(spark, rows), ["k"], ["ts", "seq"], ["attr"], "ts"
        ).collect()
        by_key = {}
        for r in out:
            by_key.setdefault(r["k"], []).append(r)
        for k, vs in by_key.items():
            vs.sort(key=lambda r: r["valid_from"])
            assert vs[-1]["valid_to"] is None
            for a, b in zip(vs, vs[1:]):
                assert a["valid_to"] == b["valid_from"]  # no gap/overlap
                assert a["attr"] != b["attr"]  # fully compressed

    def test_null_attr_is_nullsafe(self, spark):
        from fraud_detection_project_spark.operators.scd import build_scd2

        rows = [(1, 0, None, 10), (1, 1, None, 20), (1, 2, "a", 30)]
        out = build_scd2(
            self._obs(spark, rows), ["k"], ["ts", "seq"], ["attr"], "ts"
        ).orderBy("valid_from").collect()
        assert [(r["attr"], r["valid_from"]) for r in out] == [
            (None, 10), ("a", 30)
        ]


class TestMergeableMoments:
    def test_shard_merge_equals_single_pass(self, spark):
        import statistics

        from fraud_detection_project_spark.operators.incremental import (
            merge_moments,
            moment_partials,
        )

        vals = [float(v) for v in [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]]
        rows = [(i % 3, "a", v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "shard int, g string, x double")
        got = merge_moments(
            moment_partials(df, ["shard", "g"], "x"), ["g"]
        ).first()
        assert got["n"] == len(vals)
        # moments are rounded to 6 dp
        assert got["mean"] == round(statistics.fmean(vals), 6)
        assert got["var_pop"] == round(statistics.pvariance(vals), 6)

    def test_nulls_excluded_and_new_group_appears(self, spark):
        from fraud_detection_project_spark.operators.incremental import (
            merge_moments,
            moment_partials,
        )

        df = spark.createDataFrame(
            [(0, "a", 2.0), (1, "a", None), (1, "b", 7.0)],
            "shard int, g string, x double",
        )
        got = {
            r["g"]: (r["n"], r["mean"])
            for r in merge_moments(
                moment_partials(df, ["shard", "g"], "x"), ["g"]
            ).collect()
        }
        assert got == {"a": (1, 2.0), "b": (1, 7.0)}
