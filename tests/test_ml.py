"""ML-layer tests (M1-M8): split partition invariants, scaler ddof,
unknown-category tolerance, imbalance invariants (SURVEY.md §5.4)."""

from __future__ import annotations

import math
import statistics

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fraud_detection_project_spark.ml.imbalance import (
    class_counts,
    smote,
    undersample_majority,
)
from fraud_detection_project_spark.ml.prep import (
    build_feature_pipeline,
    feature_names_out,
    one_hot_columns,
    standardize,
)
from fraud_detection_project_spark.ml.split import id_hash_split, stratified_split
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def labeled(spark):
    # 1000 rows, 10% minority, 2-dim features
    rows = [
        Row(
            id=i,
            label=1 if i % 10 == 0 else 0,
            f=[float(i % 7), float((i * 3) % 11)],
            cat="a" if i % 3 == 0 else "b",
            num=float(i % 100),
        )
        for i in range(1000)
    ]
    return spark.createDataFrame(rows)


class TestSplit:
    def test_id_hash_split_partitions(self, labeled):
        out = id_hash_split(labeled, "id", 0.8)
        counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
        assert counts["train"] + counts["test"] == 1000
        assert 700 < counts["train"] < 900  # ~80%

    def test_id_hash_split_deterministic(self, labeled):
        a = {r["id"]: r["split"] for r in id_hash_split(labeled, "id").collect()}
        b = {r["id"]: r["split"] for r in id_hash_split(labeled, "id").collect()}
        assert a == b

    def test_stratified_split_disjoint_exhaustive(self, labeled):
        train, test = stratified_split(labeled, "label", 0.8, seed=42)
        nt, ns = train.count(), test.count()
        assert nt + ns == 1000
        # per-class ratio ≈ 0.8
        tc = class_counts(train, "label")
        ac = class_counts(labeled, "label")
        for lbl in ac:
            assert 0.6 < tc.get(lbl, 0) / ac[lbl] < 0.95


class TestStandardize:
    def test_ddof0_matches_population(self, spark):
        df = spark.createDataFrame([Row(x=1.0), Row(x=2.0), Row(x=3.0)])
        out = standardize(df, ["x"], ddof=0).collect()
        vals = sorted(r["x_scaled"] for r in out)
        sd = math.sqrt(2.0 / 3.0)  # population std of [1,2,3]
        assert abs(vals[0] + 1.0 / sd) < 1e-9
        assert abs(vals[1]) < 1e-9

    def test_ddof1_matches_sample(self, spark):
        df = spark.createDataFrame([Row(x=0.0), Row(x=10.0), Row(x=5.0), Row(x=25.0)])
        out = sorted(r["x_scaled"] for r in standardize(df, ["x"], ddof=1).collect())
        sd = statistics.stdev([0.0, 10.0, 5.0, 25.0])  # sample std, MLlib's ddof
        assert out[0] == pytest.approx(-10.0 / sd, abs=1e-9)  # mean is 10
        assert out[3] == pytest.approx(15.0 / sd, abs=1e-9)

    def test_zero_variance_column(self, spark):
        df = spark.createDataFrame([Row(x=4.0), Row(x=4.0)])
        out = [r["x_scaled"] for r in standardize(df, ["x"]).collect()]
        assert out == [0.0, 0.0]


class TestPipeline:
    def test_fit_transform_and_names(self, labeled):
        pipe = build_feature_pipeline(["num"], ["cat"])
        model = pipe.fit(labeled)
        out = model.transform(labeled)
        vec = out.select("features").first()[0]
        # 1 numeric + 4 cat slots: {a, b} + StringIndexer 'keep' slot for
        # unseen values + OneHotEncoder's own 'keep' slot
        assert vec.size == 5
        names = feature_names_out(model, labeled)
        assert len(names) == 5
        assert any("num" in n for n in names)

    def test_unknown_category_tolerated(self, spark):
        """Exact slot layout of the fitted prep: one scaled numeric, then
        a k+2-wide categorical block — k frequencyDesc levels, the
        indexer's ``keep`` slot (index k, fired by unseen AND null
        categories) and the encoder's never-reached ``keep`` slot.
        A null numeric stays NaN; a constant train column (std 0)
        scales real values to 0.0 and keeps NaN as NaN."""
        schema = "id long, x double, cat string"
        nan = float("nan")
        # frequencyDesc, ties by value: a(4) b(2) c(2) -> a=0, b=1, c=2
        train = [
            (1, 10.0, "a"), (2, 12.0, "b"), (3, 14.0, "a"), (4, 9.0, "c"),
            (5, 11.0, "b"), (6, 13.0, "a"), (7, 8.5, "c"), (8, 10.5, "a"),
        ]
        xs = [x for _, x, _ in train]
        mean, std = statistics.mean(xs), statistics.stdev(xs)  # sample std
        cases = [
            (
                train,
                # an unseen category, a null numeric, a null category
                [(9, 20.0, "zz"), (10, None, "a"), (11, 7.0, None)],
                {
                    9: [(20.0 - mean) / std, 0.0, 0.0, 0.0, 1.0, 0.0],
                    10: [nan, 1.0, 0.0, 0.0, 0.0, 0.0],
                    11: [(7.0 - mean) / std, 0.0, 0.0, 0.0, 1.0, 0.0],
                },
            ),
            (
                # constant train column: a=0, b=1, k=2
                [(1, 5.0, "a"), (2, 5.0, "b"), (3, 5.0, "a")],
                [(4, 5.0, "a"), (5, None, "b"), (6, 7.0, None)],
                {
                    4: [0.0, 1.0, 0.0, 0.0, 0.0],
                    5: [nan, 0.0, 1.0, 0.0, 0.0],
                    6: [0.0, 0.0, 0.0, 1.0, 0.0],
                },
            ),
        ]
        for train_rows, test_rows, want in cases:
            model = build_feature_pipeline(["x"], ["cat"]).fit(
                spark.createDataFrame(train_rows, schema)
            )
            got = {
                r["id"]: list(r["features"].toArray())
                for r in model.transform(spark.createDataFrame(test_rows, schema))
                .select("id", "features")
                .collect()
            }
            assert got.keys() == want.keys()
            for k, vec in want.items():
                assert len(got[k]) == len(vec), (k, got[k])
                if math.isnan(vec[0]):
                    assert math.isnan(got[k][0]), (k, got[k])
                else:
                    assert got[k][0] == pytest.approx(vec[0], rel=1e-12), (k, got[k])
                # one-hot slots are exact
                assert got[k][1:] == vec[1:], (k, got[k])

    def test_one_hot_columns(self, spark):
        df = spark.createDataFrame([Row(c="x"), Row(c="y"), Row(c="zzz")])
        out = one_hot_columns(df, "c", ["x", "y"])
        got = [(r["c_x"], r["c_y"]) for r in out.orderBy("c").collect()]
        assert got == [(1, 0), (0, 1), (0, 0)]


class TestImbalance:
    def test_undersample_balances(self, labeled):
        out = undersample_majority(labeled, "label", seed=42)
        c = class_counts(out, "label")
        # majority downsampled to ≈ minority (Bernoulli, so approximate)
        assert c[1] == 100
        assert 60 <= c[0] <= 140

    def test_undersample_exact_counts(self, labeled):
        from fraud_detection_project_spark.ml.imbalance import undersample_exact

        out = undersample_exact(labeled, "label", order_cols=["id"], seed=42)
        c = class_counts(out, "label")
        # exactly the minority count for every class — not Bernoulli
        assert c == {0: 100, 1: 100}

    def test_undersample_exact_deterministic_subset(self, labeled):
        from fraud_detection_project_spark.ml.imbalance import undersample_exact

        a = undersample_exact(labeled, "label", order_cols=["id"], seed=42)
        b = undersample_exact(
            labeled.repartition(7), "label", order_cols=["id"], seed=42
        )
        ids_a = sorted(r["id"] for r in a.select("id").collect())
        ids_b = sorted(r["id"] for r in b.select("id").collect())
        assert ids_a == ids_b  # partition-layout independent
        assert len(ids_a) == len(set(ids_a))  # no duplicates
        all_ids = {r["id"] for r in labeled.select("id").collect()}
        assert set(ids_a) <= all_ids  # strict subset of the input
        # a different seed picks a different subset
        c = undersample_exact(labeled, "label", order_cols=["id"], seed=7)
        ids_c = sorted(r["id"] for r in c.select("id").collect())
        assert ids_c != ids_a

    def test_undersample_exact_n_target(self, labeled):
        """The keep target is the smallest class count, broadcast to
        every class: with a third class of 50 rows, all three keep 50."""
        from fraud_detection_project_spark.ml.imbalance import undersample_exact

        third = (
            labeled.limit(50)
            .withColumn("id", F.col("id") + 10_000)
            .withColumn("label", F.lit(2).cast("long"))
        )
        out = undersample_exact(
            labeled.unionByName(third), "label", order_cols=["id"], seed=42
        )
        assert class_counts(out, "label") == {0: 50, 1: 50, 2: 50}

    def test_smote_keeps_every_input_row(self, labeled):
        """Oversampling only adds rows: every input row survives
        unchanged and every added row is a minority-class synthetic."""
        out = smote(labeled, "label", "f", "id", k=3, seed=42)
        assert labeled.exceptAll(out).count() == 0
        added = out.exceptAll(labeled)
        assert added.count() == 800
        assert added.filter((F.col("label") != 1) | (F.col("id") != -1)).count() == 0

    def test_smote_balances_exactly(self, labeled):
        out = smote(labeled, "label", "f", "id", k=3, seed=42)
        c = class_counts(out, "label")
        assert c[0] == 900
        assert c[1] == 900  # exact: deterministic quotas
        # synthetic rows flagged with id == -1
        assert out.filter((F.col("label") == 1) & (F.col("id") == -1)).count() == 800

    def test_smote_deterministic(self, labeled):
        a = smote(labeled, "label", "f", "id", k=3, seed=42)
        b = smote(labeled, "label", "f", "id", k=3, seed=42)
        sa = sorted(tuple(r["f"]) for r in a.filter(F.col("id") == -1).collect())
        sb = sorted(tuple(r["f"]) for r in b.filter(F.col("id") == -1).collect())
        assert sa == sb

    @pytest.mark.parametrize("dim", [32, 512])
    def test_smote_projection_exact_fold(self, spark, dim):
        """_projection is one JVM expression at every width: SMOTE keeps
        exact counts and deterministic synthesis, and the projection
        EQUALS a sequential left fold ``acc += x*r`` over the seeded
        plane — the summation order of the unrolled form it replaced, so
        low-dim outputs stay bit-identical. At dim=512 an unrolled
        expression would overflow Catalyst's stack."""
        import numpy as np

        from fraud_detection_project_spark.ml.imbalance import _projection

        rng = np.random.default_rng(3)
        rows = [
            (i, int(i < 40), rng.normal(size=dim).tolist()) for i in range(200)
        ]
        df = spark.createDataFrame(rows, "id long, label int, f array<double>")

        out = smote(df, "label", "f", "id", k=3, seed=42)
        c = class_counts(out, "label")
        assert c == {0: 160, 1: 160}
        syn_a = sorted(
            tuple(r["f"]) for r in out.filter(F.col("id") == -1).collect()
        )
        out_b = smote(df, "label", "f", "id", k=3, seed=42)
        syn_b = sorted(
            tuple(r["f"]) for r in out_b.filter(F.col("id") == -1).collect()
        )
        assert syn_a == syn_b  # deterministic across runs

        got = {
            r["id"]: r["p"]
            for r in df.select(
                "id", _projection(df, "f", dim, seed=42).alias("p")
            ).collect()
        }
        plane_rng = np.random.RandomState(42)
        r_plane = plane_rng.normal(size=dim)
        r_plane = r_plane / np.linalg.norm(r_plane)
        for i, _, f in rows:
            acc = 0.0
            for x, r in zip(f, r_plane.tolist()):
                acc += x * r
            assert got[i] == acc

    def test_smote_interpolates_within_hull(self, labeled):
        # all synthetic points must lie on a segment between two minority
        # points → every coordinate within the minority min/max box
        out = smote(labeled, "label", "f", "id", k=3, seed=42)
        syn = [r["f"] for r in out.filter(F.col("id") == -1).collect()]
        minority = [r["f"] for r in labeled.filter(F.col("label") == 1).collect()]
        lo0, hi0 = min(f[0] for f in minority), max(f[0] for f in minority)
        lo1, hi1 = min(f[1] for f in minority), max(f[1] for f in minority)
        for f in syn:
            assert lo0 - 1e-9 <= f[0] <= hi0 + 1e-9
            assert lo1 - 1e-9 <= f[1] <= hi1 + 1e-9


class TestClustering:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        # 3 well-separated blobs in 4-d, 60 rows each
        import numpy as np

        rng = np.random.default_rng(7)
        rows = []
        for c, center in enumerate([(10, 0, 0, 0), (0, 10, 0, 0), (0, 0, 10, 0)]):
            for i in range(60):
                v = rng.normal(0, 0.3, 4) + np.asarray(center, dtype=float)
                rows.append(Row(vec_id=c * 60 + i, embedding=[float(x) for x in v]))
        return spark.createDataFrame(rows).repartition(4).cache()

    def test_kmeans_recovers_blobs(self, emb):
        from fraud_detection_project_spark.ml.clustering import (
            kmeans_assign,
            kmeans_centroids,
            kmeans_fit,
        )

        model = kmeans_fit(emb, k=3, vec_col="embedding", seed=42)
        assigned = kmeans_assign(emb, model)
        # every ground-truth blob maps to exactly one learned cluster
        purity = (
            assigned.withColumn("truth", (F.col("vec_id") / 60).cast("int"))
            .groupBy("truth")
            .agg(F.count_distinct("cluster").alias("k"))
            .agg(F.max("k"))
            .first()[0]
        )
        assert purity == 1
        sizes = sorted(r["n"] for r in assigned.groupBy("cluster").count().withColumnRenamed("count", "n").collect())
        assert sizes == [60, 60, 60]
        cents = kmeans_centroids(model)
        assert len(cents) == 3 and len(cents[0]) == 4

    def test_kmeans_deterministic(self, emb):
        from fraud_detection_project_spark.ml.clustering import kmeans_centroids, kmeans_fit

        a = kmeans_centroids(kmeans_fit(emb, k=3, seed=42))
        b = kmeans_centroids(kmeans_fit(emb, k=3, seed=42))
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_assign_picks_nearest_trained_centroid(self, emb):
        import numpy as np

        from fraud_detection_project_spark.ml.clustering import (
            kmeans_assign,
            kmeans_centroids,
            kmeans_fit,
        )

        model = kmeans_fit(emb, k=3, seed=42)
        cents = np.asarray(kmeans_centroids(model))
        for r in kmeans_assign(emb, model).collect():
            d = ((cents - np.asarray(r["embedding"])) ** 2).sum(axis=1)
            assert r["cluster"] == int(np.argmin(d))


class TestPrepEncoders:
    def test_winsorize_clips_and_passes_nulls(self, spark):
        from fraud_detection_project_spark.ml.prep import winsorize

        df = spark.createDataFrame(
            [(float(i),) for i in range(1, 100)] + [(None,), (1000.0,)],
            "v double",
        )
        out = winsorize(df, ["v"], lower=0.05, upper=0.95)
        rows = [r["v"] for r in out.collect()]
        assert sum(x is None for x in rows) == 1          # NULL passthrough
        vals = [x for x in rows if x is not None]
        import numpy as np

        data = [float(i) for i in range(1, 100)] + [1000.0]
        lo, hi = np.percentile(data, [5, 95])
        assert abs(min(vals) - lo) < 1e-9
        assert abs(max(vals) - hi) < 1e-9                 # 1000.0 capped
        assert len(vals) == len(data)

    def test_target_encode_unseen_falls_back_to_prior(self, spark):
        from fraud_detection_project_spark.ml.prep import target_encode

        train = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("b", 10.0)], "c string, y double"
        )
        enc, transform = target_encode(train, "c", "y", smoothing=0.0)
        m = {r["c"]: r["c_te"] for r in enc.collect()}
        assert abs(m["a"] - 2.0) < 1e-9 and abs(m["b"] - 10.0) < 1e-9

        test = spark.createDataFrame([("a",), ("zzz",)], "c string")
        got = {r["c"]: r["c_te"] for r in transform(test).collect()}
        assert abs(got["a"] - 2.0) < 1e-9
        prior = (1.0 + 3.0 + 10.0) / 3
        assert abs(got["zzz"] - prior) < 1e-9             # unseen → prior

    def test_target_encode_smoothing_shrinks_to_prior(self, spark):
        from fraud_detection_project_spark.ml.prep import target_encode

        train = spark.createDataFrame(
            [("a", 0.0)] * 2 + [("b", 1.0)] * 100, "c string, y double"
        )
        enc_hard, _ = target_encode(train, "c", "y", smoothing=1000.0)
        enc_none, _ = target_encode(train, "c", "y", smoothing=0.0)
        hard = {r["c"]: r["c_te"] for r in enc_hard.collect()}
        none = {r["c"]: r["c_te"] for r in enc_none.collect()}
        prior = 100.0 / 102.0
        # heavy smoothing pulls the rare category near the prior
        assert abs(hard["a"] - prior) < abs(none["a"] - prior)


class TestRobustScale:
    def test_robust_scale_median_iqr_and_zero_iqr(self, spark):
        from fraud_detection_project_spark.ml.prep import robust_scale

        df = spark.createDataFrame(
            [(float(v),) for v in range(1, 101)] + [(None,)], "x double"
        )
        got = {r["x"]: r["x_scaled"] for r in robust_scale(df, ["x"]).collect()}
        # median 50.5, IQR = 75.25 - 25.75 = 49.5; NULL is not counted
        assert abs(got[1.0] - (-49.5 / 49.5)) < 1e-9
        assert abs(got[100.0] - (49.5 / 49.5)) < 1e-9
        assert got[None] is None  # NULL passthrough

        const = spark.createDataFrame([(7.0,), (7.0,), (None,)], "x double")
        out = [r["x_scaled"] for r in robust_scale(const, ["x"]).collect()]
        assert out[:2] == [0.0, 0.0] and out[2] is None  # zero-IQR → 0.0


class TestKFold:
    def test_assignment_deterministic_and_partition_independent(self, spark):
        from fraud_detection_project_spark.ml.split import kfold_assign

        df = spark.range(0, 2000).withColumnRenamed("id", "rid")
        a = {r["rid"]: r["fold"] for r in kfold_assign(df, "rid", k=5).collect()}
        b = {
            r["rid"]: r["fold"]
            for r in kfold_assign(df.repartition(13), "rid", k=5).collect()
        }
        assert a == b                              # layout-independent
        assert set(a.values()) == {0, 1, 2, 3, 4}  # all folds populated
        # different seed reshuffles
        c = {r["rid"]: r["fold"] for r in kfold_assign(df, "rid", k=5, seed=7).collect()}
        assert c != a
        # train/test per fold partitions the data with no copies
        from pyspark.sql import functions as F

        tagged = kfold_assign(df, "rid", k=5)
        n = df.count()
        for i in range(5):
            tr = tagged.filter(F.col("fold") != i).count()
            te = tagged.filter(F.col("fold") == i).count()
            assert tr + te == n and te > 0


class TestQuantileDiscretize:
    def test_balanced_bins_and_nulls(self, spark):
        from fraud_detection_project_spark.ml.prep import quantile_discretize

        df = spark.createDataFrame(
            [(float(v),) for v in range(1000)] + [(None,)], "x double"
        )
        out = quantile_discretize(df, "x", n_bins=4)
        sizes = {
            r["x_bin"]: r["count"]
            for r in out.groupBy("x_bin").count().collect()
        }
        # boundaries 249.75 / 499.5 / 749.25: exactly 250 per bin, and
        # the NULL row passes through as a NULL bin
        assert sizes == {0: 250, 1: 250, 2: 250, 3: 250, None: 1}


class TestWeightedSample:
    """Efraimidis-Spirakis weighted sampling without replacement, as the
    ``weighted_reservoir_orders`` (top-20 orders by ``ln(u) / price``) and
    ``stratified_weighted_sample`` (top-5 events per type) queries run it."""

    @staticmethod
    def _write(tmp_path, name, table):
        import pyarrow.parquet as pq

        pq.write_table(table, str(tmp_path / f"{name}.parquet"))
        return str(tmp_path)

    def test_exact_k_subset_deterministic(self, spark, tmp_path):
        from fraud_detection_project_spark.catalog import load_table
        from fraud_detection_project_spark.queries import QUERIES

        q = QUERIES["weighted_reservoir_orders"]
        a = [tuple(r) for r in q(spark, SF_SMOKE).collect()]
        # the same orders spread over seven files: the sample must not move
        load_table(spark, SF_SMOKE, "orders").repartition(7).write.parquet(
            str(tmp_path / "orders.parquet")
        )
        b = [tuple(r) for r in q(spark, str(tmp_path)).collect()]
        assert a == b and len(a) == 20              # layout-independent, exact k
        assert len({r[0] for r in a}) == 20         # without replacement

    def test_weight_bias(self, spark, tmp_path):
        """Heavy orders are 10/110 of the rows but half the weight mass,
        so they take far more than their ~1.8 uniform share of 20 draws."""
        import pyarrow as pa

        from fraud_detection_project_spark.queries import QUERIES

        keys = list(range(1, 111))
        sf = self._write(tmp_path, "orders", pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_totalprice": pa.array([10.0 if k <= 10 else 1.0 for k in keys]),
        }))
        got = [r["o_orderkey"] for r in QUERIES["weighted_reservoir_orders"](spark, sf).collect()]
        assert len(got) == 20
        assert sum(1 for k in got if k <= 10) >= 6

    def test_reservoir_orders_skip_non_positive_prices(self, spark, tmp_path):
        """An order priced -1.0 would key above every valid order
        (ln(u) < 0, so every valid key is negative) and a 0.0 or NULL
        price has no key: all three stay out of the sample."""
        import pyarrow as pa

        from fraud_detection_project_spark.queries import QUERIES

        keys = list(range(1, 101))
        prices = [float(k) for k in keys[:97]] + [-1.0, 0.0, None]
        sf = self._write(tmp_path, "orders", pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_totalprice": pa.array(prices, pa.float64()),
        }))
        got = QUERIES["weighted_reservoir_orders"](spark, sf).collect()
        assert len(got) == 20
        assert not {r["o_orderkey"] for r in got} & {98, 99, 100}
        assert all(r["es_key"] < 0 for r in got)

    def test_zero_and_null_weights_excluded(self, spark, tmp_path):
        import pyarrow as pa

        from fraud_detection_project_spark.queries import QUERIES

        sf = self._write(tmp_path, "events", pa.table({
            "event_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "ts": pa.array([0] * 5, pa.int64()),
            "user_id": pa.array([1] * 5, pa.int64()),
            "event_type": ["view", "view", "view", "buy", "buy"],
            "value": pa.array([0.0, None, 2.0, -1.0, 3.0], pa.float64()),
            "props": pa.array([None] * 5, pa.string()),
        }))
        got = [
            (r["event_type"], r["event_id"])
            for r in QUERIES["stratified_weighted_sample"](spark, sf).collect()
        ]
        assert got == [("buy", 5), ("view", 3)]
