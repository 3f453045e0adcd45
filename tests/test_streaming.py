"""Structured Streaming layer tests (SURVEY.md §7 Phase 4).

Strategy: every streaming operator's oracle is its *batch* form on the
same rows — run the stream with ``trigger(availableNow=True)`` into a
memory sink, then compare against the batch DataFrame plan.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_src(spark, tmp_path_factory):
    """The normalized events table (µs TimestampType ``ts``) written to a
    local parquet dir — the raw testdata file stores TIMESTAMP(NANOS),
    which Spark reads as a long; streams need a real timestamp column."""
    from fraud_detection_project_spark.catalog import load_table

    path = str(tmp_path_factory.mktemp("events_src") / "events")
    load_table(spark, SF_SMOKE, "events").drop("ts_ns").write.parquet(path)
    return path


def _drain_stream(q, timeout=120):
    """Stop a continuous-trigger query once >=1 batch has completed and
    the source reports drained; robust to the pre-first-trigger window
    where both status flags are already False."""
    import time

    deadline = time.time() + timeout
    while q.isActive and time.time() < deadline:
        if (
            q.lastProgress is not None
            and not q.status["isDataAvailable"]
            and not q.status["isTriggerActive"]
        ):
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)


def _run_stream(spark, stream_df, checkpoint, name=None):
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _read_stream(spark, src_dir, batch_schema):
    return spark.readStream.schema(batch_schema).parquet(src_dir)


def _batch_oracle_velocity(spark, events_src):
    from fraud_detection_project_spark.operators.windows import rolling_count_24h

    batch = spark.read.parquet(events_src)
    return rolling_count_24h(
        batch, "user_id", F.expr("unix_micros(ts)"), "v24h", tick=1_000_000
    ).select("user_id", "ts", "v24h")


def test_streaming_velocity_matches_batch_window(spark, events_src, tmp_path):
    from fraud_detection_project_spark.streaming.velocity import streaming_velocity

    batch = spark.read.parquet(events_src)
    out = streaming_velocity(
        _read_stream(spark, events_src, batch.schema),
        "user_id",
        ts_col="ts",
        out_col="v24h",
    )
    got = _run_stream(spark, out, str(tmp_path / "ckpt")).select(
        "user_id", "ts", "v24h"
    )

    want = _batch_oracle_velocity(spark, events_src)
    assert got.count() == batch.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_velocity_state_carries_across_batches(spark, events_src, tmp_path):
    """Split the stream in event time; run two availableNow passes over
    the same checkpoint. Events in pass 2 must count pass-1 events that
    fall inside their trailing window — i.e. keyed state survived."""
    from fraud_detection_project_spark.streaming.velocity import streaming_velocity

    batch = spark.read.parquet(events_src)
    cut = int(batch.selectExpr("percentile(unix_micros(ts), 0.5) p").first()["p"])
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_pass():
        # memory sink can't recover a checkpoint; the parquet sink can.
        q = (
            streaming_velocity(
                _read_stream(spark, src, batch.schema),
                "user_id",
                ts_col="ts",
                out_col="v24h",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    batch.filter(F.expr(f"unix_micros(ts) <= {cut}")).write.mode("overwrite").parquet(src)
    run_pass()
    batch.filter(F.expr(f"unix_micros(ts) > {cut}")).write.mode("append").parquet(src)
    run_pass()
    got = spark.read.parquet(out).select("user_id", "ts", "v24h")

    want = _batch_oracle_velocity(spark, events_src)
    assert got.count() == batch.count()
    assert got.exceptAll(want).count() == 0
    # the carried state matters: at least one pass-2 event has history
    # older than the cut inside its window
    hist = want.filter(
        (F.expr(f"unix_micros(ts) > {cut}")) & (F.col("v24h") > 0)
    ).count()
    assert hist > 0


def test_tumbling_counts_stream_equals_batch(spark, events_src, tmp_path):
    from fraud_detection_project_spark.streaming.windows import tumbling_event_counts

    batch = spark.read.parquet(events_src)
    got = _run_stream(
        spark,
        tumbling_event_counts(
            _read_stream(spark, events_src, batch.schema), ["user_id"], window="6 hours"
        ),
        str(tmp_path / "ckpt"),
    )
    want = tumbling_event_counts(batch, ["user_id"], window="6 hours")
    # append mode emits a window only once the watermark passes its end;
    # windows still open at end-of-input are withheld — compare against
    # the finalized subset of the batch result.
    wm = batch.select(F.expr("max(ts) - interval 1 hour").alias("wm")).first()["wm"]
    finalized = want.filter(F.col("win_end") <= F.lit(wm))
    assert got.exceptAll(want).count() == 0
    assert finalized.exceptAll(got).count() == 0
    assert finalized.count() > 0


def test_sliding_counts_stream_equals_batch(spark, events_src, tmp_path):
    from fraud_detection_project_spark.streaming.windows import sliding_event_counts

    batch = spark.read.parquet(events_src)
    got = _run_stream(
        spark,
        sliding_event_counts(
            _read_stream(spark, events_src, batch.schema),
            ["user_id"],
            window="24 hours",
            slide="6 hours",
        ),
        str(tmp_path / "ckpt"),
    )
    want = sliding_event_counts(batch, ["user_id"], window="24 hours", slide="6 hours")
    wm = batch.select(F.expr("max(ts) - interval 1 hour").alias("wm")).first()["wm"]
    finalized = want.filter(F.col("win_end") <= F.lit(wm))
    assert got.exceptAll(want).count() == 0
    assert finalized.exceptAll(got).count() == 0
    assert finalized.count() > 0


def test_score_stream_matches_batch_transform(spark, events_src, tmp_path):
    from fraud_detection_project_spark.ml.prep import build_feature_pipeline
    from fraud_detection_project_spark.streaming.scoring import score_stream

    batch = spark.read.parquet(events_src)
    model = build_feature_pipeline(["value"], ["event_type"]).fit(batch)

    scored = score_stream(
        _read_stream(spark, events_src, batch.schema),
        model,
        select=["event_id", "features"],
    )
    assert scored.isStreaming
    got = _run_stream(spark, scored, str(tmp_path / "ckpt"))

    want = model.transform(batch).select("event_id", "features")
    assert got.count() == want.count()
    pairs = got.alias("g").join(want.alias("w"), "event_id")
    mismatch = pairs.filter(F.col("g.features") != F.col("w.features")).count()
    assert mismatch == 0


def test_end_to_end_streaming_scoring(spark, events_src, tmp_path):
    """The north-star composition (SURVEY.md §7 Phase 4): one streaming
    plan that geolocation-enriches each event (broadcast range join),
    computes the stateful trailing-24h velocity, and scores with a
    batch-fitted feature pipeline. Oracle = the identical batch plan."""
    from fraud_detection_project_spark.ml.prep import build_feature_pipeline
    from fraud_detection_project_spark.operators.joins import geolocate
    from fraud_detection_project_spark.operators.windows import rolling_count_24h
    from fraud_detection_project_spark.streaming.velocity import streaming_velocity

    batch = spark.read.parquet(events_src)
    # tiny interval dim over `value` standing in for the IP table
    dim = spark.createDataFrame(
        [(float(b * 40), float(b * 40 + 29.5), f"zone_{b}") for b in range(6)],
        "lo double, hi double, country string",
    )

    def enrich_and_score(df, vel_fn):
        enriched = geolocate(df, dim, ip_col="value", lower="lo", upper="hi")
        return vel_fn(enriched)

    # batch oracle
    want_feats = enrich_and_score(
        batch,
        lambda d: rolling_count_24h(
            d, "user_id", F.expr("unix_micros(ts)"), "v24h", tick=1_000_000
        ),
    )
    model = build_feature_pipeline(["value", "v24h"], ["country"]).fit(want_feats)
    want = model.transform(want_feats).select("event_id", "country", "v24h", "features")

    # streaming plan: enrich → stateful velocity → score, one writeStream
    stream = _read_stream(spark, events_src, batch.schema)
    s_feats = streaming_velocity(
        geolocate(stream, dim, ip_col="value", lower="lo", upper="hi"),
        "user_id",
        ts_col="ts",
        out_col="v24h",
    )
    scored = model.transform(s_feats).select("event_id", "country", "v24h", "features")
    assert scored.isStreaming
    got = _run_stream(spark, scored, str(tmp_path / "ckpt"))

    assert got.count() == batch.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


class TestStreamStreamJoin:
    def test_interval_join_stream_equals_batch(self, spark, events_src, tmp_path):
        """Purchase stream ⋈ error stream per user within [0, 30m]:
        availableNow drain of the watermarked stream-stream join equals
        the batch interval join over the same data."""
        from fraud_detection_project_spark.streaming.joins import interval_join_streams

        batch = spark.read.parquet(events_src)
        schema = batch.schema

        def split(df):
            cols = ["event_id", "user_id", "ts"]
            return (
                df.filter(F.col("event_type") == "purchase").select(cols),
                df.filter(F.col("event_type") == "error").select(cols),
            )

        lb, rb = split(batch)
        want = {
            (r["l_event_id"], r["r_event_id"])
            for r in interval_join_streams(
                lb, rb, "user_id", lower="0 seconds", upper="30 minutes"
            ).collect()
        }
        assert want, "fixture must produce at least one joined pair"

        ls, rs = split(_read_stream(spark, events_src, schema))
        joined = interval_join_streams(
            ls, rs, "user_id", lower="0 seconds", upper="30 minutes"
        )
        got_df = _run_stream(
            spark, joined.select("l_event_id", "r_event_id"),
            str(tmp_path / "ck_ssj"),
        )
        got = {(r["l_event_id"], r["r_event_id"]) for r in got_df.collect()}
        assert got == want

    def test_state_bound_in_plan(self, spark, events_src):
        """Both sides carry watermarks and the join condition carries the
        event-time range — the ingredients Spark needs to evict state."""
        from fraud_detection_project_spark.streaming.joins import interval_join_streams

        batch = spark.read.parquet(events_src)
        s = _read_stream(spark, events_src, batch.schema)
        j = interval_join_streams(
            s.filter(F.col("event_type") == "purchase"),
            s.filter(F.col("event_type") == "error"),
            "user_id",
            upper="10 minutes",
        )
        plan = j._jdf.queryExecution().analyzed().toString()
        assert plan.lower().count("watermark") >= 2, plan


class TestStreamingAggMaintenance:
    SPECS = {
        "n": ("value", "count"),
        "total": ("value", "sum"),
        "vmax": ("value", "max"),
    }
    SCHEMA = "event_type string, n long, total double, vmax double"

    def test_stream_state_equals_batch_aggregate(self, spark, events_src, tmp_path):
        from pyspark.sql import functions as F

        from fraud_detection_project_spark.operators.incremental import (
            aggregate_delta,
        )
        from fraud_detection_project_spark.streaming.incremental import (
            read_state,
            streaming_aggregate,
        )

        src = (
            spark.readStream.schema(spark.read.parquet(events_src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_src)
            .filter(F.col("value").isNotNull())
        )
        path = str(tmp_path / "agg_state")
        q = streaming_aggregate(
            src,
            ["event_type"],
            self.SPECS,
            path,
            checkpoint=str(tmp_path / "ckpt"),
            state_schema=self.SCHEMA,
        )
        _drain_stream(q)

        got = {
            r["event_type"]: (r["n"], round(r["total"], 6), r["vmax"])
            for r in read_state(spark, path, self.SCHEMA).collect()
        }
        want = {
            r["event_type"]: (r["n"], round(r["total"], 6), r["vmax"])
            for r in aggregate_delta(
                spark.read.parquet(events_src).filter(
                    F.col("value").isNotNull()
                ),
                ["event_type"],
                self.SPECS,
            ).collect()
        }
        assert got == want and len(got) > 0

    def test_new_group_appears_mid_stream(self, spark, tmp_path):
        from fraud_detection_project_spark.operators.incremental import (
            merge_aggregate_state,
        )
        from fraud_detection_project_spark.streaming.incremental import (
            read_state,
        )
        from fraud_detection_project_spark.streaming.state_store import (
            commit as _commit,
        )

        path = str(tmp_path / "state")
        b1 = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0)], "event_type string, value double"
        )
        b2 = spark.createDataFrame(
            [("b", 5.0)], "event_type string, value double"
        )
        specs = self.SPECS
        s0 = read_state(spark, path, self.SCHEMA)
        _commit(merge_aggregate_state(s0, b1, ["event_type"], specs), path)
        s1 = read_state(spark, path, self.SCHEMA)
        _commit(merge_aggregate_state(s1, b2, ["event_type"], specs), path)
        got = {
            r["event_type"]: (r["n"], r["total"], r["vmax"])
            for r in read_state(spark, path, self.SCHEMA).collect()
        }
        assert got == {"a": (2, 3.0, 2.0), "b": (1, 5.0, 5.0)}


class TestStreamingAmsF2:
    """Round-7: the AMS F2 sketch streams by per-estimator signed-sum
    addition — stream == batch exactly, replays are no-ops."""

    def test_sequential_merge_equals_one_shot(self, spark, tmp_path):
        from fraud_detection_project_spark.streaming.sketches import (
            _ams_batch_delta,
            merge_ams_batch,
            read_ams,
        )

        b1 = spark.createDataFrame([(i % 11,) for i in range(60)], "k long")
        b2 = spark.createDataFrame([(i % 17,) for i in range(45)], "k long")
        path = str(tmp_path / "ams_state")
        merge_ams_batch(spark, b1, "k", path, epoch=0, stream_id=None)
        merge_ams_batch(spark, b2, "k", path, epoch=1, stream_id=None)
        got = {r["j"]: r["z"] for r in read_ams(spark, path).collect()}
        want = {
            r["j"]: r["z"]
            for r in _ams_batch_delta(b1.union(b2), "k", 8).collect()
        }
        assert got == want and len(got) == 8

    def test_replayed_epoch_is_noop_and_estimate_sane(self, spark, tmp_path):
        from fraud_detection_project_spark.streaming.sketches import (
            merge_ams_batch,
            read_ams,
        )

        rows = [(i % 9,) for i in range(90)]
        b = spark.createDataFrame(rows, "k long")
        path = str(tmp_path / "ams_state2")
        merge_ams_batch(spark, b, "k", path, epoch=0, stream_id=None)
        before = {r["j"]: r["z"] for r in read_ams(spark, path).collect()}
        merge_ams_batch(spark, b, "k", path, epoch=0, stream_id=None)  # replay
        after = {r["j"]: r["z"] for r in read_ams(spark, path).collect()}
        assert after == before
        from collections import Counter

        f2 = sum(c * c for c in Counter(k for (k,) in rows).values())
        assert len(after) == 8
        # the 8-estimator mean of Z_j² is unbiased; allow a wide band
        f2_mean = sum(z * z for z in after.values()) / len(after)
        assert 0.1 * f2 < f2_mean < 10 * f2

    def test_stream_equals_batch_over_files(self, spark, events_src, tmp_path):
        from fraud_detection_project_spark.streaming.sketches import (
            _ams_batch_delta,
            read_ams,
            streaming_ams_f2,
        )

        src = spark.readStream.schema(
            spark.read.parquet(events_src).schema
        ).option("maxFilesPerTrigger", 1).parquet(events_src)
        path = str(tmp_path / "ams_stream")
        q = streaming_ams_f2(
            src, "user_id", path, checkpoint=str(tmp_path / "ams_ckpt")
        )
        _drain_stream(q)
        got = {r["j"]: r["z"] for r in read_ams(spark, path).collect()}
        want = {
            r["j"]: r["z"]
            for r in _ams_batch_delta(
                spark.read.parquet(events_src), "user_id", 8
            ).collect()
        }
        assert got == want and len(got) == 8
