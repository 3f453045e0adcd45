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


def test_streaming_dedup_within_watermark(spark, events_src, tmp_path):
    """Duplicated source rows collapse to one per key on the stream,
    matching batch dropDuplicates (all dups here are inside the
    watermark horizon)."""
    from fraud_detection_project_spark.streaming.dedup import dedup_stream

    batch = spark.read.parquet(events_src)
    dup_src = str(tmp_path / "dup")
    doubled = batch.union(batch)
    doubled.write.parquet(dup_src)

    got = _run_stream(
        spark,
        dedup_stream(
            _read_stream(spark, dup_src, batch.schema), ["event_id"], ts_col="ts"
        ),
        str(tmp_path / "ckpt"),
    )
    want = dedup_stream(doubled, ["event_id"])
    assert got.count() == batch.count()
    assert got.select("event_id").exceptAll(want.select("event_id")).count() == 0


def test_session_window_stream_matches_batch_sessionize(spark, events_src, tmp_path):
    """Streaming session_window totals == batch gaps-and-islands
    sessionization (finalized sessions only: a session is emitted once
    the watermark passes its close)."""
    from fraud_detection_project_spark.operators.windows import sessionize
    from fraud_detection_project_spark.streaming.windows import session_event_counts

    batch = spark.read.parquet(events_src)
    got = _run_stream(
        spark,
        session_event_counts(
            _read_stream(spark, events_src, batch.schema),
            ["user_id"],
            gap="30 minutes",
        ),
        str(tmp_path / "ckpt"),
    )

    want = (
        sessionize(
            batch.withColumn("ts_us", F.unix_micros("ts")),
            "user_id",
            "ts_us",
            gap_seconds=1800,
            tick=1_000_000,
        )
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_ts"))
    )
    wm = batch.select(F.expr("max(ts) - interval 1 hour").alias("wm")).first()["wm"]
    finalized = want.filter(F.expr("last_ts + interval 30 minutes") <= F.lit(wm))

    # compare the multiset of (user_id, n_events) session sizes
    g = got.select("user_id", "n_events")
    w = finalized.select("user_id", "n_events")
    assert g.exceptAll(w).count() == 0
    assert w.exceptAll(g).count() == 0
    assert w.count() > 0


class TestStreamingUpsert:
    def test_microbatched_cdc_equals_batch_merge(self, spark, tmp_path):
        """3 micro-batches through the foreachBatch upsert sink produce
        the same snapshot as one batch merge over all changes."""
        from fraud_detection_project_spark.operators.merge import merge_apply
        from fraud_detection_project_spark.streaming.upsert import (
            apply_cdc_stream,
            init_snapshot,
            read_snapshot,
        )

        base = spark.createDataFrame(
            [(k, f"v{k}", 0) for k in range(20)], "k long, v string, seq long"
        )
        snap = str(tmp_path / "snap")
        init_snapshot(base, snap)

        # three files -> three micro-batches (maxFilesPerTrigger=1);
        # key 3 is updated then deleted, key 5 deleted then re-inserted,
        # key 100 is a fresh insert
        batches = [
            [(3, "b1", "U", 1), (5, None, "D", 2), (7, "b2", "U", 3)],
            [(3, None, "D", 4), (5, "back", "U", 5), (100, "new", "U", 6)],
            [(7, "b3", "U", 7), (11, "x", "U", 8)],
        ]
        chdir = tmp_path / "changes"
        chdir.mkdir()
        for i, rows in enumerate(batches):
            spark.createDataFrame(
                rows, "k long, v string, op string, seq long"
            ).coalesce(1).write.parquet(str(chdir / f"b{i}"))

        stream = (
            spark.readStream.schema("k long, v string, op string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(chdir / "*"))
        )
        apply_cdc_stream(
            spark, stream, snap, keys=["k"], seq_col="seq",
            checkpoint=str(tmp_path / "ckpt"),
        )

        all_changes = spark.createDataFrame(
            [r for b in batches for r in b], "k long, v string, op string, seq long"
        )
        want = {
            (r["k"], r["v"])
            for r in merge_apply(base, all_changes, ["k"], "seq").collect()
        }
        got = {
            (r["k"], r["v"]) for r in read_snapshot(spark, snap).collect()
        }
        assert got == want
        assert all(k != 3 for k, _ in got)          # deleted
        assert (5, "back") in got and (100, "new") in got and (7, "b3") in got

    def test_time_travel_reads_retained_versions(self, spark, tmp_path):
        """GC keeps two versions; read_snapshot(version=...)
        reads them, and a GC'd version raises with what's available."""
        import pytest as _pytest

        from fraud_detection_project_spark.operators.merge import merge_apply
        from fraud_detection_project_spark.streaming.upsert import (
            _commit,
            _gc,
            init_snapshot,
            list_versions,
            read_snapshot,
        )

        base = spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0)], "k long, v string, seq long"
        )
        snap = str(tmp_path / "snap")
        init_snapshot(base, snap)
        for i, rows in enumerate(
            [[(1, "a1", "U", 1)], [(2, None, "D", 2)]], start=1
        ):
            ch = spark.createDataFrame(rows, "k long, v string, op string, seq long")
            merged = merge_apply(read_snapshot(spark, snap), ch, ["k"], "seq")
            import os

            merged.write.mode("overwrite").parquet(
                os.path.join(snap, f"v{i:08d}")
            )
            _commit(snap, f"v{i:08d}")
            _gc(snap)

        assert list_versions(snap) == ["v00000001", "v00000002"]
        v1 = {(r["k"], r["v"]) for r in read_snapshot(spark, snap, 1).collect()}
        assert v1 == {(1, "a1"), (2, "b")}
        cur = {(r["k"], r["v"]) for r in read_snapshot(spark, snap).collect()}
        assert cur == {(1, "a1")}
        with _pytest.raises(FileNotFoundError, match="v00000001"):
            read_snapshot(spark, snap, 0)  # GC'd; error names retained ones

    def test_commit_is_atomic_and_crash_recoverable(self, spark, tmp_path):
        """The manifest flip is the commit: a half-written version dir
        with an unflipped manifest leaves the previous snapshot intact,
        and a later merge over the same version name recovers."""
        import os

        from fraud_detection_project_spark.streaming.upsert import (
            current_version,
            init_snapshot,
            read_snapshot,
        )

        base = spark.createDataFrame(
            [(1, "a", 0), (2, "b", 0)], "k long, v string, seq long"
        )
        snap = str(tmp_path / "snap")
        init_snapshot(base, snap)
        v0 = current_version(snap)

        # simulate a crash mid-write: version dir exists, garbage inside,
        # manifest never flipped
        crashed = os.path.join(snap, "v00000001")
        os.makedirs(crashed)
        with open(os.path.join(crashed, "part-junk.parquet"), "wb") as f:
            f.write(b"\x00not parquet")

        assert current_version(snap) == v0
        got = {(r["k"], r["v"]) for r in read_snapshot(spark, snap).collect()}
        assert got == {(1, "a"), (2, "b")}  # committed snapshot untouched

        # the recovery path overwrites the junk dir and flips the pointer
        upd = spark.createDataFrame([(2, "b2", 1)], "k long, v string, seq long")
        upd.write.mode("overwrite").parquet(crashed)
        from fraud_detection_project_spark.streaming.upsert import _commit

        _commit(snap, "v00000001")
        assert current_version(snap) == "v00000001"
        got = {(r["k"], r["v"]) for r in read_snapshot(spark, snap).collect()}
        assert got == {(2, "b2")}

    def test_stale_replay_is_noop(self, spark, tmp_path):
        """Re-applying an old changeset against a newer snapshot changes
        nothing (seq guard idempotence)."""
        from fraud_detection_project_spark.operators.merge import merge_apply

        snap = spark.createDataFrame(
            [(1, "new", 10), (2, "cur", 5)], "k long, v string, seq long"
        )
        stale = spark.createDataFrame(
            [(1, "old", "U", 3), (2, None, "D", 4)],
            "k long, v string, op string, seq long",
        )
        out = {
            (r["k"], r["v"], r["seq"])
            for r in merge_apply(snap, stale, ["k"], "seq").collect()
        }
        assert out == {(1, "new", 10), (2, "cur", 5)}


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


class TestStreamingZscore:
    def test_stream_matches_batch_twin(self, spark, events_src, tmp_path):
        from fraud_detection_project_spark.streaming.anomaly import (
            expanding_zscore,
            streaming_zscore,
        )

        batch = spark.read.parquet(events_src)
        want = {
            r["event_id"]: r["zscore"]
            for r in expanding_zscore(
                batch.filter(F.col("value").isNotNull()),
                "user_id", "ts", "value", "event_id", round_dp=6,
            ).collect()
        }
        out = streaming_zscore(
            _read_stream(spark, events_src, batch.schema),
            "user_id", ts_col="ts", val_col="value", id_col="event_id",
            round_dp=6,
        )
        got = {
            r["event_id"]: r["zscore"]
            for r in _run_stream(spark, out, str(tmp_path / "ck_z")).collect()
        }
        assert got.keys() == want.keys()
        n_scored = 0
        for k in want:
            a, b = got[k], want[k]
            if b is None:
                assert a is None, k
            else:
                n_scored += 1
                # Welford vs two-pass window moments: identical to well
                # under the rounding precision
                assert a is not None and abs(a - b) <= 2e-6, (k, a, b)
        assert n_scored > 0


def test_streaming_decontamination_matches_batch_operator(spark, tmp_path):
    """The stateless streaming contamination score (append mode, no
    state) agrees with both its own batch form and the batch
    broadcast-join operator (ngram_contamination) on the same docs."""
    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.operators.dedup import ngram_contamination
    from fraud_detection_project_spark.streaming.decontam import (
        contamination_scores,
        probe_shingle_hashes,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    probes = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    hashes = probe_shingle_hashes(probes, n=13)
    assert hashes

    # batch form of the streaming expression
    batch_scores = {
        r["doc_id"]: r["n_hit_ngrams"]
        for r in contamination_scores(corpus, hashes, n=13).collect()
    }
    # agrees with the broadcast-join operator on contaminated docs
    op = {
        r["doc_id"]: r["n_hit_ngrams"]
        for r in ngram_contamination(corpus, probes, n=13).collect()
    }
    assert op  # the check bites: contamination exists in the testdata
    assert {k: v for k, v in batch_scores.items() if v > 0} == op

    # stream ≡ batch: same expression through a real stream
    src = str(tmp_path / "docs")
    corpus.write.parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    got = _run_stream(
        spark,
        contamination_scores(stream, hashes, n=13),
        str(tmp_path / "ckpt"),
    )
    stream_scores = {r["doc_id"]: r["n_hit_ngrams"] for r in got.collect()}
    assert stream_scores == batch_scores


def test_stream_enrich_against_versioned_snapshot(spark, tmp_path):
    """Composition: a foreachBatch enricher that re-resolves the
    versioned snapshot manifest per micro-batch always joins against
    the FRESHEST committed dim — events arriving after a snapshot
    commit pick up the new attributes, earlier output is untouched.
    (The read side of the upsert sink's commit protocol.)"""
    import os

    from fraud_detection_project_spark.streaming.upsert import (
        _commit,
        init_snapshot,
        read_snapshot,
    )

    dim_root = str(tmp_path / "dim")
    out_dir = str(tmp_path / "out")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    v0 = spark.createDataFrame(
        [(1, "bronze"), (2, "bronze")], "user_id long, tier string"
    )
    init_snapshot(v0, dim_root)

    def run_pass(rows):
        spark.createDataFrame(rows, "event_id long, user_id long").coalesce(
            1
        ).write.mode("append").parquet(src)
        stream = spark.readStream.schema("event_id long, user_id long").parquet(src)

        def enrich(batch, batch_id):
            dim = read_snapshot(spark, dim_root)  # manifest re-resolved
            batch.join(dim, "user_id", "left").write.mode("append").parquet(
                out_dir
            )

        q = (
            stream.writeStream.foreachBatch(enrich)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_pass([(100, 1), (101, 2)])           # enriched against v0

    v1 = spark.createDataFrame(
        [(1, "gold"), (2, "bronze")], "user_id long, tier string"
    )
    v1.write.mode("overwrite").parquet(os.path.join(dim_root, "v00000001"))
    _commit(dim_root, "v00000001")

    run_pass([(200, 1), (201, 2)])           # enriched against v1

    got = {
        r["event_id"]: r["tier"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {100: "bronze", 101: "bronze", 200: "gold", 201: "bronze"}


class TestStreamingCountMin:
    def test_stream_sketch_equals_batch_sketch(self, spark, events_src, tmp_path):
        """Sum-mergeability makes the streamed sketch EXACTLY the batch
        sketch of the same rows — cell-wise, hence estimate-wise."""
        from fraud_detection_project_spark.operators.sketches import (
            count_min_table,
        )
        from fraud_detection_project_spark.streaming.sketches import (
            read_sketch,
            streaming_count_min,
        )

        src = spark.readStream.schema(
            spark.read.parquet(events_src).schema
        ).option("maxFilesPerTrigger", 1).parquet(events_src)
        path = str(tmp_path / "cms_state")
        q = streaming_count_min(
            src,
            "user_id",
            path,
            checkpoint=str(tmp_path / "ckpt"),
            width=256,
        )
        # availableNow isn't used here (maxFilesPerTrigger exercises
        # multi-batch merging); stop once at least one batch has run AND
        # the source has drained (the status flags alone race the first
        # trigger)
        _drain_stream(q)

        got = {
            (r["depth"], r["bucket"]): r["cnt"]
            for r in read_sketch(spark, path).collect()
        }
        want = {
            (r["depth"], r["bucket"]): r["cnt"]
            for r in count_min_table(
                spark.read.parquet(events_src), "user_id", width=256
            ).collect()
        }
        assert got == want and len(got) > 0

    def test_merge_is_idempotent_free_accumulation(self, spark, tmp_path):
        """Two disjoint batches merged sequentially == one combined
        batch sketched once."""
        from fraud_detection_project_spark.operators.sketches import (
            count_min_table,
        )
        from fraud_detection_project_spark.streaming.sketches import (
            merge_sketch_batch,
            read_sketch,
        )

        b1 = spark.createDataFrame([(i % 5,) for i in range(40)], "k long")
        b2 = spark.createDataFrame([(i % 7,) for i in range(30)], "k long")
        path = str(tmp_path / "state")
        merge_sketch_batch(spark, b1, "k", path, width=64, epoch=None, stream_id=None)
        merge_sketch_batch(spark, b2, "k", path, width=64, epoch=None, stream_id=None)
        got = {
            (r["depth"], r["bucket"]): r["cnt"]
            for r in read_sketch(spark, path).collect()
        }
        want = {
            (r["depth"], r["bucket"]): r["cnt"]
            for r in count_min_table(b1.union(b2), "k", width=64).collect()
        }
        assert got == want

    def test_replayed_epoch_is_noop(self, spark, tmp_path):
        """foreachBatch is at-least-once: a crash between the manifest
        flip and the checkpoint commit replays the SAME epoch id — the
        merge must detect it via the manifest and not double-count
        (ADVICE r5). Covers the count-min and histogram paths."""
        from fraud_detection_project_spark.streaming.sketches import (
            merge_histogram_batch,
            merge_sketch_batch,
            read_histogram,
            read_sketch,
        )

        b1 = spark.createDataFrame([(i % 5,) for i in range(40)], "k long")
        b2 = spark.createDataFrame([(i % 7,) for i in range(30)], "k long")
        path = str(tmp_path / "state")
        merge_sketch_batch(spark, b1, "k", path, width=64, epoch=0, stream_id=None)
        merge_sketch_batch(spark, b2, "k", path, width=64, epoch=1, stream_id=None)
        before = {
            (r["depth"], r["bucket"]): r["cnt"]
            for r in read_sketch(spark, path).collect()
        }
        merge_sketch_batch(spark, b2, "k", path, width=64, epoch=1,
                           stream_id=None)  # replay
        after = {
            (r["depth"], r["bucket"]): r["cnt"]
            for r in read_sketch(spark, path).collect()
        }
        assert after == before
        # An epoch STRICTLY BELOW the last applied under the same
        # identity is NOT a replay — foreachBatch never re-delivers an
        # older epoch within one incarnation, so it can only be a
        # checkpoint-loss restart at the same path and must apply
        # (VERDICT r12 item 1; round-13 incarnation tests cover the
        # full scenario).
        merge_sketch_batch(spark, b1, "k", path, width=64, epoch=0, stream_id=None)
        reborn = {
            (r["depth"], r["bucket"]): r["cnt"]
            for r in read_sketch(spark, path).collect()
        }
        assert reborn != before  # b1 counted again under the new incarnation

        hb = spark.createDataFrame([(float(i % 10),) for i in range(50)],
                                   "v double")
        hpath = str(tmp_path / "hstate")
        merge_histogram_batch(spark, hb, "v", hpath, lo=0.0, hi=10.0,
                              n_bins=16, epoch=0, stream_id=None)
        hbefore = {r["bin"]: r["cnt"]
                   for r in read_histogram(spark, hpath).collect()}
        merge_histogram_batch(spark, hb, "v", hpath, lo=0.0, hi=10.0,
                              n_bins=16, epoch=0, stream_id=None)  # replay
        hafter = {r["bin"]: r["cnt"]
                  for r in read_histogram(spark, hpath).collect()}
        assert hafter == hbefore and sum(hbefore.values()) == 50


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


def test_hash_filter_gate_stream_equals_batch(spark, events_src, tmp_path):
    """Stream-side pruning gate == the batch hash filter on the same
    rows, and every true match survives."""
    from pyspark.sql import functions as F

    from fraud_detection_project_spark.operators.sketches import (
        hash_filter_semijoin,
    )
    from fraud_detection_project_spark.streaming.decontam import (
        hash_filter_gate,
    )

    batch = spark.read.parquet(events_src)
    dim = batch.filter(F.col("user_id") % 7 == 0).select("user_id").distinct()
    src = spark.readStream.schema(batch.schema).parquet(events_src)
    gated = hash_filter_gate(src, "user_id", dim, "user_id", num_buckets=1 << 12)
    q = (
        gated.writeStream.format("memory")
        .queryName("hfgate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r["event_id"] for r in spark.sql("SELECT event_id FROM hfgate").collect()
    )
    want = sorted(
        r["event_id"]
        for r in hash_filter_semijoin(
            batch, "user_id", dim, "user_id", num_buckets=1 << 12
        ).collect()
    )
    assert got == want
    exact = sorted(
        r["event_id"]
        for r in batch.join(F.broadcast(dim), "user_id", "left_semi").collect()
    )
    assert set(exact) <= set(got)


class TestStreamingHistogram:
    def test_stream_histogram_equals_batch_and_serves_quantiles(
        self, spark, events_src, tmp_path
    ):
        """Bin-count sum-mergeability: the streamed histogram is
        cell-wise identical to the batch build over the same rows, so
        quantile estimates served off the state match the batch sketch
        exactly."""
        from fraud_detection_project_spark.operators.sketches import (
            histogram_sketch,
            quantiles_from_histogram,
        )
        from fraud_detection_project_spark.streaming.sketches import (
            read_histogram,
            streaming_histogram,
        )

        batch_df = spark.read.parquet(events_src)
        r = batch_df.selectExpr(
            "min(value) AS lo", "max(value) AS hi"
        ).first()
        lo, hi = float(r["lo"]), float(r["hi"])
        src = spark.readStream.schema(batch_df.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(events_src)
        path = str(tmp_path / "hist_state")
        q = streaming_histogram(
            src, "value", path,
            checkpoint=str(tmp_path / "hckpt"),
            lo=lo, hi=hi, n_bins=64,
        )
        _drain_stream(q)

        got = {
            r["bin"]: r["cnt"]
            for r in read_histogram(spark, path).collect()
        }
        want = {
            r["bin"]: r["cnt"]
            for r in histogram_sketch(
                batch_df, "value", n_bins=64, lo=lo, hi=hi
            ).collect()
        }
        assert got == want and len(got) > 0

        est_stream = {
            r["prob"]: r["est"]
            for r in quantiles_from_histogram(
                read_histogram(spark, path), [0.5, 0.9]
            ).collect()
        }
        est_batch = {
            r["prob"]: r["est"]
            for r in quantiles_from_histogram(
                histogram_sketch(batch_df, "value", n_bins=64, lo=lo, hi=hi),
                [0.5, 0.9],
            ).collect()
        }
        assert est_stream == est_batch


# ---------------------------------------------------------------------------
# Streaming lateness auditor (streaming/lateness.py) — incremental twin
# of the event_lateness_profile batch query.
# ---------------------------------------------------------------------------


def _with_arrival(df):
    """Deterministic simulated arrival time.  Unlike the registered
    query's plain affine delay (which on sf0.001's dense 0..999 ids
    degenerates to a monotone 20*id+7 — nothing reorders), the test
    uses the full mod-prime-then-REMULTIPLY mix and a 3-day ceiling so
    the tiny fixture actually exercises out-of-order arrivals."""
    return df.withColumn(
        "arr",
        F.timestamp_micros(
            F.unix_micros("ts")
            + (
                (F.col("event_id") * 1000003 + 7) % 999983 * 40503 % 999983
                % 259200
            )
            * 1_000_000
        ),
    )


def test_lateness_stream_equals_batch(spark, events_src, tmp_path):
    from fraud_detection_project_spark.streaming.lateness import (
        batch_lateness_oracle,
        late_event_audit,
    )

    batch = _with_arrival(spark.read.parquet(events_src))
    src = str(tmp_path / "src")
    batch.write.parquet(src)
    stream = late_event_audit(
        _read_stream(spark, src, batch.schema), "user_id"
    )
    got = _run_stream(spark, stream, str(tmp_path / "ckpt"))
    want = batch_lateness_oracle(batch, "user_id")
    assert got.count() == batch.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the simulated delays must actually produce disorder
    assert want.filter("is_late").count() > 0


def test_lateness_state_carries_across_batches(spark, events_src, tmp_path):
    """Split the stream by ARRIVAL time; pass-2 events must measure
    lateness against pass-1 running maxima (keyed state survived the
    restart)."""
    from fraud_detection_project_spark.streaming.lateness import (
        batch_lateness_oracle,
        late_event_audit,
    )

    batch = _with_arrival(spark.read.parquet(events_src))
    cut = int(batch.selectExpr("percentile(unix_micros(arr), 0.5) p").first()["p"])
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_pass():
        q = (
            late_event_audit(_read_stream(spark, src, batch.schema), "user_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    batch.filter(F.expr(f"unix_micros(arr) <= {cut}")).write.mode(
        "overwrite"
    ).parquet(src)
    run_pass()
    batch.filter(F.expr(f"unix_micros(arr) > {cut}")).write.mode("append").parquet(
        src
    )
    run_pass()
    got = spark.read.parquet(out)
    want = batch_lateness_oracle(batch, "user_id")
    assert got.count() == batch.count()
    assert got.exceptAll(want).count() == 0
    # carried state matters: some pass-2 event is late only because of
    # a pass-1 maximum
    pass2_late = (
        got.join(
            batch.select("event_id", "arr"), "event_id"
        )
        .filter((F.unix_micros("arr") > cut) & F.col("is_late"))
        .count()
    )
    assert pass2_late > 0


class TestStreamingPageHinkley:
    LAM = 500.0

    def test_stream_matches_batch_twin(self, spark, events_src, tmp_path):
        from fraud_detection_project_spark.streaming.drift import (
            page_hinkley_batch,
            streaming_page_hinkley,
        )

        batch = spark.read.parquet(events_src)
        want = {
            r["event_id"]: r
            for r in page_hinkley_batch(
                batch.filter(F.col("value").isNotNull()),
                "user_id", "ts", "value", "event_id", lam=self.LAM,
            ).collect()
        }
        out = streaming_page_hinkley(
            _read_stream(spark, events_src, batch.schema),
            "user_id", ts_col="ts", val_col="value", id_col="event_id",
            lam=self.LAM,
        )
        got = {
            r["event_id"]: r
            for r in _run_stream(spark, out, str(tmp_path / "ck_ph")).collect()
        }
        assert got.keys() == want.keys()
        n_alarms = 0
        for k, w in want.items():
            g = got[k]
            # incremental vs window arithmetic: identical summation
            # order, so agreement far under any decision boundary
            assert abs(g["m"] - w["m"]) <= 1e-6 * max(1.0, abs(w["m"]))
            assert abs(g["ph"] - w["ph"]) <= 1e-6 * max(1.0, abs(w["ph"]))
            assert g["alarm"] == w["alarm"], k
            n_alarms += int(g["alarm"])
        # the fixture must actually exercise the alarm branch
        assert 0 < n_alarms < len(want)

    def test_state_carries_across_batches(self, spark, events_src, tmp_path):
        """Split in event time, two availableNow passes over one
        checkpoint: pass-2 PH statistics must continue pass-1's
        cumulative state, not restart from zero."""
        from fraud_detection_project_spark.streaming.drift import (
            page_hinkley_batch,
            streaming_page_hinkley,
        )

        batch = spark.read.parquet(events_src)
        cut = int(
            batch.selectExpr("percentile(unix_micros(ts), 0.5) p").first()["p"]
        )
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")

        def run_pass():
            q = (
                streaming_page_hinkley(
                    _read_stream(spark, src, batch.schema),
                    "user_id", ts_col="ts", val_col="value",
                    id_col="event_id", lam=self.LAM,
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        batch.filter(F.expr(f"unix_micros(ts) <= {cut}")).write.mode(
            "overwrite"
        ).parquet(src)
        run_pass()
        batch.filter(F.expr(f"unix_micros(ts) > {cut}")).write.mode(
            "append"
        ).parquet(src)
        run_pass()
        got = {
            r["event_id"]: r
            for r in spark.read.parquet(out).collect()
        }
        want = {
            r["event_id"]: r
            for r in page_hinkley_batch(
                batch.filter(F.col("value").isNotNull()),
                "user_id", "ts", "value", "event_id", lam=self.LAM,
            ).collect()
        }
        assert got.keys() == want.keys()
        for k, w in want.items():
            g = got[k]
            assert abs(g["m"] - w["m"]) <= 1e-6 * max(1.0, abs(w["m"]))
            assert g["alarm"] == w["alarm"], k


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
            ams_f2_estimate,
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
        est = ams_f2_estimate(spark, path).first()
        from collections import Counter

        f2 = sum(c * c for c in Counter(k for (k,) in rows).values())
        assert est["n_estimators"] == 8
        # 8-estimator mean is unbiased; allow a wide sampling band
        assert 0.1 * f2 < est["f2_mean"] < 10 * f2

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
