"""Round-12 fixes: the ADVICE r11 items.

- the versioned-manifest replay guard keys on (stream identity, epoch),
  not the epoch alone (ADVICE r11 medium): epoch ids are scoped to a
  streaming checkpoint, so a restart against a NEW checkpoint resets
  them to 0 and an epoch-only guard silently DROPPED genuinely new
  batches until the fresh ids caught up — data loss instead of the
  double-count it guards against. The identity is the checkpoint
  location (exactly the epoch counter's scope), the same shape as
  Delta's txnAppId+txnVersion idempotent writes;
- a prior batch-mode commit (epoch=None) json-round-trips to null and
  used to TypeError the sketch paths' ``epoch <= state['epoch']``
  comparison on the next stream merge (ADVICE r11 low) — nulls now
  normalize to -1 at the manifest read boundary;
- plan_batch_merge's size probe picks the join shape without
  materializing the batch (ADVICE r11 low; the probe form was
  re-measured and simplified to a plain zero-column ``count()`` in
  round 13 — see TestBoundedSizeProbe and the docstring).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _sketch_totals(spark, path):
    from fraud_detection_project_spark.streaming.sketches import read_sketch

    return {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in read_sketch(spark, path).collect()
    }


class TestReplayGuardStreamIdentity:
    def test_fresh_checkpoint_restart_is_not_dropped(self, spark, tmp_path):
        """A stream restarted with a NEW checkpoint re-issues epoch 0;
        with the manifest holding epoch 5 from the old checkpoint, the
        epoch-only guard treated the new batch as a replay and dropped
        it. Keyed on (stream_id, epoch) the new identity must apply."""
        from fraud_detection_project_spark.streaming.sketches import (
            merge_sketch_batch,
        )

        b = spark.createDataFrame([(i % 5,) for i in range(40)], "k long")
        path = str(tmp_path / "state")
        merge_sketch_batch(spark, b, "k", path, width=64, epoch=5,
                           stream_id="ckpt-A")
        before = _sketch_totals(spark, path)
        # restart against a fresh checkpoint: epochs reset to 0
        merge_sketch_batch(spark, b, "k", path, width=64, epoch=0,
                           stream_id="ckpt-B")
        after = _sketch_totals(spark, path)
        assert after != before
        assert sum(after.values()) == 2 * sum(before.values())

    def test_replay_under_same_identity_is_still_noop(self, spark, tmp_path):
        from fraud_detection_project_spark.streaming.sketches import (
            merge_sketch_batch,
        )

        b = spark.createDataFrame([(i % 5,) for i in range(40)], "k long")
        path = str(tmp_path / "state")
        merge_sketch_batch(spark, b, "k", path, width=64, epoch=0,
                           stream_id="ckpt-A")
        before = _sketch_totals(spark, path)
        merge_sketch_batch(spark, b, "k", path, width=64, epoch=0,
                           stream_id="ckpt-A")  # at-least-once replay
        assert _sketch_totals(spark, path) == before

    def test_aggregate_sink_same_semantics(self, spark, tmp_path):
        """The aggregate-maintenance sink carries the identical guard:
        replay under the same identity no-ops; epoch-reset under a new
        identity applies."""
        from fraud_detection_project_spark.streaming.incremental import (
            merge_aggregate_batch,
            read_state,
        )

        schema = "g STRING, n BIGINT"
        specs = {"n": ("v", "count")}
        b = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 3.0)],
                                  "g STRING, v DOUBLE")
        path = str(tmp_path / "agg")
        merge_aggregate_batch(spark, b, ["g"], specs, path, schema,
                              epoch=7, stream_id="ckpt-A")
        merge_aggregate_batch(spark, b, ["g"], specs, path, schema,
                              epoch=7, stream_id="ckpt-A")  # replay: no-op
        got = {r["g"]: r["n"] for r in read_state(spark, path, schema).collect()}
        assert got == {"a": 2, "b": 1}
        merge_aggregate_batch(spark, b, ["g"], specs, path, schema,
                              epoch=0, stream_id="ckpt-B")  # restart: apply
        got = {r["g"]: r["n"] for r in read_state(spark, path, schema).collect()}
        assert got == {"a": 4, "b": 2}

    def test_legacy_manifest_without_identity_applies_stream_batch(
        self, spark, tmp_path
    ):
        """A pre-identity manifest (no stream_id key) must not match a
        real checkpoint id — the first post-upgrade batch applies
        instead of being dropped by a stale epoch comparison."""
        import json

        from fraud_detection_project_spark.streaming.sketches import (
            merge_sketch_batch,
        )

        b = spark.createDataFrame([(i % 3,) for i in range(30)], "k long")
        path = str(tmp_path / "state")
        merge_sketch_batch(spark, b, "k", path, width=64, epoch=9,
                           stream_id="ckpt-A")
        manifest = os.path.join(path, "MANIFEST.json")
        with open(manifest) as f:
            m = json.load(f)
        del m["stream_id"]  # simulate a pre-upgrade manifest
        with open(manifest, "w") as f:
            json.dump(m, f)
        before = _sketch_totals(spark, path)
        merge_sketch_batch(spark, b, "k", path, width=64, epoch=0,
                           stream_id="ckpt-A")
        assert sum(_sketch_totals(spark, path).values()) == 2 * sum(
            before.values()
        )


class TestNullEpochManifest:
    def test_mixed_batch_then_stream_sketch_paths_do_not_crash(
        self, spark, tmp_path
    ):
        """A batch-mode commit records epoch=None (json null); the next
        STREAM merge's ``epoch <= state['epoch']`` used to TypeError in
        the three sketch paths (incremental.py already guarded). The
        null normalizes to -1, so the stream batch applies."""
        from fraud_detection_project_spark.streaming.sketches import (
            merge_ams_batch,
            merge_histogram_batch,
            merge_sketch_batch,
            read_ams,
            read_histogram,
        )

        b = spark.createDataFrame([(i % 5,) for i in range(20)], "k long")
        path = str(tmp_path / "cms")
        # batch: epoch null
        merge_sketch_batch(spark, b, "k", path, width=64, epoch=None,
                           stream_id=None)
        before = sum(_sketch_totals(spark, path).values())
        merge_sketch_batch(spark, b, "k", path, width=64, epoch=0,
                           stream_id="ckpt")
        assert sum(_sketch_totals(spark, path).values()) == 2 * before

        hb = spark.createDataFrame([(float(i % 4),) for i in range(20)],
                                   "v double")
        hpath = str(tmp_path / "hist")
        merge_histogram_batch(spark, hb, "v", hpath, lo=0.0, hi=4.0, n_bins=8,
                              epoch=None, stream_id=None)
        merge_histogram_batch(spark, hb, "v", hpath, lo=0.0, hi=4.0, n_bins=8,
                              epoch=0, stream_id="ckpt")
        total = sum(r["cnt"] for r in read_histogram(spark, hpath).collect())
        assert total == 40

        apath = str(tmp_path / "ams")
        merge_ams_batch(spark, b, "k", apath, n_estimators=4, epoch=None,
                        stream_id=None)
        merge_ams_batch(spark, b, "k", apath, n_estimators=4, epoch=0,
                        stream_id="ckpt")
        zs = {r["j"]: r["z"] for r in read_ams(spark, apath).collect()}
        assert len(zs) == 4  # applied twice without raising

    def test_aggregate_sink_null_epoch_manifest(self, spark, tmp_path):
        from fraud_detection_project_spark.streaming.incremental import (
            merge_aggregate_batch,
            read_state,
        )

        schema = "g STRING, n BIGINT"
        specs = {"n": ("v", "count")}
        b = spark.createDataFrame([("a", 1.0)], "g STRING, v DOUBLE")
        path = str(tmp_path / "agg")
        merge_aggregate_batch(spark, b, ["g"], specs, path, schema,  # null
                              epoch=None, stream_id=None)
        merge_aggregate_batch(spark, b, ["g"], specs, path, schema,
                              epoch=0, stream_id="ckpt")
        got = {r["g"]: r["n"] for r in read_state(spark, path, schema).collect()}
        assert got == {"a": 2}


class TestLineageNonceSalting:
    """VERDICT r11 item 4: the lineage registry was name-keyed, so an
    UNREGISTERED data-proportional checkpoint whose column names
    exactly collided with a registered bounded frame's would pass the
    census. Registration helpers now bake a session-unique NONCE column
    into the materialized frame (LogicalRDD's fixed output prints it in
    every consuming plan; the helpers drop it from the frame they hand
    back), so only frames that actually passed through a registration
    call can match."""

    def test_planted_colliding_checkpoint_is_flagged(self, spark):
        import sys as _sys

        _sys.path.insert(0, os.path.join(REPO, "tools"))
        import plan_audit as pa
        from pyspark.sql import functions as F

        from fraud_detection_project_spark.lineage import bounded_checkpoint

        agg = bounded_checkpoint(
            spark.range(100).selectExpr("id % 3 as term")
            .groupBy("term").count(),
            "≤3 rows: enum-keyed aggregate",
        )
        assert "term" in agg.columns and not any(
            c.startswith("__bnd") for c in agg.columns
        )
        big = spark.range(1000).selectExpr("id % 3 as term", "id as v")
        ok_plan = (
            big.join(F.broadcast(agg), "term")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert pa.fact_forced_broadcasts(ok_plan) == []

        # the planted attack: same user-visible column names, but the
        # frame never passed through a registration helper
        collider = (
            spark.range(1000)
            .selectExpr("id % 500 as term", "id as count")
            .localCheckpoint(eager=True)
        )
        bad_plan = (
            big.join(F.broadcast(collider), "term")
            ._jdf.queryExecution().executedPlan().toString()
        )
        offs = pa.fact_forced_broadcasts(bad_plan)
        assert len(offs) == 1 and offs[0].startswith("checkpoint via")

    def test_planted_colliding_literal_is_flagged(self, spark):
        import sys as _sys

        _sys.path.insert(0, os.path.join(REPO, "tools"))
        import plan_audit as pa
        from pyspark.sql import functions as F

        from fraud_detection_project_spark.lineage import bounded_literal

        th = bounded_literal(
            spark, [(0.5,), (0.7,)], "threshold double", "2-row grid"
        )
        assert th.columns == ["threshold"]
        assert sorted(r["threshold"] for r in th.collect()) == [0.5, 0.7]
        big = spark.range(1000).selectExpr("id as v")
        ok_plan = (
            big.crossJoin(F.broadcast(th))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert pa.fact_forced_broadcasts(ok_plan) == []

        fake = spark.createDataFrame(
            [(float(i),) for i in range(50)], "threshold double"
        )
        bad_plan = (
            big.crossJoin(F.broadcast(fake))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert len(pa.fact_forced_broadcasts(bad_plan)) == 1

    def test_bounded_literal_rejects_empty_reason(self, spark):
        import pytest

        from fraud_detection_project_spark.lineage import bounded_literal

        with pytest.raises(ValueError):
            bounded_literal(spark, [(1,)], ["a"], "  ")

    def test_nonce_signature_recorded(self, spark):
        from fraud_detection_project_spark.lineage import (
            bounded_literal,
            registered,
        )

        bounded_literal(spark, [(1,)], ["zq_unique_col"], "1-row probe")
        sigs = [s for s in registered() if s.startswith("zq_unique_col")]
        assert sigs and all("__bnd" in s for s in sigs)


class TestBoundedSizeProbe:
    def test_threshold_boundary_exact(self, spark):
        """A batch of EXACTLY threshold rows still broadcasts and
        threshold+1 does not — whatever probe implementation picks the
        shape must not flip the boundary decision."""
        from fraud_detection_project_spark.streaming.upsert import (
            plan_batch_merge,
        )

        base = spark.createDataFrame([(1, "a", 1)], "k INT, v STRING, seq INT")
        changes = spark.createDataFrame(
            [(i, "c", 2, "U") for i in range(3)],
            "k INT, v STRING, seq INT, op STRING",
        )
        at = plan_batch_merge(base, changes, keys=["k"], seq_col="seq",
                              broadcast_threshold_rows=3)
        over = plan_batch_merge(base, changes, keys=["k"], seq_col="seq",
                                broadcast_threshold_rows=2)
        at_plan = at._jdf.queryExecution().executedPlan().toString()
        over_plan = over._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in at_plan
        assert "BroadcastExchange" not in over_plan
        assert sorted(map(tuple, at.collect())) == sorted(
            map(tuple, over.collect())
        )

    def test_probe_is_plain_count(self, spark):
        """The probe is a plain zero-column ``count()`` — measured in
        round 13 (see plan_batch_merge's docstring) to beat both the
        round-12 ``limit(threshold+1).count()`` form (whose plan
        materializes up to threshold+1 ROWS per partition into a
        single-partition GlobalLimit shuffle — ADVICE r12) and a
        persist()/unpersist() bracket, at small AND backlog batch
        sizes. No limit, no persist in the probe path."""
        import inspect

        from fraud_detection_project_spark.streaming import upsert

        src = inspect.getsource(upsert.plan_batch_merge)
        assert "probe = batch.count()" in src
        assert "batch.limit(" not in src
        assert "batch.persist(" not in src
