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
  normalize to -1 at the manifest read boundary.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _ams_state(spark, path):
    from fraud_detection_project_spark.streaming.sketches import read_ams

    return {r["j"]: r["z"] for r in read_ams(spark, path).collect()}


def _merge_ams(spark, batch, path, epoch, stream_id):
    from fraud_detection_project_spark.streaming.sketches import merge_ams_batch

    merge_ams_batch(spark, batch, "k", path, epoch=epoch, stream_id=stream_id)


def _doubled(state):
    return {j: 2 * z for j, z in state.items()}


class TestReplayGuardStreamIdentity:
    def test_fresh_checkpoint_restart_is_not_dropped(self, spark, tmp_path):
        """A stream restarted with a NEW checkpoint re-issues epoch 0;
        with the manifest holding epoch 5 from the old checkpoint, the
        epoch-only guard treated the new batch as a replay and dropped
        it. Keyed on (stream_id, epoch) the new identity must apply."""
        # 5 keys x 8 rows: every signed sum is 8 x an odd number, never 0
        b = spark.createDataFrame([(i % 5,) for i in range(40)], "k long")
        path = str(tmp_path / "state")
        _merge_ams(spark, b, path, 5, "ckpt-A")
        before = _ams_state(spark, path)
        # restart against a fresh checkpoint: epochs reset to 0
        _merge_ams(spark, b, path, 0, "ckpt-B")
        assert all(before.values())
        assert _ams_state(spark, path) == _doubled(before)

    def test_replay_under_same_identity_is_still_noop(self, spark, tmp_path):
        b = spark.createDataFrame([(i % 5,) for i in range(40)], "k long")
        path = str(tmp_path / "state")
        _merge_ams(spark, b, path, 0, "ckpt-A")
        before = _ams_state(spark, path)
        _merge_ams(spark, b, path, 0, "ckpt-A")  # at-least-once replay
        assert _ams_state(spark, path) == before

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

        b = spark.createDataFrame([(i % 3,) for i in range(30)], "k long")
        path = str(tmp_path / "state")
        _merge_ams(spark, b, path, 9, "ckpt-A")
        manifest = os.path.join(path, "AMS_MANIFEST.json")
        with open(manifest) as f:
            m = json.load(f)
        del m["stream_id"]  # simulate a pre-upgrade manifest
        with open(manifest, "w") as f:
            json.dump(m, f)
        before = _ams_state(spark, path)
        _merge_ams(spark, b, path, 0, "ckpt-A")
        assert all(before.values())
        assert _ams_state(spark, path) == _doubled(before)


class TestNullEpochManifest:
    def test_mixed_batch_then_stream_sketch_paths_do_not_crash(
        self, spark, tmp_path
    ):
        """A batch-mode commit records epoch=None (json null); the next
        STREAM merge's ``epoch <= state['epoch']`` used to TypeError in
        the sketch paths (incremental.py already guarded). The null
        normalizes to -1, so the stream batch applies."""
        b = spark.createDataFrame([(i % 5,) for i in range(20)], "k long")
        path = str(tmp_path / "ams")
        _merge_ams(spark, b, path, None, None)  # batch: epoch null
        before = _ams_state(spark, path)
        _merge_ams(spark, b, path, 0, "ckpt")
        assert all(before.values())
        assert _ams_state(spark, path) == _doubled(before)

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
        from fraud_detection_project_spark import lineage

        lineage.bounded_literal(spark, [(1,)], ["zq_unique_col"], "1-row probe")
        sigs = [s for s in lineage._BOUNDED_CKPT_SIGS
                if s.startswith("zq_unique_col")]
        assert sigs and all("__bnd" in s for s in sigs)
