"""Round-11 fixes: the VERDICT r10 / ADVICE r10 items.

- every sketch manifest commit records the state schema version;
- the census fails CLOSED on a forced broadcast over a materialized
  checkpoint (VERDICT r10 item 3: ``Scan ExistingRDD`` carries no table
  name and used to classify bounded);
- nested BroadcastExchange subtrees report each offending scan once,
  attributed to the NEAREST enclosing exchange (ADVICE r10);
- the generic round-10 boundedness words (half/dim/mask/salt) bound
  only as full identifiers (ADVICE r10: half_life / dim_value /
  event_mask_raw compounds must not classify bounded);
- determinism_probe's diff printer is a pure function with the
  cols-only mismatch path actually executed (ADVICE r10).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import plan_audit as pa  # noqa: E402

SCAN_EVENTS = (
    "FileScan parquet [user_id#1L,value#2] Location: "
    "InMemoryFileIndex[file:/d/events.parquet]"
)
SCAN_NATION = (
    "FileScan parquet [n_nationkey#5L] Location: "
    "InMemoryFileIndex[file:/d/nation.parquet]"
)
SCAN_CKPT = "Scan ExistingRDD[src#7L,dst#8L]"


def _plan(*lines: str) -> str:
    return "\n".join(lines)


class TestCheckpointCensusFailClosed:
    def test_bare_checkpoint_hint_is_flagged(self):
        plan = _plan(
            "BroadcastExchange HashedRelationBroadcastMode",
            "+- " + SCAN_CKPT,
        )
        offs = pa.fact_forced_broadcasts(plan)
        assert len(offs) == 1 and offs[0].startswith("checkpoint via")

    def test_bounded_agg_above_checkpoint_is_clean(self):
        plan = _plan(
            "BroadcastExchange IdentityBroadcastMode",
            "+- HashAggregate(keys=[], functions=[count(1)])",
            "   +- " + SCAN_CKPT,
        )
        assert pa.fact_forced_broadcasts(plan) == []

    def test_limit_above_checkpoint_is_clean(self):
        plan = _plan(
            "BroadcastExchange HashedRelationBroadcastMode",
            "+- GlobalLimit 10",
            "   +- " + SCAN_CKPT,
        )
        assert pa.fact_forced_broadcasts(plan) == []

    def test_enum_key_agg_above_checkpoint_is_clean(self):
        plan = _plan(
            "BroadcastExchange HashedRelationBroadcastMode",
            "+- HashAggregate(keys=[event_type#4], functions=[count(1)])",
            "   +- " + SCAN_CKPT,
        )
        assert pa.fact_forced_broadcasts(plan) == []

    def test_checkpoint_outside_exchange_is_clean(self):
        plan = _plan(
            SCAN_CKPT,
            "BroadcastExchange HashedRelationBroadcastMode",
            "+- " + SCAN_NATION,
        )
        assert pa.fact_forced_broadcasts(plan) == []

    def test_registered_bounded_checkpoint_is_exempt(self, spark):
        # the creation-site lineage registry (lineage.py) is the escape
        # hatch: a frame tagged bounded_checkpoint() must pass the
        # census even under a hint, an untagged twin must not
        from pyspark.sql import functions as F

        from fraud_detection_project_spark import lineage
        from fraud_detection_project_spark.lineage import bounded_checkpoint

        def mk(agg_name):
            # the registry keys on the attribute-NAME signature (expr-
            # ids are rewritten by Catalyst on multi-use, so id-exact
            # matching missed second uses of a registered frame) — the
            # untagged twin must carry a different column name to test
            # the negative path, and engine call sites keep bounded
            # frames' names distinctive for the same reason
            return spark.createDataFrame(
                [(i % 3, i) for i in range(30)], "k INT, v INT"
            ).groupBy("k").agg(F.count(F.lit(1)).alias(agg_name))

        tagged = bounded_checkpoint(mk("n_tag"), "3-value literal key domain")
        untagged = mk("n_other").localCheckpoint()
        probe = spark.range(100).withColumn("k", (F.col("id") % 3).cast("int"))
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            p_ok = probe.join(F.broadcast(tagged), "k")._jdf \
                .queryExecution().executedPlan().toString()
            p_bad = probe.join(F.broadcast(untagged), "k")._jdf \
                .queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert pa.fact_forced_broadcasts(p_ok) == []
        offs = pa.fact_forced_broadcasts(p_bad)
        assert len(offs) == 1 and offs[0].startswith("checkpoint via")
        assert any("literal key domain" in r
                   for r in lineage._BOUNDED_CKPT_SIGS.values())

    def test_bounded_checkpoint_rejects_empty_reason(self, spark):
        import pytest as _pytest

        from fraud_detection_project_spark.lineage import bounded_checkpoint

        df = spark.range(3)
        with _pytest.raises(ValueError):
            bounded_checkpoint(df, "  ")


class TestNestedExchangeDedup:
    def test_scan_under_inner_exchange_reports_once(self):
        # a fact scan below a NESTED exchange used to report once per
        # enclosing exchange (ADVICE r10) — now only the inner walk
        # reports it
        plan = _plan(
            "BroadcastExchange HashedRelationBroadcastMode",
            "+- BroadcastHashJoin [a#1L], [b#2L], Inner",
            "   :- " + SCAN_NATION,
            "   +- BroadcastExchange HashedRelationBroadcastMode",
            "      +- HashAggregate(keys=[user_id#1L], functions=[])",
            "         +- " + SCAN_EVENTS,
        )
        offs = pa.fact_forced_broadcasts(plan)
        assert len(offs) == 1 and offs[0].startswith("events via")

    def test_outer_scan_and_inner_scan_each_report_once(self):
        plan = _plan(
            "BroadcastExchange HashedRelationBroadcastMode",
            "+- BroadcastHashJoin [a#1L], [b#2L], Inner",
            "   :- " + SCAN_EVENTS,
            "   +- BroadcastExchange HashedRelationBroadcastMode",
            "      +- " + SCAN_EVENTS,
        )
        offs = pa.fact_forced_broadcasts(plan)
        assert len(offs) == 2

    def test_sibling_after_inner_exchange_still_attributed_to_outer(self):
        # the nested skip must apply only BELOW the inner exchange —
        # a sibling fact scan after it (shallower depth) belongs to
        # the outer exchange again
        plan = _plan(
            "BroadcastExchange HashedRelationBroadcastMode",
            "+- BroadcastHashJoin [a#1L], [b#2L], Inner",
            "   :- BroadcastExchange HashedRelationBroadcastMode",
            "   :  +- " + SCAN_NATION,
            "   +- " + SCAN_EVENTS,
        )
        offs = pa.fact_forced_broadcasts(plan)
        assert len(offs) == 1 and offs[0].startswith("events via")


class TestGenericTokenDemotion:
    def test_compound_names_not_bounded(self):
        # ADVICE r10: half_life / dim_value / event_mask_raw / salt_key
        # must NOT classify as domain-bounded via word tokens
        for key in ("half_life#3", "dim_value#4L",
                    "event_mask_raw#5", "salt_key#6L"):
            op = f"HashAggregate(keys=[{key}], functions=[count(1)])"
            assert not pa._agg_bounds(op), key

    def test_bare_identifiers_still_bound(self):
        for key in ("half#3", "dim#4", "mask#5", "salt#6", "__salt#7"):
            op = f"HashAggregate(keys=[{key}], functions=[count(1)])"
            assert pa._agg_bounds(op), key

    def test_pmod_salt_definition_bounds_regardless_of_name(self):
        # engine salts are pmod()-defined; the domain-reducing-function
        # rule covers them even under an arbitrary name
        plan = (
            "Project [pmod(xxhash64(user_id#1L), 16) AS shard_part#9]\n"
            "HashAggregate(keys=[shard_part#9], functions=[count(1)])"
        )
        op = "HashAggregate(keys=[shard_part#9], functions=[count(1)])"
        assert pa._agg_bounds(op, plan)


class TestSketchSchemaMigration:
    def test_new_manifest_records_schema_version(self, spark, tmp_path):
        from fraud_detection_project_spark.streaming import sketches as sk

        path = str(tmp_path / "sketch2")
        batch = spark.createDataFrame([("u1",)], "k STRING")
        sk.merge_ams_batch(spark, batch, "k", path, epoch=0, stream_id=None)
        with open(os.path.join(path, "AMS_MANIFEST.json")) as f:
            m = json.load(f)
        assert m["schema"] == sk._STATE_SCHEMA_VERSION


class TestFingerprintDiffPure:
    def test_cols_only_mismatch(self):
        from determinism_probe import fingerprint_diff

        a = (("x",), (("1",),))
        b = (("y",), (("1",),))
        kind, detail = fingerprint_diff(a, b)
        assert kind == "cols"

    def test_row_count_mismatch(self):
        from determinism_probe import fingerprint_diff

        a = (("x",), (("1",), ("2",)))
        b = (("x",), (("1",),))
        assert fingerprint_diff(a, b)[0] == "row-count"

    def test_first_differing_row(self):
        from determinism_probe import fingerprint_diff

        a = (("x",), (("1",), ("2",)))
        b = (("x",), (("1",), ("3",)))
        assert fingerprint_diff(a, b) == (("2",), ("3",))

    def test_equal_shape_fallback(self):
        from determinism_probe import fingerprint_diff

        a = (("x",), (("1",),))
        assert fingerprint_diff(a, a)[0] == "fingerprint"


class TestDecadeMergePure:
    """tools/bench_scale.merge_payload: per-cell min across same-code
    harness invocations (round-11 follow-through on the VERDICT r10
    item-2 harness fix — one full-table pass still re-rolls co-tenant
    noise into ~40 cells; min across runs refines monotonically)."""

    @staticmethod
    def _payload(a, b):
        return {"sf0.1": {"q": a}, "sf1": {"q": b},
                "repeats": 3, "measured": "2026-08-16"}

    def test_same_fingerprint_takes_per_cell_min(self):
        from bench_scale import merge_payload

        old = merge_payload(None, self._payload(2.0, 8.0), "abc")
        new = merge_payload(old, self._payload(1.0, 9.0), "abc")
        assert new["sf0.1"]["q"] == 1.0  # new run's cell wins
        assert new["sf1"]["q"] == 8.0    # old run's cell wins
        assert new["runs"] == 2

    def test_fingerprint_mismatch_discards_old(self):
        from bench_scale import merge_payload

        old = merge_payload(None, self._payload(0.1, 0.1), "abc")
        new = merge_payload(old, self._payload(2.0, 4.0), "OTHER")
        assert new["sf0.1"]["q"] == 2.0 and new["sf1"]["q"] == 4.0
        assert new["runs"] == 1 and new["fingerprint"] == "OTHER"

    def test_exponents_recomputed_from_merged_cells(self):
        import math

        from bench_scale import merge_payload

        old = merge_payload(None, self._payload(2.0, 8.0), "abc")
        new = merge_payload(old, self._payload(1.0, 9.0), "abc")
        assert new["exponents"]["q"] == round(math.log10(8.0 / 1.0), 2)

    def test_workload_added_after_old_run_survives(self):
        from bench_scale import merge_payload

        old = merge_payload(None, self._payload(2.0, 8.0), "abc")
        fresh = self._payload(3.0, 9.0)
        fresh["sf0.1"]["q_new"] = 1.5
        fresh["sf1"]["q_new"] = 4.5
        new = merge_payload(old, fresh, "abc")
        assert new["sf0.1"]["q_new"] == 1.5 and new["sf1"]["q_new"] == 4.5

    def test_host_stamp_mismatch_discards_old(self):
        from bench_scale import merge_payload

        a = dict(self._payload(0.1, 0.1), stamp={"cpus": 32, "host": "h"})
        b = dict(self._payload(2.0, 4.0), stamp={"cpus": 4, "host": "h"})
        new = merge_payload(merge_payload(None, a, "abc"), b, "abc")
        assert new["sf0.1"]["q"] == 2.0 and new["runs"] == 1

    def test_unknown_fingerprint_never_merges(self):
        from bench_scale import merge_payload

        old = merge_payload(None, self._payload(0.1, 0.1), "unknown")
        new = merge_payload(old, self._payload(2.0, 4.0), "unknown")
        assert new["sf0.1"]["q"] == 2.0 and new["runs"] == 1

    def test_fingerprint_scoped_to_measured_paths(self):
        """Doc-only commits must not flip the merge guard: the
        fingerprint hashes the engine tree + harness blob, not HEAD."""
        import subprocess

        from bench_scale import _MEASURED_PATHS, _code_fingerprint

        fp = _code_fingerprint()
        if fp == "unknown":  # not a git checkout (CI tarball etc.)
            return
        parts = fp.replace("+dirty", "").split("+")
        assert len(parts) == len(_MEASURED_PATHS)
        expect = subprocess.run(
            ["git", "-C", REPO, "rev-parse"]
            + [f"HEAD:{p}" for p in _MEASURED_PATHS],
            capture_output=True, text=True,
        ).stdout.split()
        assert parts == expect


class TestStreamStateReplayAndGc:
    """Round-11 audit of the versioned-manifest state sinks: (1) the
    aggregate-maintenance sink ignored the foreachBatch epoch id, so an
    at-least-once replay double-counted the additive merge (the sketch
    sinks carried this guard since r5; the aggregate sink did not);
    (2) no sink garbage-collected old version dirs, so a long-running
    stream's disk grew with stream LENGTH despite bounded state."""

    SPECS = {"n": ("v", "count"), "total": ("v", "sum")}
    SCHEMA = "k STRING, n LONG, total DOUBLE"

    def _batch(self, spark):
        return spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 3.0)], "k STRING, v DOUBLE"
        )

    def test_replayed_epoch_is_noop(self, spark, tmp_path):
        from fraud_detection_project_spark.streaming.incremental import (
            merge_aggregate_batch, read_state,
        )

        path = str(tmp_path / "agg")
        b = self._batch(spark)
        merge_aggregate_batch(spark, b, ["k"], self.SPECS, path,
                              self.SCHEMA, epoch=0, stream_id=None)
        merge_aggregate_batch(spark, b, ["k"], self.SPECS, path,
                              self.SCHEMA, epoch=0, stream_id=None)  # crash replay
        got = {r["k"]: (r["n"], r["total"])
               for r in read_state(spark, path, self.SCHEMA).collect()}
        assert got == {"a": (2, 3.0), "b": (1, 3.0)}  # counted ONCE

    def test_new_epoch_applies(self, spark, tmp_path):
        from fraud_detection_project_spark.streaming.incremental import (
            merge_aggregate_batch, read_state,
        )

        path = str(tmp_path / "agg2")
        b = self._batch(spark)
        merge_aggregate_batch(spark, b, ["k"], self.SPECS, path,
                              self.SCHEMA, epoch=0, stream_id=None)
        merge_aggregate_batch(spark, b, ["k"], self.SPECS, path,
                              self.SCHEMA, epoch=1, stream_id=None)
        got = {r["k"]: r["n"]
               for r in read_state(spark, path, self.SCHEMA).collect()}
        assert got == {"a": 4, "b": 2}

    def test_aggregate_versions_garbage_collected(self, spark, tmp_path):
        import os

        from fraud_detection_project_spark.streaming.incremental import (
            merge_aggregate_batch, read_state,
        )

        path = str(tmp_path / "agg3")
        b = self._batch(spark)
        for e in range(5):
            merge_aggregate_batch(spark, b, ["k"], self.SPECS, path,
                                  self.SCHEMA, epoch=e, stream_id=None)
        dirs = sorted(d for d in os.listdir(path) if d.startswith("v="))
        assert dirs == ["v=3", "v=4"]  # only the kept suffix survives
        assert read_state(spark, path, self.SCHEMA).count() == 2

    def test_sketch_versions_garbage_collected(self, spark, tmp_path):
        import os

        from fraud_detection_project_spark.streaming.sketches import (
            merge_ams_batch, read_ams,
        )

        path = str(tmp_path / "ams")
        b = spark.createDataFrame([(1,), (2,), (2,)], "uid BIGINT")
        for e in range(4):
            merge_ams_batch(spark, b, "uid", path, epoch=e, stream_id=None)
        dirs = sorted(d for d in os.listdir(path) if d.startswith("av="))
        assert dirs == ["av=2", "av=3"]
        assert read_ams(spark, path).count() == 8
