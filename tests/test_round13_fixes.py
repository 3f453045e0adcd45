"""Round-13 fixes: the VERDICT r12 items.

- the same-path checkpoint-loss replay hole (VERDICT r12 "What's wrong"
  item 1): the round-12 identity-keyed guard treated ``epoch <=
  last_applied`` under a matching ``stream_id`` as a replay, so deleting
  a checkpoint dir while KEEPING the state dir and restarting at the
  SAME path (epochs reset to 0, identity unchanged) silently dropped
  every batch until the new ids caught up. foreachBatch at-least-once
  only ever re-delivers the LAST uncommitted epoch within one
  incarnation, so the guard is now STRICT EQUALITY — a strictly lower
  epoch under a matching identity is a new incarnation and applies
  (the merge rolls the manifest epoch to the new counter, so the new
  incarnation's own replays are still caught). Covered here for both
  manifest sinks: AMS and aggregate.
- ``bounded_literal`` with an empty data list and a column-name-list
  schema used to raise "can not infer schema" (ADVICE r12 low): the
  names-list path now requires/synthesizes explicit types so an empty
  computed literal (e.g. a smote offsets grid on a degenerate input)
  fails with a clear contract error instead of an inference crash.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


class TestSamePathCheckpointLossRestart:
    """Delete-checkpoint/keep-state restart at the SAME path: the new
    incarnation's epochs restart at 0 under an UNCHANGED stream_id.
    Every batch 0..N of the new incarnation must apply (the old ``<=``
    guard dropped all of them), while a genuine same-epoch replay
    within the new incarnation still no-ops."""

    def test_ams_sink(self, spark, tmp_path):
        from fraud_detection_project_spark.streaming.sketches import (
            merge_ams_batch, read_ams,
        )

        path = str(tmp_path / "ams")
        b = spark.createDataFrame([(i % 9,) for i in range(90)], "k long")
        merge_ams_batch(spark, b, "k", path, n_estimators=4, epoch=0,
                        stream_id="ckpt")
        merge_ams_batch(spark, b, "k", path, n_estimators=4, epoch=1,
                        stream_id="ckpt")
        two = {r["j"]: r["z"] for r in read_ams(spark, path).collect()}
        # same-path restart: epoch 0 under the same identity applies
        merge_ams_batch(spark, b, "k", path, n_estimators=4, epoch=0,
                        stream_id="ckpt")
        three = {r["j"]: r["z"] for r in read_ams(spark, path).collect()}
        # signed sums are additive: three identical batches = 1.5x two
        assert all(three[j] * 2 == two[j] * 3 for j in three)
        # replay of incarnation-2 epoch 0 no-ops
        merge_ams_batch(spark, b, "k", path, n_estimators=4, epoch=0,
                        stream_id="ckpt")
        assert {r["j"]: r["z"]
                for r in read_ams(spark, path).collect()} == three

    def test_aggregate_sink(self, spark, tmp_path):
        from fraud_detection_project_spark.streaming.incremental import (
            merge_aggregate_batch, read_state,
        )

        specs = {"n": ("v", "count"), "s": ("v", "sum")}
        schema = "g string, n long, s long"
        path = str(tmp_path / "agg")
        b = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 3)], "g string, v long"
        )
        for e in range(3):
            merge_aggregate_batch(spark, b, ["g"], specs, path, schema,
                                  epoch=e, stream_id="ckpt")
        # same-path restart after checkpoint loss: epochs 0 and 1 again
        for e in range(2):
            merge_aggregate_batch(spark, b, ["g"], specs, path, schema,
                                  epoch=e, stream_id="ckpt")
        got = {r["g"]: (r["n"], r["s"])
               for r in read_state(spark, path, schema).collect()}
        assert got == {"a": (10, 15), "b": (5, 15)}
        # replay of the last incarnation-2 epoch no-ops
        merge_aggregate_batch(spark, b, ["g"], specs, path, schema,
                              epoch=1, stream_id="ckpt")
        got2 = {r["g"]: (r["n"], r["s"])
                for r in read_state(spark, path, schema).collect()}
        assert got2 == got

    def test_real_stream_checkpoint_loss_restart(self, spark, tmp_path):
        """End-to-end: run a real availableNow stream into the
        aggregate sink, STOP, delete the checkpoint dir (keep the
        state dir), restart at the SAME checkpoint path over new
        source data — the final state must equal one batch aggregate
        over the union, i.e. no incarnation-2 batch was dropped."""
        import shutil

        from fraud_detection_project_spark.streaming.incremental import (
            merge_aggregate_batch, read_state, streaming_aggregate,
        )

        specs = {"n": ("v", "count"), "s": ("v", "sum")}
        schema = "g string, n long, s long"
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")

        def run(src_rows, src_name):
            src = str(tmp_path / src_name)
            spark.createDataFrame(src_rows, "g string, v long").repartition(
                2
            ).write.mode("overwrite").parquet(src)
            stream = (
                spark.readStream.schema("g string, v long")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

            def merge(b, e):
                merge_aggregate_batch(
                    spark, b, ["g"], specs, state, schema,
                    epoch=e, stream_id=ckpt,
                )

            q = (
                stream.writeStream.foreachBatch(merge)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        rows1 = [("a", 1), ("b", 2), ("a", 3), ("c", 4)]
        rows2 = [("a", 10), ("c", 20), ("d", 30), ("b", 40)]
        run(rows1, "src1")
        shutil.rmtree(ckpt)  # checkpoint loss; state dir kept
        run(rows2, "src2")
        got = {r["g"]: (r["n"], r["s"])
               for r in read_state(spark, state, schema).collect()}
        want = {}
        for g, v in rows1 + rows2:
            n, s = want.get(g, (0, 0))
            want[g] = (n + 1, s + v)
        assert got == want
        # streaming_aggregate is the wired form of the merge above —
        # exercise it once on the same state (fresh-checkpoint restart)
        # through its availableNow drain mode (round-13 API parity with
        # the AMS sink: drains the backlog and terminates by itself).
        src3 = str(tmp_path / "src3")
        spark.createDataFrame([("e", 5)], "g string, v long").write.mode(
            "overwrite"
        ).parquet(src3)
        stream3 = spark.readStream.schema("g string, v long").parquet(src3)
        q3 = streaming_aggregate(
            stream3, ["g"], specs, state, str(tmp_path / "ckpt3"), schema,
            available_now=True,
        )
        q3.awaitTermination()
        got3 = {r["g"]: (r["n"], r["s"])
                for r in read_state(spark, state, schema).collect()}
        assert got3["e"] == (1, 5) and got3["a"] == want["a"]


class TestAvailableNowDrainMode:
    """Round-13 API parity: every ``foreachBatch`` state sink accepts
    available_now=True (drain the backlog, terminate by itself), so
    callers never hand-roll writeStream plumbing (as the incarnation
    query's first draft did)."""

    def test_ams_sink_drains_and_terminates(self, spark, tmp_path):
        from fraud_detection_project_spark.streaming.sketches import (
            _ams_batch_delta, read_ams, streaming_ams_f2,
        )

        src = str(tmp_path / "src")
        spark.createDataFrame(
            [(i % 7,) for i in range(60)], "k long"
        ).repartition(2).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_ams_f2(
            stream, "k", str(tmp_path / "ams"), str(tmp_path / "ams_ck"),
            available_now=True,
        )
        q.awaitTermination()
        got = {r["j"]: r["z"]
               for r in read_ams(spark, str(tmp_path / "ams")).collect()}
        want = {
            r["j"]: r["z"]
            for r in _ams_batch_delta(spark.read.parquet(src), "k", 8).collect()
        }
        assert got == want and len(got) == 8  # stream ≡ batch


class TestThreeCellFit:
    """tools/bench_scale.three_cell_fit (VERDICT r12 item 3): the
    two-point decade exponent over-penalizes workloads whose
    small-scale cost is mostly fixed overhead; the three-cell
    t(sf) = c + a·sf^e fit separates the scaling term from the
    per-run constant, in closed form over decade-spaced cells."""

    def test_recovers_pure_power_law(self):
        import sys

        sys.path.insert(0, os.path.join(REPO, "tools"))
        from bench_scale import three_cell_fit

        def t(sf):
            return 0.5 + 2.0 * sf ** 0.8

        e, c = three_cell_fit({"q": t(0.01)}, {"q": t(0.1)}, {"q": t(1.0)})
        assert e["q"] == 0.8 and c["q"] == 0.5

    def test_fixed_overhead_does_not_inflate_exponent(self):
        """The r12 whiplash mechanism: a linear workload (e=1) with a
        1s fixed cost reads as raw exponent ~0.74 over sf0.1→sf1 —
        the corrected fit recovers 1.0."""
        import math
        import sys

        sys.path.insert(0, os.path.join(REPO, "tools"))
        from bench_scale import three_cell_fit

        def t(sf):
            return 1.0 + 5.0 * sf  # truly linear + 1s overhead

        raw = math.log10(t(1.0) / t(0.1))
        assert raw < 0.8  # the misleading two-point reading
        e, c = three_cell_fit({"q": t(0.01)}, {"q": t(0.1)}, {"q": t(1.0)})
        assert e["q"] == 1.0 and abs(c["q"] - 1.0) < 1e-6

    def test_non_positive_step_reports_none(self):
        import sys

        sys.path.insert(0, os.path.join(REPO, "tools"))
        from bench_scale import three_cell_fit

        e, c = three_cell_fit({"q": 2.0}, {"q": 1.5}, {"q": 3.0})
        assert e["q"] is None and c["q"] is None
        # missing small cell (legacy payload) also degrades gracefully
        e2, c2 = three_cell_fit({}, {"q": 1.0}, {"q": 5.0} )
        assert e2["q"] is None and c2["q"] is None

    def test_sub_resolution_steps_report_none(self):
        """A flat workload whose decade steps sit inside the timing
        noise band must not fabricate an exponent (a 3 ms step once
        read as corr exp 1.31) — steps under 50 ms are unresolvable."""
        import sys

        sys.path.insert(0, os.path.join(REPO, "tools"))
        from bench_scale import three_cell_fit

        e, c = three_cell_fit({"q": 0.495}, {"q": 0.498}, {"q": 0.559})
        assert e["q"] is None and c["q"] is None

    def test_degenerate_and_negative_exponents_have_no_fixed_cost(self):
        import sys

        sys.path.insert(0, os.path.join(REPO, "tools"))
        from bench_scale import three_cell_fit

        # near-equal positive steps: e ~ 0, back-out divides by ~0
        e, c = three_cell_fit({"q": 1.0}, {"q": 1.26}, {"q": 1.52})
        assert e["q"] == 0.0 and c["q"] is None
        # shrinking steps: e < 0, a < 0 — no meaningful constant
        e2, c2 = three_cell_fit({"q": 1.0}, {"q": 1.3}, {"q": 1.4})
        assert e2["q"] < 0 and c2["q"] is None

    def test_merge_payload_carries_corrected_fields(self):
        import sys

        sys.path.insert(0, os.path.join(REPO, "tools"))
        from bench_scale import merge_payload

        def payload(lo, mid, hi):
            return {"sf0.01": {"q": lo}, "sf0.1": {"q": mid},
                    "sf1": {"q": hi}, "repeats": 3, "measured": "x"}

        old = merge_payload(None, payload(0.6, 1.1, 5.6), "abc")
        assert old["exponents_corrected"]["q"] is not None
        assert "fixed_cost" in old
        # per-cell min applies to the sf0.01 cell too
        new = merge_payload(old, payload(0.5, 1.2, 5.9), "abc")
        assert new["sf0.01"]["q"] == 0.5
        assert new["sf0.1"]["q"] == 1.1
        assert new["sf1"]["q"] == 5.6


class TestBoundedLiteralEmptyData:
    def test_empty_data_with_names_schema_raises_contract_error(self, spark):
        """ADVICE r12: an empty data list with a names-only schema used
        to die inside createDataFrame with 'can not infer schema from
        empty dataset' — the contract (DDL schema required when data
        may be empty) is now stated up front."""
        import pytest

        from fraud_detection_project_spark.lineage import bounded_literal

        with pytest.raises(ValueError, match="DDL"):
            bounded_literal(spark, [], ["a", "b"], "empty grid")

    def test_empty_data_with_ddl_schema_works(self, spark):
        from fraud_detection_project_spark import lineage
        from fraud_detection_project_spark.lineage import bounded_literal

        df = bounded_literal(spark, [], "a INT, b LONG", "empty grid")
        assert df.columns == ["a", "b"]
        assert df.count() == 0
        # the nonce-salted signature still registers (the census must
        # recognize the scan even when the literal is empty)
        assert any("__bnd" in s for s in lineage._BOUNDED_CKPT_SIGS)

    def test_non_empty_names_schema_still_works(self, spark):
        from fraud_detection_project_spark.lineage import bounded_literal

        df = bounded_literal(spark, [(1, 2)], ["a", "b"], "tiny grid")
        assert df.columns == ["a", "b"] and df.count() == 1
