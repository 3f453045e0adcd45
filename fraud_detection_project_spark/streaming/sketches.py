"""Streaming AMS F₂ maintenance — a second-frequency-moment sketch
kept current over an event stream.

The AMS sketch is ADD-mergeable at the atom level: each estimator's
state is the signed sum Z_j = Σ_u sign_j(u)·c_u, and a micro-batch
contributes Σ_rows sign_j(key) to it, so state' = state + delta
exactly. Inside ``foreachBatch``, :func:`merge_ams_batch` builds the
per-estimator delta (8 rows, however many events stream through) and
hands it to :func:`.state_store.add`: versioned commits, an atomic
manifest flip, GC and the at-least-once replay guard live there. The
estimate F₂ ≈ Z_j² is served by mean/median across estimators (see
queries.ams_f2_sketch_audit for the batch twin and the sign-hash
convention, and queries.ams_stream_equivalence for stream ≡ batch).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import state_store
from .state_store import Layout

_AMS_SCHEMA = "j INT, z BIGINT"

# Persisted-state schema version, recorded in every manifest commit so
# a later layout change can tell old state from new.
_STATE_SCHEMA_VERSION = 2
_AMS = Layout("AMS_MANIFEST.json", "av=",
              fields=(("schema", _STATE_SCHEMA_VERSION),))


def read_ams(spark, path: str) -> DataFrame:
    """Current AMS state (empty before the first batch)."""
    return state_store.read(spark, path, _AMS, _AMS_SCHEMA)


def _ams_batch_delta(batch: DataFrame, key: str, n_estimators: int) -> DataFrame:
    """Per-estimator signed-sum delta for one micro-batch.

    Sign-hash hygiene: ``cast('long')`` on a non-integral
    key yields NULL, the ``when`` condition is NULL, and every row
    would take ``otherwise(-1)`` — Z_j = −batch_count and the F₂
    estimate silently becomes n². Keys therefore enter through the
    ``sketch_key_expr`` helper (operators/sketches.py): non-integral
    keys pre-hash via ``pmod(xxhash64(key), 999983)``. The affine stage
    then runs
    through ``pmod`` rather than ``%`` so a NEGATIVE integral key
    (Spark ``%`` keeps the dividend's sign) still spreads across both
    signs. For non-negative integral keys pmod ≡ %, so the draw is
    bit-identical to the batch twin's oracle
    (queries.ams_f2_sketch_audit)."""
    from ..operators.sketches import sketch_key_expr

    base = sketch_key_expr(batch, key)
    sign = F.when(
        F.pmod(
            F.pmod(base * (1000003 + 2 * F.col("j")) + 7, F.lit(999983))
            * 40503,
            F.lit(999983),
        )
        < 499991,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        batch.select(F.col(key))
        .withColumn(
            "j", F.explode(F.sequence(F.lit(0), F.lit(n_estimators - 1)))
        )
        .groupBy("j")
        .agg(F.sum(sign).cast("long").alias("z"))
    )


def merge_ams_batch(
    spark,
    batch: DataFrame,
    key: str,
    path: str,
    n_estimators: int = 8,
    *,
    epoch: int | None,
    stream_id: str | None,
) -> None:
    """state' = state + ams(batch): per-estimator signed sums add.
    ``epoch`` is the foreachBatch epoch id and ``stream_id`` the
    stream's checkpoint (both None for a batch-mode merge); a replay of
    the last applied pair is a no-op (see
    :func:`.state_store._is_replay`)."""
    state_store.add(
        spark, _ams_batch_delta(batch, key, n_estimators), ["j"], path,
        _AMS, _AMS_SCHEMA, epoch=epoch, stream_id=stream_id,
    )


def streaming_ams_f2(
    stream: DataFrame,
    key: str,
    path: str,
    checkpoint: str,
    n_estimators: int = 8,
    available_now: bool = False,
):
    """Maintain the AMS F₂ sketch over a stream; returns the
    StreamingQuery. :func:`read_ams` serves the state at any time.
    ``available_now=True`` drains the current backlog and terminates by
    itself."""
    merge = partial(merge_ams_batch, stream.sparkSession, key=key,
                    path=path, n_estimators=n_estimators)
    return state_store.start_sink(stream, merge, checkpoint, available_now)
