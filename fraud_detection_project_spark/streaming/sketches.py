"""Streaming count-min maintenance — a frequency sketch kept current
over an event stream.

North-star composition: the batch sketch
(operators/sketches.py:count_min_table) is SUM-MERGEABLE — counters of
two disjoint batches add cell-wise to exactly the counters of their
union. That makes the streaming form trivial and exact: inside
``foreachBatch``, sketch the micro-batch (bounded shuffle: at most
depth*width rows) and cell-wise add it into the persisted sketch
table. No state store, no watermark — the sketch IS the state, and it
is bounded by depth*width forever, no matter how many events stream
through. This is the streaming answer to "running heavy-hitters /
rate estimates over an unbounded key domain" where exact per-key
state would grow without bound.

The count-min, histogram and AMS sketches below are all sums over
their key columns, so each ``merge_*_batch`` only builds its delta and
hands it to :func:`.state_store.add`: versioned commits, an atomic
manifest flip, GC and the at-least-once replay guard live there. The
three sketches may share one directory (distinct manifests and
version prefixes).

Stream ≡ batch exactness (cell-wise, hence estimate-wise) is the
pytest oracle: tests/test_streaming.py::TestStreamingCountMin.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import count_min_table
from . import state_store
from .state_store import Layout

_SCHEMA = "depth INT, bucket BIGINT, cnt BIGINT"
_HIST_SCHEMA = "bin INT, cnt BIGINT, lo DOUBLE, hi DOUBLE, n_bins INT"
_AMS_SCHEMA = "j INT, z BIGINT"

# Persisted-state schema version: 1 = the old layout (count-min column
# named ``d``), 2 = current (``depth``). Recorded in every sketch
# manifest commit; a manifest without it is read as whatever layout its
# parquet stores.
_STATE_SCHEMA_VERSION = 2
_FIELDS = (("schema", _STATE_SCHEMA_VERSION),)
_COUNT_MIN = Layout("MANIFEST.json", "v=", renames=(("d", "depth"),),
                    fields=_FIELDS)
_HISTOGRAM = Layout("HIST_MANIFEST.json", "hv=", fields=_FIELDS)
_AMS = Layout("AMS_MANIFEST.json", "av=", fields=_FIELDS)


def read_sketch(spark, path: str) -> DataFrame:
    """Current sketch state (empty frame before the first batch).

    State written before the ``d`` -> ``depth`` column rename is
    renamed on read, so old sketch directories stay readable and
    mergeable."""
    return state_store.read(spark, path, _COUNT_MIN, _SCHEMA)


def merge_sketch_batch(
    spark,
    batch: DataFrame,
    key: str,
    path: str,
    width: int = 1024,
    *,
    epoch: int | None,
    stream_id: str | None,
) -> None:
    """state' = state ⊕ sketch(batch): cell-wise counter addition over
    4 hash rows. ``epoch`` is the foreachBatch epoch id and
    ``stream_id`` the stream's checkpoint (both None for a batch-mode
    merge); a replay of the last applied pair is a no-op (see
    :func:`.state_store._is_replay`)."""
    state_store.add(
        spark, count_min_table(batch, key, width=width),
        ["depth", "bucket"], path, _COUNT_MIN, _SCHEMA,
        epoch=epoch, stream_id=stream_id,
    )


def streaming_count_min(
    stream: DataFrame,
    key: str,
    path: str,
    checkpoint: str,
    width: int = 1024,
    available_now: bool = False,
):
    """Maintain the sketch over a stream; returns the StreamingQuery.
    ``read_sketch(spark, path)`` serves estimates at any time (probe
    with operators/sketches.py machinery). ``available_now=True``
    drains the current backlog and terminates by itself."""
    merge = partial(merge_sketch_batch, stream.sparkSession, key=key,
                    path=path, width=width)
    return state_store.start_sink(stream, merge, checkpoint, available_now)


def read_histogram(spark, path: str) -> DataFrame:
    """Current histogram-sketch state (empty before the first batch)."""
    return state_store.read(spark, path, _HISTOGRAM, _HIST_SCHEMA)


def merge_histogram_batch(
    spark,
    batch: DataFrame,
    col: str,
    path: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
    *,
    epoch: int | None,
    stream_id: str | None,
) -> None:
    """state' = state ⊕ histogram(batch): bin counts add — the same
    sum-mergeability contract as the count-min path above, so the
    streaming histogram is EXACT (cell-wise equal to the batch build
    over all data seen). The range must be pinned up front — quantile
    serving at any time via
    ``operators.sketches.quantiles_from_histogram``. Replays are
    no-ops, as for :func:`merge_sketch_batch`."""
    from ..operators.sketches import histogram_sketch

    state_store.add(
        spark, histogram_sketch(batch, col, n_bins=n_bins, lo=lo, hi=hi),
        ["bin", "lo", "hi", "n_bins"], path, _HISTOGRAM, _HIST_SCHEMA,
        epoch=epoch, stream_id=stream_id,
    )


def streaming_histogram(
    stream: DataFrame,
    col: str,
    path: str,
    checkpoint: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
    available_now: bool = False,
):
    """Maintain a quantile-serving histogram sketch over a stream;
    state is bounded by ``n_bins`` rows forever. ``available_now=True``
    drains the current backlog and terminates by itself."""
    merge = partial(merge_histogram_batch, stream.sparkSession, col=col,
                    path=path, lo=lo, hi=hi, n_bins=n_bins)
    return state_store.start_sink(stream, merge, checkpoint, available_now)


# ---------------------------------------------------------------------------
# Streaming AMS F₂ maintenance: the second-frequency-moment sketch is
# ADD-mergeable at the atom level — each estimator's state is the
# signed sum Z_j = Σ_u sign_j(u)·c_u, and a micro-batch contributes
# Σ_rows sign_j(key) to it, so state' = state + delta exactly. 8 rows
# of state forever; estimate F₂ ≈ Z_j² served via mean/median across
# estimators (see queries.ams_f2_sketch_audit for the batch twin and
# the sign-hash convention).
# ---------------------------------------------------------------------------


def read_ams(spark, path: str) -> DataFrame:
    """Current AMS state (empty before the first batch)."""
    return state_store.read(spark, path, _AMS, _AMS_SCHEMA)


def _ams_batch_delta(batch: DataFrame, key: str, n_estimators: int) -> DataFrame:
    """Per-estimator signed-sum delta for one micro-batch.

    Sign-hash hygiene: ``cast('long')`` on a non-integral
    key yields NULL, the ``when`` condition is NULL, and every row
    would take ``otherwise(-1)`` — Z_j = −batch_count and the F₂
    estimate silently becomes n². Keys therefore enter through the
    SHARED ``sketch_key_expr`` helper (operators/sketches.py — the
    same pre-hash bloom_semi_join uses, so AMS and bloom draw
    identically for the same key): non-integral keys pre-hash via
    ``pmod(xxhash64(key), 999983)``. The affine stage then runs
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
    Replays are no-ops, as for :func:`merge_sketch_batch`."""
    state_store.add(
        spark, _ams_batch_delta(batch, key, n_estimators), ["j"], path,
        _AMS, _AMS_SCHEMA, epoch=epoch, stream_id=stream_id,
    )


def ams_f2_estimate(spark, path: str) -> DataFrame:
    """Serve the current F₂ estimate: mean and median of Z_j² across
    the estimators — one row, computable at any time from the 8-row
    state."""
    state = read_ams(spark, path)
    sq = state.select((F.col("z") * F.col("z")).cast("double").alias("e"))
    return sq.agg(
        F.avg("e").alias("f2_mean"),
        F.percentile("e", F.lit(0.5)).alias("f2_median"),
        F.count(F.lit(1)).cast("long").alias("n_estimators"),
    )


def streaming_ams_f2(
    stream: DataFrame,
    key: str,
    path: str,
    checkpoint: str,
    n_estimators: int = 8,
    available_now: bool = False,
):
    """Maintain the AMS F₂ sketch over a stream; serve with
    :func:`ams_f2_estimate` at any time. ``available_now=True`` drains
    the current backlog and terminates by itself."""
    merge = partial(merge_ams_batch, stream.sparkSession, key=key,
                    path=path, n_estimators=n_estimators)
    return state_store.start_sink(stream, merge, checkpoint, available_now)
