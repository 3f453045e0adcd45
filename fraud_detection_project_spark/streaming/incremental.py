"""Streaming maintenance of algebraic grouped aggregates.

The batch operator (operators/incremental.py:merge_aggregate_state)
already proves state ⊕ delta = recompute for algebraic aggregates;
this module runs that merge inside ``foreachBatch`` so a materialized
aggregate table stays current over a stream with NO state store and
NO watermark — the aggregate table IS the state, bounded by group
cardinality, not stream length. Versioned commits, the atomic manifest
flip, GC of old versions (without it a long-running stream's disk
grows with stream LENGTH) and the at-least-once replay guard (a
replayed epoch would double-count an additive merge) are the shared
protocol of streaming/state_store.py.

Stream ≡ batch exactness is the pytest oracle
(tests/test_streaming.py::TestStreamingAggMaintenance): any micro-
batch slicing of the input produces byte-identical state to one batch
aggregation — the defining property of algebraic aggregates.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame

from ..operators.incremental import merge_aggregate_state
from . import state_store

_AGGREGATE = state_store.BASE  # MANIFEST.json, v=N


def read_state(spark, path: str, schema: str) -> DataFrame:
    """Current aggregate table (empty frame with ``schema`` before the
    first commit)."""
    return state_store.read(spark, path, _AGGREGATE, schema)


def merge_aggregate_batch(
    spark,
    batch: DataFrame,
    keys: list[str],
    specs: dict[str, tuple[str, str]],
    path: str,
    state_schema: str,
    *,
    epoch: int | None,
    stream_id: str | None,
) -> None:
    """state' = state ⊕ agg(batch), committed atomically. ``epoch`` is
    the foreachBatch epoch id and ``stream_id`` the stream's
    checkpoint (both None for a batch-mode merge); a replay of the last
    applied pair is a no-op (see :func:`.state_store._is_replay`)."""
    state_store.apply(
        spark, path, _AGGREGATE, state_schema,
        lambda prev: merge_aggregate_state(prev, batch, keys, specs),
        epoch=epoch, stream_id=stream_id,
    )


def streaming_aggregate(
    stream: DataFrame,
    keys: list[str],
    specs: dict[str, tuple[str, str]],
    path: str,
    checkpoint: str,
    state_schema: str,
    available_now: bool = False,
):
    """Maintain ``groupBy(keys).agg(specs)`` over a stream; returns the
    StreamingQuery. ``specs``: out_col -> (in_col, fn) with fn in
    sum/count/min/max (merge_aggregate_state's algebraic contract —
    avg rides as (sum, count); holistic aggregates need sketches).
    ``state_schema`` is the DDL of the state table (keys + out cols),
    needed to type the empty frame before the first commit.
    ``available_now=True`` drains the current backlog and terminates by
    itself (awaitTermination-able) — the batch-parity/catch-up mode."""
    merge = partial(
        merge_aggregate_batch, stream.sparkSession, keys=keys, specs=specs,
        path=path, state_schema=state_schema,
    )
    return state_store.start_sink(stream, merge, checkpoint, available_now)
