"""Versioned state directories behind the ``foreachBatch`` state sinks.

A sink's state is a run of immutable version directories
(``{prefix}{n}/``, parquet) plus one manifest naming the current
version. A commit writes the next version, flips the manifest
atomically and durably (unique temp file, fsync, ``os.replace``, fsync
of the directory), and only then drops all but the newest two
versions. Readers resolve the manifest, so they never see a
torn state; a crash leaves at worst an unreferenced version directory,
which the next commit overwrites. Without the directory fsync a power
loss could persist a later GC unlink but not the rename, leaving the
manifest pointing at a deleted version.

Several sinks may share one directory: each owns a manifest name and a
version prefix (a :class:`Layout`), and GC lists only its own prefix.
The AMS sketch sink (streaming/sketches.py) and the aggregate sink
(streaming/incremental.py) both commit through :func:`apply`.

``foreachBatch`` is at-least-once, so the manifest also records
the last applied ``(stream_id, epoch)`` and :func:`apply` skips a
replay of it (see :func:`_is_replay`).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class Layout(NamedTuple):
    """Where one sink keeps its state inside a directory."""

    manifest: str
    prefix: str
    # extra (key, value) pairs recorded in every manifest commit
    fields: tuple = ()


BASE = Layout("MANIFEST.json", "v=")


def write_atomic(target: str, text: str) -> None:
    """Replace ``target`` with ``text``: readers see the old or the new
    content, never a partial write, and the rename survives power loss."""
    tmp = f"{target}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, target)
    dfd = os.open(os.path.dirname(target) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def versions(path: str, prefix: str) -> list[str]:
    """Version directories ``{prefix}{n}`` under ``path``, oldest first."""
    return sorted(
        (d for d in os.listdir(path)
         if d.startswith(prefix) and d[len(prefix):].isdigit()
         and os.path.isdir(os.path.join(path, d))),
        key=lambda d: int(d[len(prefix):]),
    )


def gc(path: str, prefix: str) -> None:
    """Drop every version directory but the newest two: the committed
    one and its predecessor for readers in flight. Versions are
    monotonic, so the committed one is always kept."""
    for d in versions(path, prefix)[:-2]:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def manifest_state(path: str, layout: Layout) -> dict:
    """The sink's manifest; ``version`` is -1 before the first commit."""
    manifest = os.path.join(path, layout.manifest)
    if not os.path.exists(manifest):
        return {"version": -1, "epoch": -1, "stream_id": None}
    with open(manifest) as f:
        m = json.load(f)
    if m.get("epoch") is None:
        m["epoch"] = -1  # pre-epoch manifest, or a batch-mode commit
    m.setdefault("stream_id", None)  # pre-identity manifest
    return m


def _is_replay(state: dict, epoch: int | None, stream_id: str | None) -> bool:
    """True iff ``(stream_id, epoch)`` is the last one applied.

    The stream identity is the checkpoint location, the scope of the
    epoch counter: a restart against a new checkpoint resets epochs to
    0 and must apply. The rule is equality, not ``<=``: foreachBatch
    only ever re-delivers the last uncommitted epoch, so an older
    epoch under the same identity means the checkpoint was lost and
    the stream restarted at the same path; those batches are new and
    apply, and the manifest then records the new incarnation's epoch.
    A batch-mode merge (``epoch=None``) always applies, and a legacy
    manifest without ``stream_id`` never matches a stream."""
    return (
        epoch is not None
        and epoch == state["epoch"]
        and state["stream_id"] == stream_id
    )


def read(spark, path: str, layout: Layout, schema: str) -> DataFrame:
    """Current state, or an empty frame of DDL ``schema`` before the
    first commit."""
    version = manifest_state(path, layout)["version"]
    if version < 0:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(os.path.join(path, f"{layout.prefix}{version}"))


def commit(
    df: DataFrame, path: str, layout: Layout = BASE, epoch: int | None = None,
    stream_id: str | None = None,
) -> None:
    """Write ``df`` as the next version, flip the manifest to it, GC."""
    version = manifest_state(path, layout)["version"] + 1
    df.write.mode("overwrite").parquet(
        os.path.join(path, f"{layout.prefix}{version}")
    )
    write_atomic(
        os.path.join(path, layout.manifest),
        json.dumps({"version": version, "epoch": epoch,
                    "stream_id": stream_id, **dict(layout.fields)}),
    )
    gc(path, layout.prefix)


def apply(
    spark, path: str, layout: Layout, schema: str,
    step: Callable[[DataFrame], DataFrame], epoch: int | None = None,
    stream_id: str | None = None,
) -> None:
    """Commit ``step(current state)`` as the next version, unless
    ``(stream_id, epoch)`` was the last one applied."""
    if _is_replay(manifest_state(path, layout), epoch, stream_id):
        return
    commit(step(read(spark, path, layout, schema)), path, layout,
           epoch=epoch, stream_id=stream_id)


def add(
    spark, delta: DataFrame, keys: list[str], path: str, layout: Layout,
    schema: str, epoch: int | None = None, stream_id: str | None = None,
) -> None:
    """state' = state + ``delta``, summed per ``keys``: for sum-mergeable
    state, whose every non-key column is a count. The result keeps the
    stored column order and types."""
    def step(prev: DataFrame) -> DataFrame:
        fields = prev.schema.fields
        return (
            prev.unionByName(
                delta.select([F.col(f.name).cast(f.dataType) for f in fields])
            )
            .groupBy(*keys)
            .agg(*[F.sum(f.name).cast(f.dataType).alias(f.name)
                   for f in fields if f.name not in keys])
            .select(prev.columns)
        )

    apply(spark, path, layout, schema, step, epoch=epoch, stream_id=stream_id)


def start_sink(
    stream: DataFrame, merge: Callable, checkpoint: str,
    available_now: bool = False,
):
    """Run ``merge(batch, epoch=..., stream_id=checkpoint)`` on every
    micro-batch of ``stream``; returns the StreamingQuery. The
    checkpoint location is the epoch counter's scope, hence the replay
    guard's stream identity. ``available_now=True`` drains the current
    backlog (still honoring ``maxFilesPerTrigger``) and stops by
    itself, so a bounded caller can just ``awaitTermination()``."""
    writer = (
        stream.writeStream.foreachBatch(
            lambda batch, epoch: merge(batch, epoch=epoch,
                                       stream_id=checkpoint)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
