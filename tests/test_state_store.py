"""The versioned state store behind the foreachBatch sinks
(streaming/state_store.py): durable commits and the on-disk layout the
AMS sketch and aggregate sinks share."""

from __future__ import annotations

import os
import shutil

import pytest


def _merge_ams(spark, path, epoch):
    from fraud_detection_project_spark.streaming.sketches import merge_ams_batch

    b = spark.createDataFrame([(i % 7,) for i in range(30)], "k long")
    merge_ams_batch(spark, b, "k", path, epoch=epoch, stream_id="ckpt")


def _merge_aggregate(spark, path, epoch):
    from fraud_detection_project_spark.streaming.incremental import (
        merge_aggregate_batch,
    )

    b = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "g string, v double")
    merge_aggregate_batch(spark, b, ["g"], {"n": ("v", "count")}, path,
                          "g string, n bigint", epoch=epoch,
                          stream_id="ckpt")


@pytest.mark.parametrize("merge, layout", [
    (_merge_ams, ("AMS_MANIFEST.json", "av=")),
    (_merge_aggregate, ("MANIFEST.json", "v=")),
], ids=["ams", "aggregate"])
def test_commit_is_durable_before_gc(spark, tmp_path, monkeypatch, merge,
                                    layout):
    """One commit fsyncs the new manifest and its directory before any
    old version directory is removed: otherwise a power loss can keep
    the GC's unlinks but lose the manifest rename, leaving the manifest
    pointing at a deleted version."""
    path = str(tmp_path / "state")
    merge(spark, path, 0)
    merge(spark, path, 1)  # v=0 and v=1 on disk; the next commit GCs v=0

    events = []
    real_fsync, real_rmtree = os.fsync, shutil.rmtree

    def fsync(fd):
        st = os.fstat(fd)
        events.append(("fsync", (st.st_dev, st.st_ino)))
        return real_fsync(fd)

    def rmtree(p, *args, **kwargs):
        events.append(("rmtree", os.path.basename(p)))
        return real_rmtree(p, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(shutil, "rmtree", rmtree)
    merge(spark, path, 2)
    monkeypatch.undo()

    def ident(p):
        st = os.stat(p)
        return ("fsync", (st.st_dev, st.st_ino))

    manifest_name, prefix = layout
    assert ("rmtree", f"{prefix}0") in events
    first_rm = events.index(("rmtree", f"{prefix}0"))
    manifest = ident(os.path.join(path, manifest_name))
    directory = ident(path)
    assert manifest in events[:first_rm]
    assert directory in events[:first_rm]
    assert sorted(d for d in os.listdir(path) if d.startswith(prefix)) == [
        f"{prefix}1", f"{prefix}2",
    ]


def test_ams_and_aggregate_sinks_share_one_directory(spark, tmp_path):
    """AMS and aggregate state merged into ONE directory over three
    epochs: each read returns only its own state, equal to a one-batch
    merge of all rows; the manifest and version directory names are
    the on-disk layout; neither sink's GC touches the other's versions
    (``av=`` and ``v=`` prefixes)."""
    from fraud_detection_project_spark.streaming.incremental import (
        merge_aggregate_batch,
        read_state,
    )
    from fraud_detection_project_spark.streaming.sketches import (
        merge_ams_batch,
        read_ams,
    )

    rows = [(i % 11, float(i % 13) / 2) for i in range(90)]
    schema = "k long, v double"
    specs = {"n": ("v", "count"), "total": ("v", "sum")}
    agg_schema = "k long, n bigint, total double"

    def merge_both(b, path, epoch, stream_id):
        merge_ams_batch(spark, b, "k", path, n_estimators=4, epoch=epoch,
                        stream_id=stream_id)
        merge_aggregate_batch(spark, b, ["k"], specs, path, agg_schema,
                              epoch=epoch, stream_id=stream_id)

    path = str(tmp_path / "shared")
    for epoch in range(3):
        b = spark.createDataFrame(rows[epoch * 30:(epoch + 1) * 30], schema)
        merge_both(b, path, epoch, "ckpt")

    assert sorted(os.listdir(path)) == [
        "AMS_MANIFEST.json", "MANIFEST.json", "av=1", "av=2", "v=1", "v=2",
    ]

    one_batch = str(tmp_path / "one_batch")
    merge_both(spark.createDataFrame(rows, schema), one_batch, None, None)

    ams = read_ams(spark, path)
    assert ams.dtypes == [("j", "int"), ("z", "bigint")]
    assert sorted(map(tuple, ams.collect())) == sorted(
        map(tuple, read_ams(spark, one_batch).collect())
    )

    agg = read_state(spark, path, agg_schema)
    assert agg.dtypes == [("k", "bigint"), ("n", "bigint"),
                          ("total", "double")]
    assert sorted(map(tuple, agg.collect())) == sorted(
        map(tuple, read_state(spark, one_batch, agg_schema).collect())
    )
