"""The versioned state store behind the foreachBatch sinks
(streaming/state_store.py): durable commits and the on-disk layout the
sketch and aggregate sinks share."""

from __future__ import annotations

import os
import shutil

import pytest


def _merge_sketch(spark, path, epoch):
    from fraud_detection_project_spark.streaming.sketches import (
        merge_sketch_batch,
    )

    b = spark.createDataFrame([(i % 7,) for i in range(30)], "k long")
    merge_sketch_batch(spark, b, "k", path, width=16, epoch=epoch,
                       stream_id="ckpt")


def _merge_aggregate(spark, path, epoch):
    from fraud_detection_project_spark.streaming.incremental import (
        merge_aggregate_batch,
    )

    b = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "g string, v double")
    merge_aggregate_batch(spark, b, ["g"], {"n": ("v", "count")}, path,
                          "g string, n bigint", epoch=epoch,
                          stream_id="ckpt")


@pytest.mark.parametrize("merge", [_merge_sketch, _merge_aggregate],
                         ids=["count_min", "aggregate"])
def test_commit_is_durable_before_gc(spark, tmp_path, monkeypatch, merge):
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

    assert ("rmtree", "v=0") in events
    first_rm = events.index(("rmtree", "v=0"))
    manifest = ident(os.path.join(path, "MANIFEST.json"))
    directory = ident(path)
    assert manifest in events[:first_rm]
    assert directory in events[:first_rm]
    assert sorted(d for d in os.listdir(path) if d.startswith("v=")) == [
        "v=1", "v=2",
    ]


def test_sketch_sinks_share_one_directory(spark, tmp_path):
    """Count-min, histogram and AMS state merged into ONE directory over
    three epochs: each read returns only its own state, equal to the
    batch sketch of all rows; the manifest and version directory names
    are the on-disk layout; no sink's GC touches another's versions."""
    from fraud_detection_project_spark.operators.sketches import (
        count_min_table,
        histogram_sketch,
    )
    from fraud_detection_project_spark.streaming.sketches import (
        merge_ams_batch,
        merge_histogram_batch,
        merge_sketch_batch,
        read_ams,
        read_histogram,
        read_sketch,
    )

    rows = [(i % 11, float(i % 13) / 2) for i in range(90)]
    schema = "k long, v double"
    path = str(tmp_path / "shared")
    for epoch in range(3):
        b = spark.createDataFrame(rows[epoch * 30:(epoch + 1) * 30], schema)
        merge_sketch_batch(spark, b, "k", path, width=16,
                           epoch=epoch, stream_id="ckpt")
        merge_histogram_batch(spark, b, "v", path, lo=0.0, hi=6.0, n_bins=8,
                              epoch=epoch, stream_id="ckpt")
        merge_ams_batch(spark, b, "k", path, n_estimators=4, epoch=epoch,
                        stream_id="ckpt")

    assert sorted(os.listdir(path)) == [
        "AMS_MANIFEST.json", "HIST_MANIFEST.json", "MANIFEST.json",
        "av=1", "av=2", "hv=1", "hv=2", "v=1", "v=2",
    ]

    every = spark.createDataFrame(rows, schema)
    cm = read_sketch(spark, path)
    assert cm.dtypes == [("depth", "int"), ("bucket", "bigint"),
                         ("cnt", "bigint")]
    want_cm = count_min_table(every, "k", width=16)
    assert sorted(map(tuple, cm.collect())) == sorted(
        (r["depth"], r["bucket"], r["cnt"]) for r in want_cm.collect()
    )

    hist = read_histogram(spark, path)
    assert hist.dtypes == [("bin", "int"), ("cnt", "bigint"),
                           ("lo", "double"), ("hi", "double"),
                           ("n_bins", "int")]
    want_hist = histogram_sketch(every, "v", n_bins=8, lo=0.0, hi=6.0)
    assert sorted(map(tuple, hist.collect())) == sorted(
        (r["bin"], r["cnt"], r["lo"], r["hi"], r["n_bins"])
        for r in want_hist.collect()
    )

    ams = read_ams(spark, path)
    assert ams.dtypes == [("j", "int"), ("z", "bigint")]
    one_batch = str(tmp_path / "ams_one_batch")
    merge_ams_batch(spark, every, "k", one_batch, n_estimators=4, epoch=None,
                    stream_id=None)
    assert sorted(map(tuple, ams.collect())) == sorted(
        map(tuple, read_ams(spark, one_batch).collect())
    )
