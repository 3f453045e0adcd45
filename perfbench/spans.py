"""Spans and job groups around every call into an engine module.

``Tracer.install`` replaces each public function (and each public method
of a public class) defined in a layer module with a wrapper, everywhere
the package refers to it, so a call made through a ``from x import y``
binding is traced too. For the duration of the outermost call into a
layer the wrapper:

- records a span (layer, start, end, parent);
- sets the Spark job group to the layer, so the event log attributes
  every job the call starts to it;
- materialises the returned DataFrames at the boundary (persist and
  count; a streaming DataFrame is drained into parquet and read back as
  a stream), so lazily planned work runs under the layer that planned
  it rather than under whichever caller first triggers an action.

``uninstall`` restores every replaced binding. The engine package is
never modified on disk.
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import inspect
import json
import os
import sys
import time
import uuid

PKG = "fraud_detection_project_spark"

# layer name -> module (relative to the package)
LAYERS = [
    "session",
    "catalog",
    "operators.cleaning",
    "operators.joins",
    "operators.windows",
    "pipeline.features",
    "ml.split",
    "ml.prep",
    "ml.imbalance",
    "pipeline.processor",
    "queries",
    "streaming.velocity",
    "streaming.scoring",
    "operators.dedup",
    "operators.graph",
    "operators.texteval",
]


@dataclasses.dataclass
class Span:
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None


class Tracer:
    def __init__(self, scratch_dir: str):
        self.scratch_dir = scratch_dir
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.rounds: dict[str, int] = {}
        self.stream_groups: dict[str, str] = {}  # streaming run id -> layer
        self.stream_progress: dict[str, list[dict]] = {}
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ install

    def install(self) -> None:
        wrappers: dict[int, object] = {}  # id(original function) -> wrapper
        for layer in LAYERS:
            mod = importlib.import_module(f"{PKG}.{layer}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrappers[id(obj)] = self._wrap(layer, obj)
                elif inspect.isclass(obj):
                    for attr, fn in list(vars(obj).items()):
                        if not attr.startswith("_") and inspect.isfunction(fn):
                            self._set(obj, attr, self._wrap(layer, fn))
        # rebind every module attribute and registry entry that refers to
        # an original (from-imports, the QUERIES registry, ...)
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".") or mname == "bench"):
                continue
            for name, val in list(vars(mod).items()):
                if id(val) in wrappers:
                    self._set(mod, name, wrappers[id(val)])
                elif isinstance(val, dict) and name.isupper():
                    for k, v in list(val.items()):
                        if id(v) in wrappers:
                            self._patched.append((val, k, v))
                            val[k] = wrappers[id(v)]
        self._patch_checkpoint()

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            if isinstance(owner, dict):
                owner[name] = orig
            else:
                setattr(owner, name, orig)
        self._patched.clear()

    def _set(self, owner, name: str, value) -> None:
        self._patched.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def _patch_checkpoint(self) -> None:
        """Count per-round lineage cuts: every iterative graph loop ends a
        round with one eager DISK_ONLY ``localCheckpoint``."""
        from pyspark import StorageLevel

        try:  # the concrete class of a classic (non-Connect) session
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        orig = DataFrame.localCheckpoint
        tracer = self

        @functools.wraps(orig)
        def local_checkpoint(df, eager=True, storageLevel=None):
            if eager and storageLevel == StorageLevel.DISK_ONLY and tracer.stack:
                layer = tracer.spans[tracer.stack[-1]].layer
                tracer.rounds[layer] = tracer.rounds.get(layer, 0) + 1
            if storageLevel is None:
                return orig(df, eager)
            return orig(df, eager, storageLevel)

        self._set(DataFrame, "localCheckpoint", local_checkpoint)

    # ------------------------------------------------------------- spans

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.stack and tracer.spans[tracer.stack[-1]].layer == layer:
                return fn(*args, **kwargs)
            return tracer._call(layer, fn, args, kwargs)

        return traced

    def _call(self, layer: str, fn, args, kwargs):
        from pyspark import SparkContext

        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        self.spans.append(Span(layer, time.perf_counter(), parent=parent))
        self.stack.append(idx)
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobGroup(layer, f"perfbench {layer}")
        try:
            out = fn(*args, **kwargs)
            return self._materialise(layer, out)
        finally:
            self.stack.pop()
            self.spans[idx].end = time.perf_counter()
            sc = SparkContext._active_spark_context
            if sc is not None:
                if self.stack:
                    up = self.spans[self.stack[-1]].layer
                    sc.setJobGroup(up, f"perfbench {up}")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def _materialise(self, layer: str, out, depth: int = 0):
        from pyspark import StorageLevel
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            if out.isStreaming:
                return self._drain(layer, out)
            out.persist(StorageLevel.MEMORY_AND_DISK)
            out.count()
            return out
        if depth >= 2:
            return out
        if isinstance(out, tuple):
            return tuple(self._materialise(layer, v, depth + 1) for v in out)
        if isinstance(out, list):
            return [self._materialise(layer, v, depth + 1) for v in out]
        if isinstance(out, dict):
            return {k: self._materialise(layer, v, depth + 1) for k, v in out.items()}
        if dataclasses.is_dataclass(out) and not isinstance(out, type):
            for f in dataclasses.fields(out):
                v = getattr(out, f.name)
                if isinstance(v, DataFrame):
                    setattr(out, f.name, self._materialise(layer, v, depth + 1))
        return out

    def _drain(self, layer: str, stream):
        """Run a streaming layer's output to completion into parquet and
        hand the caller a stream over the drained files."""
        d = os.path.join(self.scratch_dir, f"{layer}-{uuid.uuid4().hex[:8]}")
        q = (
            stream.writeStream.format("parquet")
            .option("path", os.path.join(d, "out"))
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        self.stream_groups[str(q.runId)] = layer
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{layer} stream failed: {q.exception()}")
        self.stream_progress.setdefault(layer, []).extend(
            json.loads(p.json) for p in q.recentProgress
        )
        spark = stream.sparkSession
        return spark.readStream.schema(stream.schema).parquet(os.path.join(d, "out"))

    # ----------------------------------------------------------- summary

    def layer_times(self) -> dict[str, float]:
        """Inclusive driver seconds inside each layer's outermost calls."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start)
        return out
