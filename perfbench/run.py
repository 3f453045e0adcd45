"""Seeded, traced benchmark for the fraud engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.perfbench_cache/`` (reused for the same seed and sizes) before
any timing starts. One client runs the workload as a closed loop on
local[min(4, nproc)]:

- the session plus the workload's own set-up is built three times and
  ``setup_s`` is the median (the first build also launches the JVM, the
  others stop the previous session first);
- requests then run back to back until ``--seconds`` have passed, at
  least one; ``run_s`` is their median wall time. The first request of a
  run is the first engine work after set-up, so it includes JIT and
  code-generation warm-up, as a batch job started once per process does;
  the declared run length keeps every run to that one request;
- every request's output is checked; a request that raises or returns a
  wrong output counts as failed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the session writes Spark's event log and the last
set-up is traced; after one cold request, untraced requests run for a
third of ``--seconds`` and traced ones for the rest, every engine-layer
call wrapped in a span and a job group (see ``spans.py``). The last line
then carries the per-layer metrics, per traced request and read from the
jobs submitted inside the requests' own windows (reset and check work
excluded): ``<layer>.build_s`` (driver seconds inside the layer's
outermost calls), ``<layer>.self_s`` (union of the spans of the jobs run
under the layer's own group), ``<layer>.jobs``, ``.task_s``,
``.shuffle_bytes`` and ``.spill_bytes`` from the event log,
``driver.gap_s`` (request time minus the union of its jobs' spans) and
``trace.overhead_s`` (traced minus untraced ``run_s``, both warm). The
``setup.*`` metrics cover the traced set-up: its wall time, the session
layer's driver seconds, and its jobs, task time and driver gap.

The line before the last is a report: host stamp (nproc, memory, Spark
version, commit, cores used), loadavg around every request with a count
of requests where it exceeded the cores, ``peak_rss_mb`` (driver JVM
plus this process), ``failed_frac`` and the workload-specific metrics
(``q1_s`` … ``q5_s``, ``stream_rows_per_s``, ``drain_s``, and for
``stream_scoring`` ``trigger_s_p50``; ``graph_text``'s ``cc_s``,
``core_s`` and ``rouge_s``). ``phases`` splits
the run's wall time: start-up, untimed checks, stop.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
DRIVER_MEM = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------------ host


def host_stamp(cores: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    commit = "unknown"
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass  # a plain checkout without git metadata
    return {
        "nproc": os.cpu_count(),
        "mem_gib": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "commit": commit,
        "cores_used": cores,
    }


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this process."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = jvm_pid()
    if pid is not None:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# --------------------------------------------------------------- session


def build_session(cores: int, eventlog: str | None):
    """The benchmark's own session, built before ``get_spark`` so the
    event log (when tracing) is on from the first job; ``get_spark`` then
    applies the engine's confs to it."""
    from pyspark.sql import SparkSession

    from fraud_detection_project_spark.session import get_spark

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEM)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    )
    if eventlog:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + eventlog)
        )
    b.getOrCreate().sparkContext.setLogLevel("ERROR")
    return get_spark("perfbench")


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ loop


class Loop:
    """Closed loop: one request at a time, each checked, for ``seconds``."""

    def __init__(self, wl, spark):
        self.wl, self.spark = wl, spark
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.loadavg: list[tuple[float, float]] = []
        self.referenced = False
        self.check_s = 0.0  # untimed reference and check work
        # (start_ms, end_ms, seconds) of every timed request, so the event
        # log can be read for the requests alone, without reset and check
        self.windows: list[tuple[int, int, float]] = []

    def request(self):
        self.wl.reset(self.spark)
        before = os.getloadavg()[0]
        self.attempted += 1
        start_ms = time.time() * 1000
        t0 = time.perf_counter()
        try:
            result = self.wl.run(self.spark)
        except Exception as exc:  # a failed request is counted, not fatal
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {exc}"[:300])
            result = None
        dt = time.perf_counter() - t0
        self.windows.append((int(start_ms), int(time.time() * 1000) + 1, dt))
        if result is None:
            return dt, None
        self.loadavg.append((before, os.getloadavg()[0]))
        t1 = time.perf_counter()
        try:
            if not self.referenced:
                # after the first request, so the timed request is the
                # first engine work after set-up in every run
                self.wl.reference(self.spark)
                self.referenced = True
            errs = self.wl.check(self.spark, result)
        except Exception as exc:
            errs = [f"check raised {type(exc).__name__}: {exc}"[:300]]
        self.check_s += time.perf_counter() - t1
        if errs:
            self.failed += 1
            self.errors.extend(errs)
        return dt, result

    def run_for(self, seconds: float) -> tuple[list[float], list]:
        times, results = [], []
        deadline = time.perf_counter() + seconds
        while True:
            dt, result = self.request()
            if result is not None:
                times.append(dt)
                results.append(result)
            if time.perf_counter() >= deadline:
                return times, results


def layer_metrics(tracer, eventlog: str, windows: list[tuple[int, int, float]]) -> dict:
    """Per-layer metrics per traced request, from the jobs submitted
    inside the requests' own windows."""
    from eventlog import group_stats, union_s
    from spans import LAYERS
    from workloads import late_rows

    n = len(windows)
    wall_s = sum(dt for _, _, dt in windows)
    groups, busy_s = group_stats(eventlog, [w[:2] for w in windows], tracer.stream_groups)
    build = tracer.layer_times()
    out = {}
    for layer in LAYERS:
        g = groups.get(layer)
        vals = {
            "build_s": (build.get(layer, 0.0), "s"),
            "self_s": (union_s(g.spans) if g else 0.0, "s"),
            "jobs": (g.jobs if g else 0, "count"),
            "task_s": (g.task_s if g else 0.0, "s"),
            "shuffle_bytes": (g.shuffle_bytes if g else 0, "bytes"),
            "spill_bytes": (g.spill_bytes if g else 0, "bytes"),
        }
        for k, (v, unit) in vals.items():
            out[f"{layer}.{k}"] = (v / n, unit)
    out["driver.gap_s"] = ((wall_s - busy_s) / n, "s")
    out["session.gc_s"] = (sum(g.gc_s for g in groups.values()) / n, "s")

    prog = tracer.stream_progress.get("streaming.velocity", [])
    states = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    out["streaming.velocity.state_rows"] = (max((s["numRowsTotal"] for s in states), default=0), "rows")
    out["streaming.velocity.state_bytes"] = (max((s["memoryUsedBytes"] for s in states), default=0), "bytes")
    out["streaming.velocity.late_rows_dropped"] = (sum(late_rows(p) for p in prog) / n, "rows")
    out["streaming.velocity.triggers"] = (sum(1 for p in prog if p.get("numInputRows")) / n, "count")
    for layer in ("operators.graph", "operators.dedup"):
        g, rounds = groups.get(layer), tracer.rounds.get(layer, 0)
        out[f"{layer}.jobs_per_round"] = ((g.jobs / rounds) if g and rounds else 0.0, "count")
    return out


def setup_metrics(tracer, eventlog: str, window: tuple[int, int, float]) -> dict:
    """The traced set-up: the session layer's driver seconds, and the jobs,
    task time and driver gap of everything it ran."""
    from eventlog import group_stats

    groups, busy_s = group_stats(eventlog, [window[:2]])
    return {
        "setup.wall_s": (window[2], "s"),
        "setup.session.build_s": (tracer.layer_times().get("session", 0.0), "s"),
        "setup.jobs": (sum(g.jobs for g in groups.values()), "count"),
        "setup.task_s": (sum(g.task_s for g in groups.values()), "s"),
        "setup.driver.gap_s": (window[2] - busy_s, "s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import bench  # noqa: F401  (headline q5 lives there)
        import fraud_detection_project_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from inputs import ensure_inputs
    from workloads import WORKLOADS, fresh_dir

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = min(4, os.cpu_count() or 1)
    cache = os.path.join(ROOT, ".perfbench_cache")
    work = os.path.join(cache, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_PYTHON=sys.executable,
    )
    t0 = time.perf_counter()
    inputs = ensure_inputs(os.path.join(cache, "inputs"), args.workload, args.seed)
    gen_s = time.perf_counter() - t0
    eventlog = fresh_dir(os.path.join(work, "eventlog")) if args.trace else None

    wl = WORKLOADS[args.workload](inputs, work)
    spark = None
    setup_times = []
    setup_tracer = None
    phases = {"start_s": time.perf_counter() - T_START}
    try:
        for i in range(SETUPS):
            if args.trace and i == SETUPS - 1:
                # the last set-up is traced: the JVM is up, as in the
                # set-ups the median of setup_s comes from
                from spans import Tracer

                setup_tracer = Tracer(fresh_dir(os.path.join(work, "trace-setup")))
                setup_tracer.install()
            start_ms = time.time() * 1000
            t0 = time.perf_counter()
            try:
                # stopping the previous session is timed too: without it
                # fraud's and headline's set-up is 0.1-0.25 s and its
                # median moves by up to half between runs
                if spark is not None:
                    spark.stop()
                spark = build_session(cores, eventlog)
                wl.prepare(spark)
            finally:
                if setup_tracer is not None:
                    setup_tracer.uninstall()
            setup_times.append(time.perf_counter() - t0)
            setup_window = (int(start_ms), int(time.time() * 1000) + 1, setup_times[-1])
        loop = Loop(wl, spark)

        report = {"workload": args.workload, "seed": args.seed, "inputs_s": gen_s,
                  "host": host_stamp(cores), "sizes": wl.sizes}
        if args.trace:
            metrics = traced_run(args, spark, loop, eventlog, work, report)
            metrics.update(setup_metrics(setup_tracer, eventlog, setup_window))
        else:
            times, results = loop.run_for(args.seconds)
            run_s = statistics.median(times) if times else float("nan")
            metrics = {
                "setup_s": (statistics.median(setup_times), "s"),
                "run_s": (run_s, "s"),
            }
            if results:
                report["workload_metrics"] = _named(wl.extra(times, results))
            report["run_s_samples"] = times
        # JVM heap growth follows GC timing, so the peak swings too much
        # between runs to bound; it is reported, not compared
        report["peak_rss_mb"] = peak_rss_mb()
        report["setup_s_samples"] = setup_times
        phases["check_s"] = loop.check_s
        report["phases"] = phases
        report["failed_frac"] = loop.failed / loop.attempted
        report["errors"] = loop.errors[:10]
        report["loadavg"] = loop.loadavg
        report["overloaded_requests"] = sum(1 for a, b in loop.loadavg if max(a, b) > cores)
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop_s"] = time.perf_counter() - t0
    phases["total_s"] = time.perf_counter() - T_START

    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": _named(metrics),
    }))
    return 0


def traced_run(args, spark, loop, eventlog, work, report) -> dict:
    """Per-layer metrics from warm requests: one cold request first, then
    untraced and traced requests, so ``trace.overhead_s`` compares like
    with like."""
    from spans import Tracer
    from workloads import fresh_dir

    loop.request()
    untraced, _ = loop.run_for(args.seconds / 3)
    tracer = Tracer(fresh_dir(os.path.join(work, "trace")))
    tracer.install()
    try:
        first = len(loop.windows)
        traced, _ = loop.run_for(args.seconds * 2 / 3)
    finally:
        tracer.uninstall()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    # traced requests, failed ones included
    metrics = layer_metrics(tracer, eventlog, loop.windows[first:])
    overhead = statistics.median(traced) - statistics.median(untraced) if traced and untraced else 0.0
    metrics["trace.overhead_s"] = (overhead, "s")
    report["untraced_run_s_samples"] = untraced
    report["traced_run_s_samples"] = traced
    return metrics


def _named(metrics: dict) -> dict:
    return {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()}


if __name__ == "__main__":
    sys.exit(main())
