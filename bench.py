"""Benchmark harness (driver contract, BASELINE.md).

Runs the headline workloads at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Workloads (BASELINE.md):
  q1 scan+filter+agg      → pricing_summary
  q2 interval/range join  → geolocate_events_value
  q3 24h rolling window   → velocity_features_3keys
  q4 cleaning chain       → cleaning_chain
  q5 full ML prep         → split → fit/transform encode+scale → resample

Results are consumed with a noop write (full computation, no driver
collect cost polluting the measurement).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ml_prep_pipeline(spark, sf_dir: str):
    """Bench q5 (SURVEY.md §2 M1-M7, ``transform_data.py:113-161``):
    feature-engineer events, hash-split, fit encode+scale on train only,
    transform both splits, undersample train."""
    from pyspark.sql import functions as F

    from fraud_detection_project_spark.catalog import load_table
    from fraud_detection_project_spark.ml.imbalance import undersample_majority
    from fraud_detection_project_spark.ml.prep import build_feature_pipeline
    from fraud_detection_project_spark.ml.split import id_hash_split
    from fraud_detection_project_spark.operators.windows import rolling_count_24h

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    ev = rolling_count_24h(ev, "user_id", "ts_us", "txn_24h", tick=1_000_000)
    ev = ev.select(
        "event_id",
        "event_type",
        "value",
        "txn_24h",
        F.hour("ts").cast("double").alias("hour"),
        (F.col("event_type") == "error").cast("int").alias("label"),
    )
    split = id_hash_split(ev, "event_id", 0.8)
    # Persist the SHARED split frame, projected to what fit/transform
    # read (event_id only feeds the split hash — already applied), so
    # BOTH branches reuse one scan→shuffle→window pass. Persisting only
    # `train` would make the test branch re-run the whole upstream plan:
    # a second Scan+Exchange+Window subtree feeding the union.
    from pyspark import StorageLevel

    split = split.select(
        "event_type", "value", "txn_24h", "hour", "label", "split"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    train = split.filter(F.col("split") == "train")
    test = split.filter(F.col("split") == "test")

    model = build_feature_pipeline(
        ["value", "txn_24h", "hour"], ["event_type"]
    ).fit(train)
    train_proc = model.transform(train)
    test_proc = model.transform(test)
    resampled = undersample_majority(train_proc.select("label", "features"), "label")
    return resampled.unionByName(test_proc.select("label", "features"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from fraud_detection_project_spark.queries import QUERIES
    from fraud_detection_project_spark.session import get_spark, host_stamp

    spark = get_spark("bench")
    workloads = {
        "q1": lambda: QUERIES["pricing_summary"](spark, sf_dir),
        "q2": lambda: QUERIES["geolocate_events_value"](spark, sf_dir),
        "q3": lambda: QUERIES["velocity_features_3keys"](spark, sf_dir),
        "q4": lambda: QUERIES["cleaning_chain"](spark, sf_dir),
        "q5": lambda: ml_prep_pipeline(spark, sf_dir),
    }

    # warm the JVM + file listing once with the cheapest workload
    consume(QUERIES["cleaning_chain"](spark, sf_dir))

    # best-of-3 per workload: this host shows ±15-30% noise from
    # co-tenant load, and q5's wide codegen (window + prep transform)
    # JIT-compiles on its first execution — measured spread run0..run3 =
    # 11.8/1.9/1.7/1.6s, so two runs can still catch a compile tail.
    # min-of-n is the standard estimator for the machine-limited time
    # (every run is a full cold plan — only the JVM/file-listing warmup
    # is shared, as it is across all workloads)
    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}

    def clear_persisted() -> None:
        # q5 persists its split frame inside the timed pipeline; repeats
        # must compute from parquet, not read repeat 1's cached blocks
        spark.catalog.clearCache()

    for name, build in workloads.items():
        best = float("inf")
        for i in range(3):
            t0 = time.perf_counter()
            consume(build())
            dt = time.perf_counter() - t0
            if i == 0:
                first_run[name] = round(dt, 3)
            best = min(best, dt)
            clear_persisted()
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_workloads_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # transparency vs BASELINE.md (which recorded single cold runs):
        # first_run carries each workload's run-1 time — best-of-3
        # removes JIT-compile + co-tenant noise, first_run is the
        # directly comparable figure
        "first_run_queries": first_run,
        "first_run_total": round(sum(first_run.values()), 3),
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
        # local[cpus] this run used: tells "honoured but bound by fixed
        # cost" apart from "ignored" when SPARK_GRAFT_CPUS changes
        "cpus": host_stamp()["cpus"],
        # host-contention context: on a co-tenant VM with a ±50% timing
        # band, 1/5/15-min load averages tell a swing from noise
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    # Attach the measured 10x scaling decade when tools/bench_scale.py
    # has produced one stamped with this run's host and cores
    # (SCALING.md is the human-readable twin).
    # stdout carries ONE compact JSON line — headline + the decade's
    # per-workload exponents — because a consumer that keeps only the
    # tail (~2000 chars) of stdout would otherwise lose the headline to
    # a truncated line; the full per-cell decade goes to stderr (and
    # lives whole in .scale_data/scaling.json + SCALING.md).
    scaling = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           ".scale_data", "scaling.json")
    decade = None
    if os.path.exists(scaling):
        try:
            with open(scaling) as f:
                decade = json.load(f)
        except (OSError, ValueError):
            pass
    if decade is not None and decade.get("stamp") != host_stamp():
        # a decade measured on other cores or another machine says
        # nothing about this run
        out["scaling_note"] = "scaling.json is from another host or core count"
    elif decade is not None:
        exps = decade.get("exponents", {})
        out["scaling_exponents"] = exps
        if exps:
            out["scaling_max_exponent"] = max(exps.values())
        # the three-cell overhead-corrected fit: the max
        # CORRECTED exponent is the headline growth-law number; the
        # per-workload dict stays in scaling.json/SCALING.md (the
        # raw per-workload exponents already fill the size budget)
        corr = {
            k: v
            for k, v in decade.get("exponents_corrected", {}).items()
            if v is not None
        }
        if corr:
            out["scaling_max_exponent_corrected"] = max(corr.values())
        print(json.dumps({"scaling_decade": decade}), file=sys.stderr)
    line = json.dumps(out)
    # hard guarantee: the one stdout line fits the driver's tail window
    if len(line) > 1900:
        out.pop("scaling_exponents", None)
        out["scaling_note"] = "exponents elided for size; see SCALING.md"
        line = json.dumps(out)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
