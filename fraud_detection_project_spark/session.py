"""SparkSession construction tuned for the engine.

The reference runs one Python process with everything resident in RAM
(SURVEY.md §3). Here the session is configured for a real cluster: AQE on
(runtime re-planning, skew-join splitting, partition coalescing), Arrow on
(vectorized Python boundary), and shuffle partitions sized by the caller.

All confs set here are also applied idempotently by
:func:`ensure_runtime_confs` so the engine behaves the same when handed a
foreign SparkSession (e.g. the verification driver's).
"""

from __future__ import annotations

import os
import platform

from pyspark.sql import SparkSession

# Confs that are safe (and required) to set at runtime on any session.
RUNTIME_CONFS: dict[str, str] = {
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no ns
    # timestamp type, so read it as a raw nanosecond LongType column.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic time semantics; testdata timestamps are naive.
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones, demote/promote join strategies from observed sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / applyInPandas / toPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Join strategy: sort-merge everywhere, with AQE's shuffled-hash-join
    # rewrite off. An SHJ hash relation cannot spill; at ~sf10 one
    # OOMed building its table, and no gain from SHJ was measured.
    "spark.sql.join.preferSortMergeJoin": "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0",
    # reference semantics rely on to_timestamp → NULL on bad input
    # (SURVEY.md §2 F1); ANSI mode would raise instead.
    "spark.sql.ansi.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def host_stamp() -> dict:
    """The cores Spark runs on and the machine it runs on: a timing
    artifact is comparable with this process's timings only when its
    stamp is equal."""
    return {"cpus": default_parallelism(), "host": platform.node()}


# Sessions already configured by ensure_runtime_confs. Every query build
# calls it, and each of the 8 conf.set calls is a py4j round trip
# (~25 ms total per call measured on local[32]) — pure driver-side
# overhead inside the timed region of every bench/verify run
# (the driver should do almost no work per query). The set holds weak
# refs so a stopped session never pins.
_ENSURED: "weakref.WeakSet[SparkSession]" = None  # type: ignore[assignment]


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an existing session.

    Idempotent; used by every entry point so the engine works on a
    SparkSession it did not build. Applied once per session object and
    memoized — nothing in the engine mutates RUNTIME_CONFS keys after
    start-up.
    """
    global _ENSURED
    if _ENSURED is None:
        import weakref

        _ENSURED = weakref.WeakSet()
    if spark in _ENSURED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable on this build — keep going
    try:
        _ENSURED.add(spark)
    except TypeError:
        pass  # non-weakref-able session stub (tests) — just re-apply next time
    return spark


def get_spark(
    app_name: str = "fraud-detection-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else max(cores, 8)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return ensure_runtime_confs(builder.getOrCreate())
