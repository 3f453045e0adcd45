"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Implementation lives in ``fraud_detection_project_spark``; this module is
a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from fraud_detection_project_spark import queries as _q  # noqa: E402
from fraud_detection_project_spark.session import ensure_runtime_confs  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Revenue per region: broadcast star join over
    region⋈nation⋈customer⋈orders (SURVEY.md §7 Phase 0).
    """
    ensure_runtime_confs(spark)
    return _q.QUERIES["revenue_by_region"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return dict(_q.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted ⇒ rows-only),
    in registration order."""
    return dict(_q.ORACLE_SQL)
