"""Data-quality validation — expectations-style checks compiled into
ONE aggregation pass.

No reference equivalent (the reference trusts its CSVs); this is the
gate a production pipeline runs before anything downstream: each check
is a boolean column expression, all checks fold into a single
conditional-sum aggregate — one scan, one tiny shuffle, regardless of
how many checks run. Referential checks (key exists in a dim) join
against a broadcast of the dim's key column first.

Output contract: one row per check (check, n_violations, n_rows) —
joinable, alertable, and SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_report(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """``checks`` maps check name → violation predicate (true = bad
    row). Compiles to a single agg: SUM(CASE WHEN pred THEN 1 END) per
    check + COUNT(*) — then unpivots to (check, n_violations, n_rows)."""
    aggs = [
        F.sum(F.when(pred, 1).otherwise(0)).alias(name)
        for name, pred in checks.items()
    ]
    row = df.agg(*aggs, F.count(F.lit(1)).alias("__total"))
    stacked = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("check"),
                    F.col(name).alias("n_violations"),
                )
                for name in checks
            ]
        )
    )
    return row.select(stacked.alias("c"), F.col("__total").alias("n_rows")).select(
        "c.check", "c.n_violations", "n_rows"
    )


def with_dim_marker(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    marker: str,
) -> DataFrame:
    """Broadcast-left-join a dim's distinct keys onto the fact as a hit
    marker so a referential check (``F.col(marker).isNull()``) composes
    into :func:`check_report`'s single-pass aggregate — the fact never
    shuffles."""
    keys = (
        dim.select(F.col(dim_key).alias(fact_key))
        .distinct()
        .withColumn(marker, F.lit(1))
    )
    return fact.join(F.broadcast(keys), fact_key, "left_outer")
