"""Table diff — snapshot reconciliation between two keyed datasets.

The validation companion to MERGE (operators/merge.py): after applying
a changeset (or migrating an engine), prove the result matches the
expectation — per-key, per-column, NULL-safe — without collecting
either side.

Scale design: one full-outer shuffle join on the key columns is the
entire cost; the per-row classification is a codegen expression (no
UDF), and the output is either the one-row summary aggregate or the
classified row stream for a dead-letter sink. At 100 TB vs 100 TB this
is the canonical two-big-tables join: co-partition both sides by key
(bucketed tables) and the Exchange disappears.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: classification labels emitted in the ``diff_status`` column
ONLY_LEFT = "only_left"
ONLY_RIGHT = "only_right"
DIFFERING = "differing"
EQUAL = "equal"


def diff_rows(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Per-key diff stream: one row per key present on either side with
    ``diff_status`` ∈ {only_left, only_right, differing, equal} and the
    per-column equality bitmap (``eq_<col>`` booleans, NULL-safe — two
    NULLs compare equal, the semantics reconciliation needs) over every
    shared non-key column.
    """
    shared = [c for c in left.columns if c in set(right.columns)]
    compare_cols = [c for c in shared if c not in set(keys)]
    # presence markers, NOT key-nullness: a row whose key is genuinely
    # NULL must still read as present on its side (the null-safe join
    # aligns NULL keys, so key-nullness would misclassify those rows)
    l = left.withColumn("__in_l", F.lit(True)).alias("l")
    r = right.withColumn("__in_r", F.lit(True)).alias("r")
    in_left = F.col("l.__in_l").isNotNull()
    in_right = F.col("r.__in_r").isNotNull()
    eqs = [
        F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")).alias(f"eq_{c}")
        for c in compare_cols
    ]
    all_eq = (
        F.lit(True)
        if not compare_cols
        else F.array_min(
            F.array(*[F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")) for c in compare_cols])
        )
    )
    status = (
        F.when(~in_right, F.lit(ONLY_LEFT))
        .when(~in_left, F.lit(ONLY_RIGHT))
        .when(all_eq, F.lit(EQUAL))
        .otherwise(F.lit(DIFFERING))
    )
    # join on null-safe key equality so NULL key components still align
    cond = None
    for k in keys:
        c = F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}"))
        cond = c if cond is None else (cond & c)
    joined = l.join(r, cond, "full_outer")
    return joined.select(
        *[
            # when(in_left) not coalesce: a present-but-NULL left key
            # must stay NULL, not fall through to the right side
            F.when(in_left, F.col(f"l.{k}"))
            .otherwise(F.col(f"r.{k}"))
            .alias(k)
            for k in keys
        ],
        status.alias("diff_status"),
        *eqs,
    )


def diff_summary(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """One-row reconciliation summary:
    ``(n_only_left, n_only_right, n_differing, n_equal)``."""
    d = diff_rows(left, right, keys)
    s = F.col("diff_status")
    return d.agg(
        F.count(F.when(s == ONLY_LEFT, 1)).alias("n_only_left"),
        F.count(F.when(s == ONLY_RIGHT, 1)).alias("n_only_right"),
        F.count(F.when(s == DIFFERING, 1)).alias("n_differing"),
        F.count(F.when(s == EQUAL, 1)).alias("n_equal"),
    )
