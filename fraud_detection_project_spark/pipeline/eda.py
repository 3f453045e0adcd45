"""EDA / reporting surface (reference ``Processor.perform_eda``,
``src/pipeline/processor.py:21-54``).

The reference computes these aggregates to feed matplotlib side-effects;
the engine returns the aggregates as DataFrames (S5: plotting stays
driver-side). Each is a single hash-aggregate — partial (map-side)
combine then one shuffle on the grouping key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import histogram, numeric_profile, rate_by, value_counts


# the reference's panels: fraud rate per dim, 50-bin histograms
DIMS = ("source", "browser", "sex")
NUMERIC_COLS = ("purchase_value", "Amount")


def resolve_label_column(df: DataFrame) -> str | None:
    """Reference's target-column probing (``processor.py:25-28``)."""
    for c in ("class", "Class"):
        if c in df.columns:
            return c
    return None


def perform_eda(df: DataFrame) -> dict[str, DataFrame]:
    """One dict of lazy aggregate plans per EDA panel:

    - ``summary``            A3 ``df.describe()`` (``processor.py:23``)
    - ``label_distribution`` A2 value counts      (``processor.py:30``)
    - ``fraud_rate_by_<d>``  A1 per-dim rate, desc (``processor.py:36-43``)
    - ``hist_<c>``           A7 50-bin grouped histogram (``processor.py:45-54``)
    """
    out: dict[str, DataFrame] = {"summary": df.summary()}
    label = resolve_label_column(df)
    if label is not None:
        out["label_distribution"] = value_counts(df, label)
        for d in DIMS:
            if d in df.columns:
                out[f"fraud_rate_by_{d}"] = rate_by(df, d, label, rate_col="fraud_rate")
        for c in NUMERIC_COLS:
            if c in df.columns:
                # histplot's auto-range: one cheap min/max agg per column
                lohi = df.select(F.min(c).alias("lo"), F.max(c).alias("hi")).first()
                if lohi["lo"] is not None and lohi["hi"] > lohi["lo"]:
                    out[f"hist_{c}"] = histogram(
                        df, c, bins=50, lo=float(lohi["lo"]), hi=float(lohi["hi"]), by=label
                    )
    numeric_present = [c for c in NUMERIC_COLS if c in df.columns]
    if numeric_present:
        out["numeric_profile"] = numeric_profile(df, numeric_present)
    return out
