"""Join operators (SURVEY.md §2 J1/J2): interval/range join, geolocation,
and a shuffle-scalable as-of join.

Reference: ``src/preprocessing/transform_data.py:25-47`` implements IP
geolocation as sort + ``merge_asof(backward)`` + an upper-bound
post-filter. Net semantics are a left interval join
(``ip BETWEEN lower AND upper``, unmatched → 'Unknown'); this engine
expresses it directly and lets the physical strategy follow the data:

- dimension fits in memory → ``broadcast`` range join (no shuffle of the
  fact side at all — the correct plan at 100 TB of transactions);
- dimension too large → :func:`as_of_join`, a single-shuffle sort-merge
  formulation that never materializes an O(n·m) product.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def range_join(
    fact: DataFrame,
    dim: DataFrame,
    point: str | Column,
    lower: str,
    upper: str,
    payload: Sequence[str],
) -> DataFrame:
    """Left interval join: fact rows matched to dim rows where
    ``lower <= point <= upper``.

    The dim is broadcast, so the plan is a BroadcastNestedLoopJoin and the
    fact side streams through unshuffled. Intervals are assumed disjoint
    (the reference's IP table), so each fact row matches at most once.
    """
    point_col = F.col(point) if isinstance(point, str) else point
    right = F.broadcast(dim.select(lower, upper, *payload))
    cond = (point_col >= F.col(lower)) & (point_col <= F.col(upper))
    return fact.join(right, cond, "left").drop(lower, upper)


def geolocate(
    transactions: DataFrame,
    ip_dim: DataFrame,
    ip_col: str = "ip_address_int",
    lower: str = "lower_bound_ip_address_int",
    upper: str = "upper_bound_ip_address_int",
    country: str = "country",
) -> DataFrame:
    """The reference's ``merge_geolocation_data`` (``transform_data.py:25-47``):
    interval join against the IP→country dim; unmatched (or null-IP) rows
    get country='Unknown' (the P5 conditional projection, folded into the
    join + coalesce instead of a row-wise apply).

    The fact side streams through a BroadcastNestedLoopJoin, which is
    right for any dim under the broadcast threshold (e.g. every public
    IP→country table). For dims too large to broadcast, call
    :func:`binned_range_join` directly; its semantics are identical.
    """
    out = range_join(
        transactions, ip_dim, point=ip_col, lower=lower, upper=upper, payload=[country]
    )
    return out.withColumn(country, F.coalesce(F.col(country), F.lit("Unknown")))


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    payload: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """Scalable as-of join: for each left row, the payload of the latest
    right row with ``right_time <= left_time`` (backward; 'forward' takes
    the earliest ``>=``) within the same ``on`` key.

    Physical shape: union the two sides into one keyed event stream,
    sort within key once, and carry the last-seen payload forward with
    ``last(ignorenulls)`` over an unbounded-preceding frame. One shuffle
    on ``on``, no nested-loop product — this is the big-right-side
    alternative the reference's in-memory merge_asof cannot scale to
    (``transform_data.py:30-36``).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    lcols = left.columns
    # tag: right rows sort before left rows at equal timestamps so exact
    # matches are visible to the left row (merge_asof allow_exact_matches).
    # The payload travels as ONE struct column so the carry is ROW-ATOMIC:
    # a struct of NULL fields is itself
    # non-NULL, so last(ignorenulls) carries the matched right row whole —
    # a NULL payload field can never backfill from an older right row,
    # matching pandas merge_asof exactly.
    r_tagged = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(p) for p in payload]).alias("__pl"),
    )
    l_tagged = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in lcols]).alias("__row"),
        F.lit(None).cast(r_tagged.schema["__pl"].dataType).alias("__pl"),
    )
    r_tagged = r_tagged.withColumn(
        "__row", F.lit(None).cast(l_tagged.schema["__row"].dataType)
    )
    unioned = l_tagged.unionByName(r_tagged)

    # Deterministic tie-break on duplicate (key, time) right rows: append
    # the payload STRUCT to the window ordering (struct comparison is
    # field-by-field lexicographic, nulls-first ascending — the same
    # tuple order the old per-column asc_nulls_first spelled out) so the
    # carried row is the MAX payload tuple (backward) / MIN payload
    # tuple (forward) — the same convention as DuckDB's arg_max /
    # arg_min and the engine-wide max_by rule for same-timestamp
    # carries. Without this, two right rows at the same (k, t) have no
    # defined order and last() carries whichever duplicate the shuffle
    # ordered last.
    if direction == "backward":
        w = (
            Window.partitionBy("__k")
            .orderBy(
                F.col("__t").asc(),
                F.col("__side").asc(),
                F.col("__pl").asc_nulls_first(),
            )
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        w = (
            Window.partitionBy("__k")
            .orderBy(
                F.col("__t").desc(),
                F.col("__side").asc(),
                F.col("__pl").desc_nulls_last(),
            )
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    carried = F.last("__pl", ignorenulls=True).over(w).alias("__plc")

    out = unioned.select("__side", "__row", carried).filter(F.col("__side") == 1)
    return out.select(
        *[F.col(f"__row.{c}").alias(c) for c in lcols],
        *[F.col(f"__plc.{p}").alias(p) for p in payload],
    )


def binned_range_join(
    fact: DataFrame,
    dim: DataFrame,
    point: str,
    lower: str,
    upper: str,
    payload: Sequence[str],
    how: str = "left",
    bin_width: float | None = None,
) -> DataFrame:
    """Interval join for dims too large to broadcast (SURVEY.md §4).

    The broadcast form (:func:`range_join`) is right while the dim fits
    the broadcast threshold; past that, a nested loop against a shuffled
    dim is quadratic. This form makes the interval join an EQUI-join:

    1. pick a bin width (default: the P95 interval length, one cheap agg
       on the dim — wide enough that most intervals explode into ≤2 bins);
    2. explode each dim interval into every bin it overlaps;
    3. tag each fact point with its bin; hash-join on the bin key;
    4. keep matches passing the exact ``lower <= point <= upper``
       residual; left semantics restored via a final anti-join add-back.

    Cost: one ordinary shuffle join on an integer key, dim inflated by
    ~ avg(interval_len / bin_width + 1) ≈ 2×. Assumes disjoint intervals
    (at most one true match per point), the reference's IP-table shape.
    """
    if bin_width is None:
        stats = dim.select(
            F.expr(f"percentile(({upper}) - ({lower}), 0.95)").alias("p95")
        ).first()
        bin_width = max(float(stats["p95"] or 1.0), 1e-9)

    w = float(bin_width)
    dim_binned = (
        dim.select(lower, upper, *payload)
        .withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor(F.col(lower) / F.lit(w)).cast("long"),
                    F.floor(F.col(upper) / F.lit(w)).cast("long"),
                )
            ),
        )
    )
    fact_binned = fact.withColumn(
        "__bin", F.floor(F.col(point) / F.lit(w)).cast("long")
    )

    residual = (F.col(point) >= F.col(lower)) & (F.col(point) <= F.col(upper))
    matched = (
        fact_binned.join(dim_binned, "__bin", "inner")
        .filter(residual)
        .drop("__bin", lower, upper)
    )
    if how == "inner":
        return matched
    if how != "left":
        raise ValueError("binned_range_join supports how='left' or 'inner'")

    # disjoint intervals ⇒ each matched fact row appears exactly once, so
    # the multiplicity-preserving complement is a plain exceptAll
    unmatched = fact.exceptAll(matched.select(*fact.columns))
    for p in payload:
        unmatched = unmatched.withColumn(p, F.lit(None).cast(dim.schema[p].dataType))
    return matched.unionByName(unmatched)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_bounds: tuple[str, str],
    right_bounds: tuple[str, str],
    bin_width: float | None = None,
) -> DataFrame:
    """Interval × interval overlap join — pairs whose spans intersect
    (``l_lo <= r_hi AND r_lo <= l_hi``), e.g. sessions × campaign
    windows. The naive form is a cross join with a range predicate —
    quadratic; here BOTH sides bin-explode so candidates meet on an
    integer equi-key:

    1. bin width defaults to the max P95 span of either side (each
       interval explodes into ~≤2 bins);
    2. explode both sides into every bin their span overlaps;
    3. hash-join on the bin, dedup on per-row ids (a pair can meet in
       several bins), exact overlap residual.

    Output: all left columns + all right columns — names must be
    DISJOINT (asserted, since the join would otherwise produce ambiguous
    references). Dedup runs on two ``monotonically_increasing_id`` row
    ids attached before binning, so genuinely duplicate input rows keep
    their full cross-product multiplicity — exactly what the naive
    cross-join-with-predicate yields (deduping on column VALUES would
    collapse duplicate rows). Cost: one shuffle join on the bin
    key — the same trick as binned_range_join, generalized from
    point∈interval to interval∩interval.
    """
    l_lo, l_hi = left_bounds
    r_lo, r_hi = right_bounds
    shared = set(left.columns) & set(right.columns)
    if shared:
        raise ValueError(
            f"interval_overlap_join requires disjoint column names; "
            f"shared: {sorted(shared)} — alias one side first"
        )
    if bin_width is None:
        p95s = []
        for df, lo, hi in ((left, l_lo, l_hi), (right, r_lo, r_hi)):
            s = df.select(
                F.expr(f"percentile(({hi}) - ({lo}), 0.95)").alias("p")
            ).first()
            p95s.append(float(s["p"] or 1.0))
        bin_width = max(max(p95s), 1e-9)

    w = float(bin_width)

    def binned(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / F.lit(w)).cast("long"),
                    F.floor(F.col(hi) / F.lit(w)).cast("long"),
                )
            ),
        )

    lb = binned(left.withColumn("__lid", F.monotonically_increasing_id()), l_lo, l_hi)
    rb = binned(right.withColumn("__rid", F.monotonically_increasing_id()), r_lo, r_hi)
    overlap = (F.col(l_lo) <= F.col(r_hi)) & (F.col(r_lo) <= F.col(l_hi))
    return (
        lb.join(rb, "__bin")
        .filter(overlap)
        .drop("__bin")
        .dropDuplicates(["__lid", "__rid"])
        .drop("__lid", "__rid")
    )
