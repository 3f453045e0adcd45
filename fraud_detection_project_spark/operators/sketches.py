"""Frequency sketches and membership pre-filters.

No reference equivalent (the 446-line pandas reference holds everything
in memory); these are the approximate structures a 100 TB pipeline uses
where exact state would not fit or would force a full shuffle:

- count-min: sub-linear frequency table over an unbounded key domain —
  heavy-hitter detection, rate limiting, join-size estimation. The
  sketch is ``depth x width`` counters regardless of key cardinality.
- hash filter: bloom-style semi-join pruning — drop fact rows whose key
  cannot exist on the dimension side BEFORE the expensive shuffle, at
  the cost of bounded false positives (never false negatives). This is
  the manual twin of Spark's runtime bloom-filter injection, usable
  where the optimizer can't see the opportunity (e.g. pre-aggregation
  pruning or cross-job pipelines).

Scale design: the count-min build explodes each row into ``depth``
(row, bucket) coordinates and partial-aggregates map-side, so the
shuffle carries at most ``depth * width`` rows per map task no matter
the input size; probing broadcasts the finished (depth*width)-row
sketch. The hash filter broadcasts only DISTINCT dimension-key buckets
(<= num_buckets rows), never the dimension itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def count_min_table(
    df: DataFrame,
    key: str | Column,
    depth: int = 4,
    width: int = 1024,
    seed: int = 42,
    weight: str | Column | None = None,
) -> DataFrame:
    """Build the count-min counter table ``(d, bucket, cnt)``.

    Row r increments counter ``(depth row d, xxhash64(key, seed+d) mod width)``
    for every d in [0, depth). Estimates read ``min_d cnt`` — each row
    of counters is an independent hash, so the minimum tightens the
    collision inflation. One grouped aggregation; the post-partial-agg
    shuffle is bounded by depth*width rows per task.

    ``weight``: build from PRE-AGGREGATED ``(key, weight)`` rows instead of raw
    rows — each key adds ``weight`` to its buckets, so
    ``count_min_table(exact_counts, k, weight="cnt")`` is value-
    identical to ``count_min_table(raw, k)`` (same longs: summing a
    key's total count into a bucket ≡ counting its rows one by one)
    while exploding |keys|·depth coordinates instead of |rows|·depth.
    Lets one scan serve both the exact counts and the sketch
    (cms_heavy_hitters); equality is pinned by a pytest.
    """
    k = F.col(key) if isinstance(key, str) else key
    coords = F.array(
        *[
            F.struct(
                F.lit(d).alias("depth"),
                F.pmod(F.xxhash64(k, F.lit(seed + d)), F.lit(width)).alias(
                    "bucket"
                ),
            )
            for d in range(depth)
        ]
    )
    if weight is None:
        agg = F.count(F.lit(1)).alias("cnt")
        exploded = df.select(F.explode(coords).alias("r"))
    else:
        w = F.col(weight) if isinstance(weight, str) else weight
        agg = F.sum("__w").alias("cnt")
        exploded = df.select(F.explode(coords).alias("r"), w.alias("__w"))
    return exploded.groupBy(
        F.col("r.depth").alias("depth"),
        F.col("r.bucket").alias("bucket"),
    ).agg(agg)


def count_min_estimate(
    df: DataFrame,
    key: str,
    probes: DataFrame | None = None,
    width: int = 1024,
) -> DataFrame:
    """Per-key count-min estimates: ``(key, cms_est)``.

    ``probes`` defaults to the distinct keys of ``df`` (full
    self-audit); pass a small frame to probe specific keys. The
    finished sketch (<= 4*width rows) broadcasts to the probe side,
    so probing costs no extra full-data shuffle. Guarantee:
    ``cms_est >= true count`` always; overestimate is collision mass,
    E[excess] <= n/width per row, minimized over the 4 hash rows.
    """
    tbl = count_min_table(df, key, width=width)
    keys = probes if probes is not None else df.select(key).distinct()
    k = F.col(key)
    coords = F.array(
        *[
            F.struct(
                F.lit(d).alias("depth"),
                F.pmod(F.xxhash64(k, F.lit(42 + d)), F.lit(width)).alias(
                    "bucket"
                ),
            )
            for d in range(4)
        ]
    )
    probed = keys.select(key, F.explode(coords).alias("r")).select(
        key, F.col("r.depth").alias("depth"), F.col("r.bucket").alias("bucket")
    )
    return (
        probed.join(F.broadcast(tbl), ["depth", "bucket"])
        .groupBy(key)
        .agg(F.min("cnt").alias("cms_est"))
    )


def hash_filter_semijoin(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
    num_buckets: int = 1 << 20,
) -> DataFrame:
    """Prune ``fact`` to rows whose key *might* exist in ``dim`` —
    a one-hash bloom filter realized as a broadcast semi-join on
    hash buckets.

    Never drops a matching row (false negatives impossible: a real
    match hashes to a bucket the dimension populated). Keeps at most
    ``|distinct dim keys| / num_buckets`` of non-matching rows in
    expectation. The broadcast side is the DISTINCT bucket set
    (<= num_buckets 8-byte values, small for any practical setting),
    so the fact table is filtered in place with no shuffle — run it
    before a shuffle join or aggregation to cut the exchanged volume.
    """
    bucket_of = lambda c: F.pmod(F.xxhash64(F.col(c), F.lit(7)), F.lit(num_buckets))  # noqa: E731
    dim_buckets = dim.select(bucket_of(dim_key).alias("__hf_bucket")).distinct()
    return fact.join(
        F.broadcast(dim_buckets),
        on=bucket_of(fact_key) == F.col("__hf_bucket"),
        how="left_semi",
    )


def count_min_inner_product(
    df_a: DataFrame,
    key_a: str,
    df_b: DataFrame,
    key_b: str,
    width: int = 1 << 18,
) -> DataFrame:
    """Equi-join cardinality estimate WITHOUT running the join — the
    classic count-min inner product (Cormode & Muthukrishnan §4.2):

        |A ⋈_k B| = Σ_k f_A(k)·f_B(k)  ≈  min_d Σ_b cntA[d,b]·cntB[d,b]

    Always >= the true size (collisions only add mass); expected excess
    <= |A|·|B| / width per row, minimized over the 4 hash rows. This is
    the planning primitive for choosing join strategies (broadcast vs
    shuffle vs skew-salt) when the optimizer's NDV stats are stale or
    the join key is derived: two independent single-pass sketches meet
    in a sketch-sized join, never touching the data again.

    Returns one row ``(join_size_est)``. Each sketch build is bounded by
    4*width rows post-partial-agg; the meeting join is sketch ⋈
    sketch on (depth, bucket).
    """
    ta = count_min_table(df_a, key_a, width=width)
    tb = count_min_table(df_b, key_b, width=width)
    prod = (
        ta.join(
            tb.select(
                "depth", "bucket", F.col("cnt").alias("cnt_b")
            ),
            ["depth", "bucket"],
        )
        .groupBy("depth")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("ip"))
    )
    # a depth-row whose buckets never intersect has inner product 0 —
    # it just produces NO row out of the join, so fewer than 4 rows
    # here means the tightest row already proves the join is empty
    return prod.agg(
        F.when(F.count(F.lit(1)) < 4, F.lit(0))
        .otherwise(F.min("ip"))
        .alias("join_size_est")
    )


def histogram_sketch(
    df: DataFrame,
    col: str,
    n_bins: int = 256,
) -> DataFrame:
    """Fixed-range equal-width histogram — the simplest MERGEABLE
    quantile sketch: per-partition bin counts combine by addition (the
    groupBy's partial aggregation IS the shard merge), so shards /
    days / clusters built over the same range union by summing counts
    per bin. Returns one row per non-empty bin: ``(bin, cnt, lo, hi,
    n_bins)`` with bin ∈ [0, n_bins) clamped at the range edges.

    ``lo``/``hi`` come from one min/max aggregate (two passes total).
    Shuffle is bounded by ``n_bins`` rows forever, like the CMS/HLL
    contracts in this module."""
    d = df.select(F.col(col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    r = d.agg(F.min("__v").alias("lo"), F.max("__v").alias("hi")).first()
    if r["lo"] is None:  # no non-null values: empty sketch
        return df.sparkSession.createDataFrame(
            [], "bin int, cnt bigint, lo double, hi double, n_bins int"
        )
    lo, hi = float(r["lo"]), float(r["hi"])
    width = (hi - lo) / n_bins if hi > lo else 1.0
    bin_ = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0), F.floor((F.col("__v") - F.lit(lo)) / F.lit(width))
        ),
    ).cast("int")
    return (
        d.groupBy(bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("lo", F.lit(float(lo)))
        .withColumn("hi", F.lit(float(hi)))
        .withColumn("n_bins", F.lit(n_bins))
    )


def quantiles_from_histogram(
    hist: DataFrame, probs: list[float]
) -> DataFrame:
    """Quantile estimates off a :func:`histogram_sketch` frame (or a
    sum-merged union of several): for each probability, walk the
    cumulative counts to the crossing bin and interpolate linearly
    inside it. Returns ``(prob, est)``. The estimate sits within ONE
    bin width of the exact quantile by construction — the guarantee
    the tolerance oracle checks. All windows run over ≤ n_bins rows.

    Raises if the frame mixes (lo, hi, n_bins) configurations — shards
    built with different pinned ranges do NOT merge by bin addition
    and would silently interleave here."""
    from pyspark.sql.window import Window as W

    n_cfg = hist.select("lo", "hi", "n_bins").distinct().count()
    if n_cfg > 1:
        raise ValueError(
            "histogram frame mixes (lo, hi, n_bins) configurations; "
            "rebuild shards with one pinned range before merging"
        )
    wcum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    c = hist.select(
        "bin", "cnt", "lo", "n_bins",
        ((F.col("hi") - F.col("lo")) / F.col("n_bins")).alias("w"),
        F.sum("cnt").over(wcum).alias("cum"),
    )
    total = hist.agg(F.sum("cnt").alias("n"))
    out = None
    for p in probs:
        target = F.col("n") * F.lit(p)
        # first bin whose cumulative count reaches the target rank
        cross = (
            c.crossJoin(F.broadcast(total))
            .filter(F.col("cum") >= target)
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(float(p)).alias("prob"),
                (
                    F.col("lo")
                    + F.col("w")
                    * (
                        F.col("bin")
                        + (
                            (target - (F.col("cum") - F.col("cnt")))
                            / F.col("cnt")
                        )
                    )
                ).alias("est"),
            )
        )
        out = cross if out is None else out.unionByName(cross)
    return out


def misra_gries(
    df: "DataFrame", col: str, k: int
) -> "DataFrame":
    """Distributed Misra-Gries heavy-hitter summary: ≤ ``k`` (item,
    est) rows whose estimates underestimate true counts by at most
    n/(k+1) — the deterministic frequent-items guarantee (every item
    with true count > n/(k+1) is present).

    Layout: per-partition MG (Arrow-batched ``mapInPandas``, counter
    dict carried across batches — peak memory O(k + distinct-per-Arrow-
    batch): each batch's value_counts is ingested whole before the
    compress step, so the ~10k-row Arrow batch bounds the transient,
    not k alone), then the
    Agarwal-et-al mergeable-summary merge: sum counters per item, rank
    the merged multiset, subtract the (k+1)-th largest merged value
    from all, keep positives.  The merge is pure DataFrame ops — the
    (k+1)-th value comes from a top-(k+1) TakeOrderedAndProject
    broadcast, never a driver collect.  The candidate SET depends on
    partitioning (as with any MG); only the guarantee is
    partition-independent — audits must assert the bound, not the set.
    """
    import pandas as pd

    from pyspark.sql import functions as F

    def mg_partition(batches):
        # vectorized: each Arrow batch is exactly summarized by
        # value_counts (O(distinct), no Python row loop), then folded
        # into the running summary with the mergeable-MG combine —
        # subtract the (k+1)-th largest combined count, keep positives.
        # Each fold's subtraction is bounded by batch_n/(k+1), so the
        # per-partition underestimate telescopes to ≤ n_partition/(k+1).
        import heapq

        counters: dict = {}
        for pdf in batches:
            for item, c in pdf[col].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                sub = heapq.nlargest(k + 1, counters.values())[k]
                counters = {
                    i: c - sub for i, c in counters.items() if c > sub
                }
        yield pd.DataFrame(
            {"item": list(counters), "cnt": list(counters.values())}
        )

    field = df.schema[col]
    part = df.select(col).mapInPandas(
        mg_partition, schema=f"item {field.dataType.simpleString()}, cnt long"
    )
    merged = part.groupBy("item").agg(F.sum("cnt").alias("cnt"))
    kth = (
        merged.orderBy(F.desc("cnt"), "item")
        .limit(k + 1)
        .agg(
            F.count(F.lit(1)).alias("n_top"),
            F.min("cnt").alias("kth"),
        )
        .select(
            F.when(F.col("n_top") > k, F.col("kth"))
            .otherwise(F.lit(0))
            .alias("sub")
        )
    )
    return (
        merged.crossJoin(F.broadcast(kth))
        .select("item", (F.col("cnt") - F.col("sub")).alias("est"))
        .filter(F.col("est") > 0)
    )


# Affine hash family for the Bloom filter: distinct MULTIPLIERS per
# hash (additive seeds alone cancel in relative ordering — the
# engine-independence convention from ml/split.py), mod-prime then
# remultiplied so dense integer keys don't map monotonically.
_BLOOM_HASHES = ((1000003, 7), (1012003, 11), (1030003, 13))
_BLOOM_P = 999983
_BLOOM_REMUL = 40503

_INTEGRAL_KEY_TYPES = frozenset({"tinyint", "smallint", "int", "bigint"})


def sketch_key_expr(df, col: str):
    """Long-valued key expression for the SQL-replicable affine AMS
    sign hash (streaming/sketches.py): integral keys keep the
    bit-exact ``cast('long')`` path the audit oracles replicate;
    everything else pre-hashes through ``pmod(xxhash64(col), 999983)``
    so the downstream modular arithmetic never sees NULL (a raw
    ``cast('long')`` of a string is NULL)
    or a negative operand."""
    dt = df.schema[col].dataType.simpleString()
    if dt in _INTEGRAL_KEY_TYPES:
        return F.col(col).cast("long")
    return F.pmod(F.xxhash64(F.col(col)), F.lit(_BLOOM_P))


def _bloom_positions(key_col, m_col):
    """The 3 Bloom hash positions of ``key_col`` in an ``m_col``-bit
    filter (the bloom_semi_join_audit query and its oracle)."""
    return F.array(
        *[
            (
                (key_col.cast("long") * a + b)
                % _BLOOM_P
                * _BLOOM_REMUL
                % _BLOOM_P
                % m_col
            )
            for a, b in _BLOOM_HASHES
        ]
    )
