"""Class-imbalance operators (SURVEY.md §2 M6/M7).

Reference: ``handle_class_imbalance`` (``transform_data.py:103-111``) —
SMOTE when strategy=='smote' else RandomUnderSampler. (The reference
*intends* SMOTE per its config but a positional-arg bug always runs the
undersampler — SURVEY.md defects; this engine implements both correctly
and honors the strategy argument.)

SMOTE at scale (SURVEY hard-list #1): sklearn's SMOTE is exact-kNN over
an in-memory matrix. Distributed design here:

1. bucket minority rows by a seeded random projection (LSH-style —
   same machinery as similarity search);
2. ``applyInPandas`` per bucket: exact kNN *within the bucket* (Arrow
   batch, numpy), then interpolate ``x + u·(neighbor − x)``, u~U(0,1)
   from an RNG seeded per-row → deterministic across runs and cluster
   layouts;
3. union synthetic rows with the original frame.

Neighbor quality degrades only at bucket boundaries — acceptable for
SMOTE, which is itself a heuristic. Bucket width bounds executor memory;
no O(n²) pair materialization anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def class_counts(df: DataFrame, label_col: str) -> dict:
    rows = df.groupBy(label_col).count().collect()
    return {r[0]: r[1] for r in rows}


def undersample_majority(
    df: DataFrame, label_col: str, seed: int = 42
) -> DataFrame:
    """M7 (``RandomUnderSampler``): Bernoulli-downsample every class to
    ~the minority count. Narrow op — no shuffle; counts are the only jobs.

    (sklearn draws *exactly* n_min rows; Bernoulli keeps the expectation
    — the scalable contract, same as ``sampleBy``.)
    """
    counts = class_counts(df, label_col)
    n_min = min(counts.values())
    fractions = {label: n_min / n for label, n in counts.items()}
    return df.stat.sampleBy(label_col, fractions, seed)


def undersample_exact(
    df: DataFrame,
    label_col: str,
    order_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """M7 exact variant mirroring ``RandomUnderSampler``
    (``transform_data.py:107``): every class keeps EXACTLY the minority
    count of rows, not just the Bernoulli expectation.

    Selection order is a seeded ``xxhash64`` over ``order_cols`` —
    uniform and deterministic for a fixed (seed, key set), independent
    of partitioning. ``order_cols`` must uniquely identify rows (they
    break hash ties).

    Scale design — no single-partition-per-class sort, no driver action:

    1. salt = pmod(hash, 32): rank windows partition by (label, salt),
       so a 100-TB majority class spreads over 32 tasks instead of one;
    2. per-(label, salt) row counts are a tiny aggregate; a running sum
       over salt order turns local ranks into a global rank within the
       deterministic (salt, hash) total order;
    3. the minority count is a one-row broadcast aggregate joined in —
       never ``.collect()``-ed.
    """
    from pyspark.sql import Window

    h = F.xxhash64(*[F.col(c) for c in order_cols], F.lit(seed))
    salted = df.withColumn("__h", h).withColumn(
        "__salt", F.pmod(F.col("__h"), F.lit(32)).cast("int")
    )

    local_rank = (
        F.row_number().over(
            Window.partitionBy(label_col, "__salt").orderBy(
                "__h", *[F.col(c) for c in order_cols]
            )
        )
        - 1
    )
    ranked = salted.withColumn("__rn", local_rank)

    cnts = salted.groupBy(label_col, "__salt").agg(F.count(F.lit(1)).alias("__cnt"))
    off_w = (
        Window.partitionBy(label_col)
        .orderBy("__salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = cnts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(off_w), F.lit(0))
    ).select(label_col, "__salt", "__off")

    per_class = salted.groupBy(label_col).agg(F.count(F.lit(1)).alias("__n"))
    n_min = per_class.agg(F.min("__n").alias("__n_keep"))
    cond_join = ranked.join(F.broadcast(offsets), [label_col, "__salt"]).crossJoin(
        F.broadcast(n_min)
    )

    kept = cond_join.filter(F.col("__rn") + F.col("__off") < F.col("__n_keep"))
    return kept.drop("__h", "__salt", "__rn", "__off", "__n_keep")


def smote(
    df: DataFrame,
    label_col: str,
    features_col: str,
    id_col: str,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """M6: distributed SMOTE (``SMOTE(random_state=42)``,
    ``transform_data.py:23,107``). ``features_col`` is array<numeric>.

    Synthesizes minority rows up to the majority count and unions them
    with the input. Synthetic rows carry ``id_col = -1``. Deterministic
    for a fixed (seed, id set).

    The feature width rides along in the SAME class-count aggregate —
    no separate ``.first()`` job.
    """
    # F.size(NULL array) is -1 under non-ANSI semantics, so size() is
    # guarded with a when(): an all-null class must yield __d = NULL
    # (not -1) for the no-vectors ValueError below to be reachable.
    stats0 = df.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.max(
            F.when(
                F.col(features_col).isNotNull(), F.size(F.col(features_col))
            )
        ).alias("__d"),
    ).collect()
    counts = {r[0]: r["__n"] for r in stats0}
    minority_label = min(counts, key=counts.get)
    n_min = counts[minority_label]
    needed = max(counts.values()) - n_min
    if needed <= 0:
        return df

    dims = [r["__d"] for r in stats0 if r["__d"] is not None]
    if not dims:
        raise ValueError(f"{features_col} has no non-null vectors")
    dim = max(dims)
    minority = df.filter(F.col(label_col) == F.lit(minority_label)).select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(features_col).cast("array<double>").alias("__feat"),
    )

    # Size buckets so each holds roughly TARGET_BUCKET rows — bounds the
    # per-group pandas memory regardless of input scale. The projection
    # spread is estimated with one cheap agg (≈6σ covers the mass).
    proj_col = _projection(minority, "__feat", dim, seed)
    TARGET_BUCKET = 4096
    stats = minority.select(
        F.stddev_samp(proj_col).alias("sd"), F.count(F.lit(1)).alias("n")
    ).first()
    sd = stats["sd"] or 1.0
    n_buckets = max(1, int(np.ceil((stats["n"] or 1) / TARGET_BUCKET)))
    width = max(6.0 * sd / n_buckets, 1e-9)

    # deterministic per-row synthesis quota: distribute `needed` across
    # minority rows by (bucket, id) rank — base + 1 for the first
    # `needed % n_min` rows in that total order. The rank is computed
    # scalably: row_number *within* each bucket (partitioned window, no
    # single-partition shuffle) plus a driver-computed cumulative offset
    # per bucket (#buckets ≈ n_min/4096, tiny to collect).
    from pyspark.sql import Window

    base, rem = divmod(needed, n_min)
    bucketed = minority.withColumn(
        "__bucket", F.floor(proj_col / F.lit(float(width))).cast("long")
    )
    bucket_counts = sorted(
        (r["__bucket"], r["cnt"])
        for r in bucketed.groupBy("__bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = {}, 0
    for b, cnt in bucket_counts:
        offsets[b] = acc
        acc += cnt
    from ..lineage import bounded_literal

    offset_df = bounded_literal(
        df.sparkSession,
        [(b, off) for b, off in offsets.items()],
        "__bucket long, __off long",
        "per-bucket offsets: same cardinality (⌈n_min/4096⌉) as the "
        "driver collect that produced them — the broadcast adds no "
        "scale exposure beyond the documented offset design",
    )
    rn = F.row_number().over(Window.partitionBy("__bucket").orderBy("__id")) - 1
    tagged = (
        bucketed.join(F.broadcast(offset_df), "__bucket")
        .withColumn("__rn", rn + F.col("__off"))
        .withColumn("__quota", F.lit(base) + (F.col("__rn") < rem).cast("int"))
    )

    out_schema = T.StructType(
        [
            T.StructField("__feat", T.ArrayType(T.DoubleType())),
        ]
    )
    k_ = k
    seed_ = seed

    def synth(pdf: pd.DataFrame) -> pd.DataFrame:
        feats = np.array(pdf["__feat"].tolist(), dtype=np.float64)
        ids = pdf["__id"].to_numpy()
        quotas = pdf["__quota"].to_numpy()
        n = len(pdf)
        new_rows: list[np.ndarray] = []
        if n == 1:
            # singleton bucket: no neighbor — replicate the row
            for _ in range(int(quotas[0])):
                new_rows.append(feats[0])
        else:
            kk = min(k_, n - 1)
            # exact kNN within the bucket via the gemm identity
            # |a-b|² = |a|² + |b|² − 2a·b — one BLAS product and an
            # n×n matrix, instead of the n×n×dim broadcast temp
            sq = (feats * feats).sum(axis=1)
            d2 = sq[:, None] + sq[None, :] - 2.0 * (feats @ feats.T)
            np.fill_diagonal(d2, np.inf)
            nbrs = np.argpartition(d2, kth=kk - 1, axis=1)[:, :kk]
            for i in range(n):
                q = int(quotas[i])
                if q == 0:
                    continue
                rng = np.random.RandomState((seed_ * 1_000_003 + int(ids[i])) % (2**32))
                for _ in range(q):
                    j = nbrs[i][rng.randint(kk)]
                    u = rng.uniform()
                    new_rows.append(feats[i] + u * (feats[j] - feats[i]))
        if not new_rows:
            return pd.DataFrame({"__feat": pd.Series([], dtype=object)})
        return pd.DataFrame({"__feat": [r.tolist() for r in new_rows]})

    synthetic = tagged.groupBy("__bucket").applyInPandas(synth, out_schema)

    feat_type = df.schema[features_col].dataType
    if isinstance(feat_type, T.ArrayType):
        # cast to the element type with relaxed containsNull: a cast to a
        # non-null-element array is unresolvable, and union widens
        # nullability anyway.
        feat_type = T.ArrayType(feat_type.elementType, True)
    synth_rows = synthetic.select(
        F.col("__feat").cast(feat_type).alias(features_col)
    )
    for c in df.columns:
        if c == features_col:
            continue
        elif c == label_col:
            synth_rows = synth_rows.withColumn(
                c, F.lit(minority_label).cast(df.schema[label_col].dataType)
            )
        elif c == id_col:
            synth_rows = synth_rows.withColumn(c, F.lit(-1).cast(df.schema[id_col].dataType))
        else:
            synth_rows = synth_rows.withColumn(c, F.lit(None).cast(df.schema[c].dataType))
    return df.unionByName(synth_rows.select(df.columns))


def _projection(df: DataFrame, features_col: str, dim: int, seed: int):
    """Seeded unit-Gaussian 1-D projection of ``features_col``.

    One JVM expression for every width: ``aggregate(zip_with(features,
    plane, x*y), 0.0, acc+v)`` against the plane as an array literal. It
    stays O(1) plan nodes however wide the vector is, and it sums in
    index order, so it equals a sequential left fold ``acc += x*r``.
    """
    rng = np.random.RandomState(seed)
    r = rng.normal(size=dim)
    r = r / np.linalg.norm(r)
    plane = F.lit([float(x) for x in r])
    products = F.zip_with(
        F.col(features_col).cast("array<double>"), plane, lambda x, y: x * y
    )
    return F.aggregate(products, F.lit(0.0), lambda acc, v: acc + v)
