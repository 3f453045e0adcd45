"""Train/test splitting (SURVEY.md §2 M1).

Reference: ``train_test_split(test_size=0.2, random_state=42, stratify=y)``
(``transform_data.py:121-123``). sklearn's exact row assignment is an RNG
artifact; the engine preserves the *semantics* — disjoint, exhaustive,
~80/20 within every stratum — two ways:

- :func:`id_hash_split` — deterministic multiplicative-hash assignment on
  a key column. Reproducible across runs, engines, and cluster sizes
  (pure integer arithmetic — the same formula runs in any SQL dialect),
  and requires no second pass: each row knows its side. This is the
  scale-correct choice: at 100 TB a random split that must be re-derived
  (or persisted) to stay stable is a liability.
- :func:`stratified_split` — per-class Bernoulli sampling via
  ``sampleBy`` + anti-join, the closest structural analog of sklearn's
  stratified shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Knuth's multiplicative hash constant (2^32 / φ), public domain folklore.
_KNUTH = 2654435761


def id_hash_split(
    df: DataFrame,
    id_col: str,
    train_fraction: float = 0.8,
    salt: int = 0,
) -> DataFrame:
    """Deterministic split: ``(id*K + salt) mod 100 < train_pct``.

    Adds ``split`` ∈ {'train','test'}. Stratification is implicit:
    the hash is independent of any feature, so every stratum lands
    ~train_fraction in expectation.
    """
    pct = int(round(train_fraction * 100))
    bucket = F.pmod(F.col(id_col).cast("long") * F.lit(_KNUTH) + F.lit(salt), F.lit(100))
    return df.withColumn(
        "split", F.when(bucket < pct, F.lit("train")).otherwise(F.lit("test"))
    )


def stratified_split(
    df: DataFrame,
    label_col: str,
    train_fraction: float = 0.8,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Per-class Bernoulli split (M1): ``sampleBy`` keeps ~train_fraction
    of every label value; test = the exact complement via exceptAll.

    Note exceptAll is a shuffle of the full frame — prefer
    :func:`id_hash_split` when an id column exists.
    """
    labels = [r[0] for r in df.select(label_col).distinct().collect()]
    fractions = {v: train_fraction for v in labels}
    train = df.stat.sampleBy(label_col, fractions, seed)
    test = df.exceptAll(train)
    return train, test


def kfold_assign(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Deterministic k-fold assignment: ``fold = pmod(xxhash64(id, seed), k)``.

    Folds are a pure function of (id, seed, k) — stable across runs,
    partitionings, and cluster layouts, so every worker agrees on the
    assignment without any coordination or shuffled sampling, and a
    fold's train split is just ``fold != i`` (no materialized copies of
    the dataset per fold — the property that matters when the dataset
    is 100 TB and sklearn's KFold would build k index arrays).
    """
    return df.withColumn(
        "fold",
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(k)).cast("int"),
    )


# second multiplicative mixing constant (Knuth TAOCP vol 3, 16-bit
# golden-ratio analogue); distinct from _KNUTH so the bucket and the
# ranking hash decorrelate.
_MIX = 40503
# modulus for the affine-then-remultiply mixing rounds (largest prime
# below 10⁶ — keeps every intermediate product under 2⁵²).
_HASH_PRIME = 999983


def sample_negatives(
    anchors: DataFrame,
    pool: DataFrame,
    k: int = 5,
    n_buckets: int | None = None,
    probe_buckets: int = 8,
    seed: int = 0,
) -> DataFrame:
    """Deterministic contrastive negative sampling: for every
    ``anchor_id`` of ``anchors``, ``k`` pseudo-random negatives from the
    ``pool_id`` column of ``pool``, WITHOUT an anchors×pool product.

    The contrastive-training staple (in-batch/global negatives for
    embedding models, DPO rejected-pair mining). A naive implementation
    is a cross join — quadratic and dead at corpus scale. Here the pool
    is hashed into ``n_buckets`` pseudo-random buckets and each anchor
    probes only ``probe_buckets`` of them (its own hash walk), so the
    candidate product is bounded by
    ``|anchors| · probe_buckets · |pool| / n_buckets``, executed as ONE
    equi-join on the bucket key. Within the candidates, rank = mixed
    hash of (anchor, candidate); ``row_number`` keeps the top ``k``
    (ties impossible: the tie-break is the candidate id itself).

    ``n_buckets`` defaults to AUTO-SIZING from the measured pool count
    so each anchor sees ≈ ``max(8k, 2·probe_buckets)`` candidates
    REGARDLESS of pool size — with a fixed bucket count the per-anchor
    candidate set grows linearly with the pool and an
    all-docs-as-anchors run goes quadratic (measured: decade exponent
    2.2 before auto-sizing, see SCALING.md). Auto-sizing costs one
    ``count()`` job and makes the draw a function of |pool|; pass an
    explicit ``n_buckets`` when the draw must stay fixed across
    growing-pool reruns (e.g. the oracle-checked query pins 32).

    Hashing is affine-mod-prime THEN remultiplied
    (``((x·c₁ + seed) mod P) · c₂ mod m`` with P = 999983): a purely
    affine hash would let the seed cancel out of every relative
    comparison (same draw for every seed); the inner mod-P wrap makes
    the seed genuinely reshuffle buckets and ranks. Ids are pre-reduced
    mod P so no intermediate exceeds ~2⁵² — identical arithmetic in any
    engine's 64-bit integers, no overflow wrap to depend on.

    Self-pairs (anchor == candidate) are excluded. Fully deterministic
    for a fixed seed — every engine and every cluster size derives the
    identical sample, which is what makes the op oracle-checkable and
    re-runnable without persisting the draw. All integer arithmetic —
    no engine-specific hash in the contract.

    Returns ``(anchor_id, pool_id, neg_rank)`` with ``neg_rank`` ∈
    [1, k]. Anchors whose probed buckets hold fewer than ``k``
    candidates return fewer rows (raise ``probe_buckets`` if that
    matters).
    """
    from pyspark.sql import Window

    P = _HASH_PRIME
    a = anchors.select(F.col("anchor_id").cast("long").alias("__aid")).distinct()
    p = pool.select(F.col("pool_id").cast("long").alias("__pid")).distinct()
    if n_buckets is None:
        target = max(8 * k, 2 * probe_buckets)
        pool_n = p.count()
        n_buckets = max(probe_buckets, -(-probe_buckets * pool_n // target))
    am = F.pmod(F.col("__aid"), F.lit(P))
    pm = F.pmod(F.col("__pid"), F.lit(P))
    pb = p.withColumn(
        "__bucket",
        F.pmod(F.pmod(pm * _MIX + seed, F.lit(P)) * _KNUTH, F.lit(n_buckets)),
    )
    probes = a.select(
        "__aid",
        F.explode(
            F.sequence(F.lit(0), F.lit(probe_buckets - 1))
        ).alias("__j"),
    ).select(
        "__aid",
        F.pmod(
            F.pmod(am * _KNUTH + seed, F.lit(P)) * _MIX + F.col("__j"),
            F.lit(n_buckets),
        ).alias("__bucket"),
    ).distinct()
    cands = probes.join(pb, "__bucket").filter(F.col("__aid") != F.col("__pid"))
    rank_key = F.pmod(
        F.pmod(am * _MIX + pm * _KNUTH + seed, F.lit(P)) * _KNUTH, F.lit(P)
    )
    w = Window.partitionBy("__aid").orderBy(rank_key.asc(), F.col("__pid").asc())
    return (
        cands.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            F.col("__aid").alias("anchor_id"),
            F.col("__pid").alias("pool_id"),
            "neg_rank",
        )
    )
