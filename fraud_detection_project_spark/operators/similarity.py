"""Similarity search over embedding columns (``array<float>``).

North-star ANN surface for the ``embeddings`` table (SURVEY.md §7
Phase 5):

- :func:`cosine_topk` — exact brute-force top-k for one query vector.
  Distributed scan + TakeOrderedAndProject: every partition keeps a
  k-heap, only k rows cross to the driver. The correctness baseline.
- :func:`ann_topk_lsh` — sign-random-projection (hyperplane) LSH: a
  b-bit bucket per row, candidates = rows whose bucket is within
  ``probe_hamming`` of the query's bucket, exact cosine re-rank inside
  the candidate set. At 100 TB the bucket column is computed once and
  persisted/partitioned; each query touches only matching buckets
  (partition pruning on bucket).
- :func:`cosine_near_dup_pairs` — embedding near-duplicate pairs via
  the same bucketing (per-bucket self-join + exact cosine ≥ threshold).
- :func:`ivf_topk` — IVF-style variant: k-means-ish coarse centroids
  (sampled seeds, one Lloyd step in the engine), rows assigned to
  nearest centroid; queries probe the ``nprobe`` nearest centroids.

All vector math is ``zip_with``/``aggregate`` column arithmetic
(functions/vectors.py) — JVM-side, no Python crossing.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import cosine_similarity, dot, l2_norm


def _query_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k ``vec_id`` by cosine similarity of ``embedding`` to
    ``query``. Deterministic tiebreak on id. Plan: narrow map + TakeOrderedAndProject (no global
    sort; k rows per partition → k rows total)."""
    q = _query_lit(query)
    sim = cosine_similarity(F.col("embedding"), q)
    return (
        df.select(F.col("vec_id"), sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim").isNotNull())
        .orderBy(F.desc("cosine_sim"), F.col("vec_id"))
        .limit(k)
    )


def _matrix_lit(m: "np.ndarray") -> Column:
    """Constant array<array<double>> — folds to a single Literal, so the
    expression tree stays O(1) regardless of (rows × dim)."""
    return F.array(*[F.array(*[F.lit(float(x)) for x in row]) for row in m])


def hyperplane_bucket(
    vec_col: Column | str, dim: int | None, bits: int = 16
) -> Column:
    """Sign-random-projection bucket id: bit i = sign(v · r_i) for
    ``bits`` Gaussian hyperplanes drawn with seed 42.

    Arrow-batched gemm kernel: the batch's vectors multiply the plane
    matrix in one BLAS call, signs pack into the bucket int. A pure
    column form exists (HOFs over a folded plane literal) but Spark
    interprets HOF lambdas — measured ~100× slower at bits×dim×rows
    scale, and this bucket pass fronts every LSH operator.

    ``dim=None`` derives the dimensionality lazily from the first
    non-null vector each worker sees (no extra driver job). The plane
    draw depends only on (bits, dim), so
    every worker rebuilds the IDENTICAL matrix — bit-equal to passing
    the true ``dim`` explicitly."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = None if dim is None else np.random.RandomState(42).normal(
        size=(bits, dim)
    )
    weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64)).astype(np.int64)

    def bucket(vs):
        nonlocal planes
        res = [None] * len(vs)
        valid = [i for i, v in enumerate(vs) if v is not None]
        if valid:
            m = np.asarray([list(vs.iloc[i]) for i in valid], dtype=np.float64)
            if planes is None:
                planes = np.random.RandomState(42).normal(
                    size=(bits, m.shape[1])
                )
            if m.shape[1] != planes.shape[1]:
                # Ragged corpora must fail loudly on BOTH dim paths:
                # with lazy dim, different workers would
                # otherwise derive different plane matrices from their
                # first batch and emit incomparable buckets silently.
                raise ValueError(
                    f"hyperplane_bucket: vector width {m.shape[1]} != "
                    f"plane width {planes.shape[1]} — ragged embedding "
                    "column (inconsistent vector lengths across rows)"
                )
            b = ((m @ planes.T > 0) * weights).sum(axis=1).astype(np.int64)
            for j, i in enumerate(valid):
                res[i] = int(b[j])
        return pd.Series(res, dtype="Int64")

    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return pandas_udf(bucket, returnType="long")(c)


def ann_topk_lsh(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    bits: int = 12,
    probe_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k: candidates share a hyperplane bucket within
    ``probe_hamming`` bits of the query's bucket, then exact cosine
    re-rank. Recall/cost dial: more probe bits or fewer bucket bits →
    more candidates."""
    dim = len(query)
    bucket = hyperplane_bucket("embedding", dim, bits)
    rng = np.random.RandomState(42)
    planes = rng.normal(size=(bits, dim))
    qbucket = 0
    for i in range(bits):
        if float(np.dot(planes[i], np.asarray(query))) > 0:
            qbucket |= 1 << i

    cand = df.withColumn("__bucket", bucket).filter(
        F.bit_count(F.col("__bucket").bitwiseXOR(F.lit(qbucket))) <= probe_hamming
    )
    return cosine_topk(cand, query, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 12,
    dim: int | None = None,
    bucket_col: str | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: exact cosine ≥ threshold among
    pairs sharing a hyperplane bucket (high-cosine pairs agree on sign
    bits with high probability).

    Plan: bucket id per row (JVM column arithmetic) → shuffle by bucket
    → per-bucket blocked gemm in an Arrow kernel. The candidate product
    exists only inside buckets, and within a bucket the pairwise cosine
    is one BLAS product — the per-pair expression form was interpreted
    and ~10× slower. Per-group memory is O(bucket_size²); size buckets
    via ``bits``.

    ``bucket_col``: use an existing partitioning column (e.g. a k-means
    cluster id) as the candidate blocks instead of hyperplane buckets —
    the SemDeDup composition (semantic_dedup below)."""
    import pandas as pd
    from pyspark.sql import types as T2

    if bucket_col is not None:
        bucket = F.col(bucket_col)
    else:
        # dim=None resolves lazily inside the bucket kernel — no
        # .first() driver job on the default path.
        bucket = hyperplane_bucket("embedding", dim, bits)
    bucketed = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        bucket.alias("bucket"),
    ).filter(F.col("v").isNotNull())

    thr = float(threshold)
    out_schema = T2.StructType(
        [
            T2.StructField("id_a", T2.LongType()),
            T2.StructField("id_b", T2.LongType()),
            T2.StructField("cosine_sim", T2.DoubleType()),
        ]
    )

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["id"].to_numpy()
        mat = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        keep = norms > 0
        ids, mat = ids[keep], mat[keep] / norms[keep][:, None]
        if ids.size < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        sims = mat @ mat.T
        bi, bj = np.nonzero(sims >= thr)
        ga, gb = ids[bi], ids[bj]
        m = ga < gb
        return pd.DataFrame(
            {"id_a": ga[m], "id_b": gb[m], "cosine_sim": sims[bi[m], bj[m]]}
        )

    return bucketed.groupBy("bucket").applyInPandas(kernel, out_schema)


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize rows to seeded sample centroids
    (one assignment pass, computed as column arithmetic against
    broadcast centroid literals), probe the ``nprobe`` centroids nearest
    the query, exact re-rank inside probed cells.

    The centroid "training" is deliberately cheap — a seeded sample of
    ``n_centroids`` rows — because IVF recall depends far more on
    ``nprobe`` than on centroid quality. At scale the assignment column
    is precomputed and the table is partitioned by cell → probing is
    partition pruning.
    """
    # deterministic seeded sample via hash order: ONE
    # TakeOrderedAndProject job, n_centroids rows to the driver
    # (rdd.takeSample would run a count job + a sample job and pull
    # through the RDD path)
    sample = (
        df.select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(42)))
        .limit(n_centroids)
        .collect()
    )
    centroids = [list(map(float, r["embedding"])) for r in sample]

    # squared distance to every centroid via higher-order functions over
    # one constant centroid matrix (O(1) expression nodes — see
    # hyperplane_bucket); cell = argmin.
    dists = F.transform(
        _matrix_lit(np.asarray(centroids)),
        lambda cv: F.aggregate(
            F.zip_with(
                F.col("embedding"),
                cv,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ),
    )
    assign = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    qarr = np.asarray(query, dtype=np.float64)
    order = sorted(
        range(len(centroids)),
        key=lambda ci: float(np.sum((np.asarray(centroids[ci]) - qarr) ** 2)),
    )
    probed = order[:nprobe]
    cand = df.withColumn("__cell", assign).filter(F.col("__cell").isin(probed))
    return cosine_topk(cand, query, k)


def cosine_all_pairs_exact(
    df: DataFrame,
    threshold: float,
    block_rows: int = 4096,
) -> DataFrame:
    """Exact all-pairs cosine similarity ≥ threshold — distributed
    blocked matmul, no driver-side data collect.

    Plan (the classic block self-join):

    1. each row hashes to one of B blocks (``B = ceil(n / block_rows)``,
       sized by one cheap ``count()`` aggregate — the only driver
       round-trip, a scalar);
    2. one JVM-side ``collect_list`` aggregation packs each block into a
       single row (ids + vectors);
    3. the B-row packed frame self-joins on ``block_a <= block_b`` —
       B(B+1)/2 tiny metadata rows, each carrying two blocks;
    4. an Arrow ``mapInPandas`` kernel normalizes both blocks and runs
       one BLAS gemm per block pair, emitting only pairs above the
       threshold with ``id_a < id_b``.

    Work and memory are O((n/B)²·d) per task and spread over B(B+1)/2
    independent tasks — every scale knob is ``block_rows``. The
    expression-level form (self-join + per-pair HOF dot product) was
    measured 200s at 5k×5k on local[4]; a prior form collected the full
    matrix to the driver (scale ceiling ~1M×256) — this one never moves
    the data through the driver. O(n²) pair *work* is inherent to exact
    all-pairs; past that use :func:`cosine_near_dup_pairs` (LSH) — this
    operator is its exact oracle anchor.
    """
    import pandas as pd

    src = df.select(
        F.col("vec_id").cast("long").alias("__id"), F.col("embedding").alias("__v")
    ).filter(F.col("__v").isNotNull())

    n = src.count()
    if n == 0:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine_sim double"
        )
    n_blocks = max(1, math.ceil(n / block_rows))

    packed = (
        src.withColumn(
            "__block", F.pmod(F.xxhash64("__id"), F.lit(n_blocks)).cast("int")
        )
        .groupBy("__block")
        .agg(
            F.collect_list(F.struct("__id", "__v")).alias("__rows"),
        )
    )

    a = packed.select(
        F.col("__block").alias("__ba"), F.col("__rows").alias("__rows_a")
    )
    b = packed.select(
        F.col("__block").alias("__bb"), F.col("__rows").alias("__rows_b")
    )
    pairs = a.join(b, F.col("__ba") <= F.col("__bb"))

    thr = float(threshold)
    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def unpack(rows):
        ids = np.asarray([r["__id"] for r in rows], dtype=np.int64)
        mat = np.asarray([list(r["__v"]) for r in rows], dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        keep = norms > 0
        return ids[keep], mat[keep] / norms[keep][:, None]

    def kernel(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a, mat_a = unpack(row["__rows_a"])
                same = row["__ba"] == row["__bb"]
                if same:
                    ids_b, mat_b = ids_a, mat_a
                else:
                    ids_b, mat_b = unpack(row["__rows_b"])
                if ids_a.size == 0 or ids_b.size == 0:
                    continue
                sims = mat_a @ mat_b.T
                bi, bj = np.nonzero(sims >= thr)
                if bi.size == 0:
                    continue
                ga, gb = ids_a[bi], ids_b[bj]
                if same:
                    # the gemm is symmetric: keep each pair once (and
                    # drop the diagonal) via the id order
                    m = ga < gb
                    lo, hi = ga, gb
                else:
                    # cross-block: each pair appears exactly once
                    # (block_a < block_b); normalize the id order
                    m = np.ones(ga.shape, dtype=bool)
                    lo, hi = np.minimum(ga, gb), np.maximum(ga, gb)
                if not m.any():
                    continue
                yield pd.DataFrame(
                    {
                        "id_a": lo[m],
                        "id_b": hi[m],
                        "cosine_sim": sims[bi[m], bj[m]],
                    }
                )

    # one block pair per task: the unit of work is the gemm, so spread
    # the B(B+1)/2 pairs across the cluster instead of batching them
    n_pairs = n_blocks * (n_blocks + 1) // 2
    return pairs.repartition(min(n_pairs, 2048)).mapInPandas(kernel, out_schema)


def quantize_int8(df: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the storage-side
    compression step of an embedding pipeline (4× smaller than float32,
    8× smaller than float64; ANN distance kernels then run on int8).

    Per vector: ``scale = max|x| / 127`` (1.0 for all-zero vectors),
    ``q_i = floor(x_i / scale + 0.5)`` — floor(+0.5) instead of round()
    so the rounding rule is engine-independent (banker's vs half-away
    ties can differ between numpy/JVM/SQL; floor cannot).

    Output: (vec_id, scale, q array<tinyint>, sum_q, n_sat, max_err) —
    the trailing three are quality telemetry (saturated-lane count and
    worst reconstruction error) computed in the same Arrow pass for
    free. One narrow mapInPandas-style projection, no shuffle; all math
    float64 so a SQL oracle reproduces it bit-for-bit.

    No reference equivalent (reference has no embedding ops); north-star
    §2 similarity family.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def kernel(vs):
        n = len(vs)
        out = {
            "scale": [None] * n,
            "q": [None] * n,
            "sum_q": [None] * n,
            "n_sat": [None] * n,
            "max_err": [None] * n,
        }
        for i, v in enumerate(vs):
            if v is None:
                continue
            x = np.asarray(list(v), dtype=np.float64)
            m = float(np.max(np.abs(x))) if x.size else 0.0
            scale = m / 127.0 if m > 0 else 1.0
            q = np.floor(x / scale + 0.5)
            out["scale"][i] = scale
            out["q"][i] = [int(t) for t in q]
            out["sum_q"][i] = int(q.sum())
            out["n_sat"][i] = int((np.abs(q) == 127.0).sum())
            out["max_err"][i] = float(np.max(np.abs(q * scale - x))) if x.size else 0.0
        return pd.DataFrame(out)

    packed = pandas_udf(
        kernel,
        returnType=(
            "struct<scale: double, q: array<tinyint>, sum_q: bigint,"
            " n_sat: bigint, max_err: double>"
        ),
    )(F.col("embedding"))
    return df.select(F.col("vec_id"), packed.alias("_z")).select(
        "vec_id", "_z.scale", "_z.q", "_z.sum_q", "_z.n_sat", "_z.max_err"
    )


def random_project(
    df: DataFrame,
    dim: int,
    out_dim: int = 16,
) -> DataFrame:
    """Johnson-Lindenstrauss Gaussian random projection:
    ``y = R x / sqrt(out_dim)`` with R ~ N(0,1)^(out_dim x dim), seed 42.

    The JL lemma makes this the standard dimensionality crusher in
    front of ANN / clustering at scale: pairwise distances survive to
    within (1±ε) w.h.p. for out_dim = O(ε⁻² log n) — independent of the
    input dimension. E[|y_a−y_b|²] = |x_a−x_b|² exactly, per-pair
    squared-ratio variance 2/out_dim.

    Arrow-batched gemm kernel (same shape as hyperplane_bucket: one
    BLAS call per batch against the broadcast-by-closure plane matrix);
    a narrow projection, no shuffle. ``dim`` is explicit so no driver
    job runs to sniff the width. Replaces ``embedding`` with the
    projected array<double>, other columns pass through.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rng = np.random.RandomState(42)
    planes = rng.normal(size=(out_dim, dim)) / np.sqrt(out_dim)

    def kernel(vs):
        res = [None] * len(vs)
        valid = [i for i, v in enumerate(vs) if v is not None]
        if valid:
            m = np.asarray([list(vs.iloc[i]) for i in valid], dtype=np.float64)
            y = m @ planes.T
            for j, i in enumerate(valid):
                res[i] = [float(t) for t in y[j]]
        return pd.Series(res)

    proj = pandas_udf(kernel, returnType="array<double>")(F.col("embedding"))
    return df.withColumn("embedding", proj)


def semantic_dedup(
    df: DataFrame,
    k: int = 32,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal
    over an embedding column. Cluster with seeded k-means, find exact
    cosine >= threshold pairs WITHIN clusters only (the cluster
    assignment bounds the candidate product — the paper's trick for
    web scale), collapse dup pairs to connected components, keep the
    lowest-id member of each component plus every untouched vector.

    Returns ``(id, cluster, keep)``. Cross-cluster near-dups are missed
    by construction (same recall trade the paper makes); raise ``k``
    for tighter clusters and cheaper pair blocks, lower it for recall.
    Composition: ml/clustering.py:kmeans_assign → per-cluster blocked
    gemm (cosine_near_dup_pairs bucket_col path) →
    operators/dedup.py:connected_components.
    """
    from ..ml.clustering import kmeans_assign, kmeans_fit
    from .dedup import connected_components

    model = kmeans_fit(df, k=k)
    assigned = kmeans_assign(df, model).select(
        F.col("vec_id"), F.col("embedding"), F.col("cluster")
    )
    pairs = cosine_near_dup_pairs(
        assigned,
        threshold=threshold,
        bucket_col="cluster",
    )
    cc = connected_components(pairs, src="id_a", dst="id_b")
    reps = cc.select(
        F.col("id"), (F.col("id") == F.col("cluster_id")).alias("__keep_dup")
    )
    return (
        assigned.select(F.col("vec_id").alias("id"), "cluster")
        .join(reps, "id", "left")
        .select(
            "id",
            "cluster",
            F.coalesce(F.col("__keep_dup"), F.lit(True)).alias("keep"),
        )
    )
