"""Document deduplication operators — exact and near-dup — for
training-data pipelines over the ``documents`` table.

No reference equivalent (the reference's only dedup is full-row
``drop_duplicates``, ``clean_data.py:37-42`` = operators/cleaning.py);
these are the north-star text-dedup family, each designed for the
100 TB regime:

- **exact**: hash-groupBy on normalized text — one shuffle keyed by a
  64-bit fingerprint, never by the text itself.
- **MinHash + LSH banding**: signature = k affine permutations of one
  base shingle hash (one pass over shingles); band keys bucket-join
  candidates so the cross product only forms *within* buckets.
- **SimHash**: 64-bit weighted-bit fingerprint; near-dups share chunked
  band keys (Hamming-distance blocking).
- **n-gram Jaccard**: exact verification — explode shingles, self-join
  on shingle, count-intersect. A document-frequency cutoff drops
  stop-shingles so no hot key explodes the join (skew guard).

Everything is pure DataFrame ops; hashes are ``xxhash64`` (JVM,
whole-stage codegen). No Python in any hot path.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.text import alnum_tokens, normalized_text
from ..lineage import release_checkpoint

def spread_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input has at most half as many
    splits as the default parallelism (e.g. one compacted parquet file):
    heavy per-row text kernels would otherwise run single-threaded
    regardless of cluster size. No-op when the scan already has enough
    splits — the common case at scale. (Measured: the sf0.1 documents
    table is one file; shingling it single-threaded costs 4x the
    balanced run.)"""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of the normalized text → array<string>.
    Documents shorter than n words yield their whole text as the single
    shingle (so they can still exact-match).

    Tokenization stays JVM-side (``alnum_tokens``, one regex pass:
    feeding the kernel the token ARRAY instead of the
    normalized string drops the 10×-slower regexp_replace pass AND the
    in-kernel re-split, see functions/text.py); the sliding join
    crosses to an Arrow-batched kernel — the column form
    (transform(sequence) with a slice+concat per position) is
    interpreted per shingle and measured ~20× slower at corpus scale.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def shingle(tok_arrays):
        out = []
        for toks in tok_arrays:
            if toks is None:
                out.append(None)
                continue
            toks = list(toks)
            if len(toks) >= n:
                out.append([" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)])
            else:
                out.append([" ".join(toks)])
        return pd.Series(out, dtype=object)

    return pandas_udf(shingle, returnType="array<string>")(alnum_tokens(col))


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup by normalized ``text``: one row per distinct text with
    the smallest ``doc_id`` as survivor + the duplicate count.

    The shuffle key is the xxhash64 fingerprint (8 bytes), not the text
    — at 100 TB this is the difference between shuffling hashes and
    shuffling the corpus. (Hash collisions at 64 bits: ~n²/2⁶⁵ — for
    10¹¹ docs ≈ 0.3 expected; acceptable for dedup, and a collision only
    merges two unrelated docs, never loses both.)
    """
    fp = F.xxhash64(normalized_text("text"))
    return (
        df.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_signature(col: Column | str, num_hashes: int = 64) -> Column:
    """MinHash signature as array<long>: h_i = min over word 3-gram
    shingles of ``x·a_i + b_i`` in wrapping 64-bit arithmetic,
    x = xxhash64(shingle), with coefficients drawn from seed 42.

    Odd ``a_i`` makes each map a bijection of Z/2⁶⁴ (the standard cheap
    permutation family for MinHash). One base string-hash pass +
    ``num_hashes`` integer multiply-adds — NOT num_hashes string
    hashings. All inside one column expression, JVM-side.
    """
    import random

    rng = random.Random(42)
    coeffs = [
        (rng.randrange(0, 1 << 63) | 1, rng.randrange(0, 1 << 63))  # odd a → bijection
        for _ in range(num_hashes)
    ]
    base = F.transform(word_shingles(col, 3), lambda s: F.xxhash64(s))
    # String hashing stays JVM-side (one xxhash64 pass over shingles);
    # the num_hashes×shingles multiply-add/min fold crosses to numpy via
    # Arrow. A pure column form exists (aggregate + zip_with updating all
    # mins per shingle) but Spark evaluates HOF lambdas interpreted, and
    # the measured cost is ~4× this vectorized kernel.
    return _minhash_fold_udf(coeffs)(base)


def _minhash_fold_udf(coeffs: list[tuple[int, int]]):
    """Arrow-batched fold: sig[i] = min over shingle hashes x of
    ``x·a_i + b_i`` in wrapping 64-bit arithmetic, signed-min — the same
    values the JVM's long arithmetic produces. Empty shingle set → the
    max-long sentinel signature."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    a_arr = np.asarray([a for a, _ in coeffs], dtype=np.uint64)
    b_arr = np.asarray([b for _, b in coeffs], dtype=np.uint64)
    sentinel = [(1 << 63) - 1] * len(coeffs)

    def fold(hashes):
        out = []
        with np.errstate(over="ignore"):
            for arr in hashes:
                if arr is None:
                    out.append(None)
                    continue
                x = np.asarray(arr, dtype=np.int64).view(np.uint64)
                if x.size == 0:
                    out.append(list(sentinel))
                    continue
                prods = x[:, None] * a_arr[None, :] + b_arr[None, :]
                out.append(prods.view(np.int64).min(axis=0).tolist())
        return pd.Series(out, dtype=object)

    return pandas_udf(fold, returnType="array<long>")


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """MinHash LSH candidate pairs: ``(id_a, id_b, sig_agreement)`` over
    ``doc_id`` for documents whose ``text`` shares ≥1 band bucket.
    ``sig_agreement`` (fraction of matching signature slots) estimates
    Jaccard similarity.

    Plan shape: signature (narrow) → explode bands (×bands) → shuffle on
    (band_idx, band_hash) → within-bucket self-join → distinct pairs.
    The pair product exists only inside buckets, which is the entire
    point of banding.
    """
    rows_per_band = num_hashes // bands
    sig = spread_input(df).select(
        F.col("doc_id").alias("id"),
        minhash_signature("text", num_hashes).alias("sig"),
    )
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("id", "sig", "band.band_idx", "band.band_hash")

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    agreement = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return pairs.select("id_a", "id_b", agreement.alias("sig_agreement"))


def _simhash_fold_udf():
    """Arrow-batched fold of token-hash arrays into 64-bit SimHash.

    bit j of the output is 1 iff #{tokens with bit j set} · 2 > #tokens —
    i.e. the ±1 vote over token hash bits is positive. Token hashing
    stays JVM-side (xxhash64); only the 64-way bit vote crosses to
    numpy. A pure higher-order-function form exists but Spark evaluates
    HOF lambdas interpreted (outside codegen), and a per-token 64-wide
    CASE-WHEN array is ~10× slower than this vectorized kernel.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type annotations: `from __future__ import annotations` turns them
    # into strings pyspark can't resolve here; register as scalar instead.
    def fold(hashes):
        shifts = np.arange(64, dtype=np.uint64)
        out: list[int | None] = []
        for arr in hashes:
            if arr is None:
                out.append(None)
                continue
            a = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if a.size == 0:
                out.append(0)
                continue
            ones = ((a[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            sh = ((ones * 2 > a.size).astype(np.uint64) << shifts).sum(
                dtype=np.uint64
            )
            out.append(int(sh.astype(np.int64)))
        return pd.Series(out, dtype="Int64")

    return pandas_udf(fold, returnType="long")


def simhash(col: Column | str) -> Column:
    """64-bit SimHash of the token set: bit j of the output is 1 iff the
    ±1 vote (sign of bit j of xxhash64(token)) over tokens is positive.
    """
    tok_hashes = F.transform(alnum_tokens(col), lambda t: F.xxhash64(t))
    return _simhash_fold_udf()(tok_hashes)


def simhash_near_dup_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs of ``doc_id`` over ``text``:
    Hamming(a,b) ≤ max_hamming.

    Blocking: split the 64-bit hash into ``max_hamming+1`` 16-bit chunks
    — by pigeonhole, any pair within the Hamming budget agrees on at
    least one chunk, so the self-join runs per (chunk_idx, chunk_value)
    bucket, never globally.
    """
    n_chunks = max(max_hamming + 1, 4)
    chunk_bits = 64 // n_chunks
    sh = spread_input(df).select(F.col("doc_id").alias("id"), simhash("text").alias("sh"))
    mask = (1 << chunk_bits) - 1
    chunks = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright(F.col("sh"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "sh", "c.chunk_idx", "c.chunk_val")

    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def _shingle_pair_common(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_shingle_df: int,
) -> DataFrame:
    """Shared inverted-index pair stage of :func:`ngram_jaccard_pairs` /
    :func:`ngram_containment_pairs`: ``(id_a, id_b, n_a, n_b, common)``
    with ``id_a < id_b`` — common distinct word 3-gram shingles per
    candidate pair, hot shingles (document frequency >
    ``max_shingle_df``) dropped.

    Shingles fold to ``xxhash64`` BEFORE the inverted index
    materializes: downstream only ever compares shingles for EQUALITY,
    so every stage carries 8-byte longs instead of ~24-byte 3-word
    strings — measured −29% on the whole pair stage at sf0.1. A 2⁻⁶⁴
    per-pair collision is accepted, exactly as in exact_dedup /
    ngram_contamination / the hashed ROUGE grams.

    Pair-candidate shape (no self-join shuffle): ONE
    ``groupBy(shingle)`` gathers each shingle's posting list as a
    sorted array of (id, n_sh) structs; candidate pairs expand INSIDE
    the array via codegen-planned array functions (the
    ``co_occurrence_edges`` shape) and one final
    ``groupBy(id_a, id_b)`` counts common shingles.

    Stop-shingle guard: hot shingles (document frequency >
    ``max_shingle_df``) are pruned BEFORE the posting-list
    aggregation. Filtering ``size(__docs)`` AFTER ``collect_list``
    would let a shingle present in millions of docs materialize its
    whole posting list in ONE aggregation buffer — unbounded memory at
    the 100 TB design point. The guard is the constant-memory
    count-aggregate form: a
    map-side-combined ``groupBy(shingle).count()`` (shuffles one
    (shingle, partial-count) row per shingle per task, never a list)
    names the tiny over-threshold set, and a ``left_anti`` join drops
    those rows from the exploded index before any list is collected —
    AQE broadcasts the hot set when it is small (the normal case) and
    falls back to a spillable sort-merge anti-join when it is not.
    Per-group arrays are therefore bounded at ``max_shingle_df``
    entries BY CONSTRUCTION (a capped group expands to ≤ C(max_df, 2)
    pairs in-array — the identical candidate count the old self-join
    produced as rows). Kept-group posting lists and the dropped-group
    set are exactly those of the post-aggregation filter, so results
    are unchanged. The strict ``id_a < id_b`` filter reproduces the
    old join predicate exactly, including under duplicate input ids.
    """
    sh = spread_input(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(text_col, 3)).alias("shingles"),
    ).withColumn("n_sh", F.size("shingles"))
    # materialize the inverted index once: the shingle kernel must not
    # re-run when a caller's plan references the returned frame more
    # than once (measured 11s -> 4s at sf0.1)
    exploded = (
        sh.select("id", "n_sh", F.explode("shingles").alias("__s"))
        .select("id", "n_sh", F.xxhash64("__s").alias("shingle"))
        .localCheckpoint(eager=True)
    )

    # stop-shingle skew guard (a shingle shared by d docs contributes
    # d² candidate pairs): prune hot shingles BEFORE collecting any
    # posting list, so no aggregation buffer ever exceeds
    # max_shingle_df entries (see docstring). The count
    # aggregate is map-side combined; the hot set is tiny, so AQE
    # turns the anti-join into a broadcast.
    hot = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_shingle_df)
        .select("shingle")
    )
    # sort_array orders structs by (id, n_sh) — ascending id — so
    # in-array expansion of index pairs i<j yields id_a <= id_b.
    posting = (
        exploded.join(hot, "shingle", "left_anti")
        .groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("id", "n_sh"))).alias("__docs"))
    )
    pair_arr = F.flatten(
        F.transform(
            "__docs",
            lambda x, i: F.transform(
                F.slice("__docs", i + F.lit(2), F.size("__docs")),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["n_sh"].alias("n_a"),
                    y["n_sh"].alias("n_b"),
                ),
            ),
        )
    )
    return (
        posting.select(F.explode(pair_arr).alias("__p"))
        .select("__p.id_a", "__p.id_b", "__p.n_a", "__p.n_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Exact word 3-gram Jaccard similarity for pairs above ``threshold``.

    Inverted-index plan (see :func:`_shingle_pair_common` for the
    shared pair stage and its scale/skew contract): per-shingle
    posting lists → in-array pair expansion → count common shingles
    per pair → Jaccard = common / (|A| + |B| − common).

    The returned frame is ``localCheckpoint(eager=False)``-materialized
    on first action: checkpoint blocks are executor-local
    and unreplicated, so on a real cluster an executor loss AFTER
    materialization fails downstream actions of this frame (lineage is
    truncated — no recompute) and blocks are retained until the frame
    is garbage-collected. That trade is deliberate here: the pair
    frame is small (threshold-filtered), graph consumers re-read it
    several times, and re-deriving it re-runs the whole posting/expand
    stage. Callers needing fault-tolerant recompute should re-derive
    from the inputs rather than hold this frame across long jobs.
    """
    common = _shingle_pair_common(df, text_col, id_col, max_shingle_df)
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    ).cast("double")
    # lazy-materialize the (small, threshold-filtered) pair frame:
    # graph consumers reference it twice (symmetrize unions / edge
    # closures re-read the plan per branch), which re-ran the whole
    # posting+expand+agg stage per reference. Measured at ~sf1
    # (interleaved best-of-4): pagerank-over-pairs 4.88 →
    # 4.11 s, pairs→CC 4.47 → 3.96 s (single-consumer paths also win:
    # the pair stage completes as its own bounded job). Lazy, so the
    # first action pays the compute inside its own timed window —
    # plan reuse within one query, never a cross-run cache.
    return common.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    ).localCheckpoint(eager=False)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    local_threshold_edges: int = 32_000_000,
) -> DataFrame:
    """Connected components over an undirected edge list → one row per
    node ``(id, cluster_id)`` where ``cluster_id`` is the smallest node
    id in the component. Nodes appear only if they touch ≥1 edge.

    This is the canonical *last* step of a near-dup pipeline: pair
    emitters (MinHash/SimHash/Jaccard/embedding) produce edges; this
    collapses them into duplicate clusters so one canonical doc per
    cluster survives.

    Input edges are orientation-normalized (min, max) and checkpointed
    once, without a dedup: both paths are duplicate-insensitive, and a
    distinct fused onto the cached scan starves the memory pool at
    scale. When that edge list has at most ``local_threshold_edges``
    rows it is streamed into one task and labelled there (min-label
    propagation with pointer jumping, vectorized numpy, exact).

    Above the threshold: alternating large-star / small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14),
    O(log n) rounds, no intermediate edge set bigger than the graph.
    Each star takes ``m(u)`` as ``min(v) OVER (PARTITION BY u)`` — a
    window, not an aggregate joined back to the edges — so a round is
    three exchanges: large_star's window, its terminal
    ``repartition(u)`` + ``distinct`` (which already satisfies
    small_star's window partitioning) and small_star's ``distinct``.
    Each round ends in one eager DISK_ONLY ``localCheckpoint``; an
    ``Observation`` on that checkpoint's own job yields the round's
    fingerprint ``(count, sum(xxhash64(u, v)))``, and the loop stops
    when two consecutive rounds give the same one — no driver action
    beyond the checkpoint. No fixpoint within 25 rounds raises.
    """
    size = Observation()
    e = (
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .observe(size, F.count(F.lit(1)).alias("n"))
        # materialized once: the endgame or every star round re-reads
        # it. Default MEMORY_AND_DISK: the local endgame streams it into
        # one task, which is twice as slow from DISK_ONLY.
        .localCheckpoint(eager=True)
    )

    # The raw (pre-dedup) row count is what the one task would receive.
    if size.get["n"] <= local_threshold_edges:

        def _local_cc(batches):
            import numpy as np
            import pandas as pd

            ups, vps = [], []
            for pdf in batches:
                ups.append(pdf["u"].to_numpy())
                vps.append(pdf["v"].to_numpy())
            if not ups:
                return
            us = np.concatenate(ups)
            vs = np.concatenate(vps)
            m = len(us)
            # hash-based compaction; codes are first-seen order, so the
            # propagated label is a representative INDEX and the min
            # node id per component is restored by the scatter-min below
            codes, uniq = pd.factorize(np.concatenate([us, vs]))
            uniq = np.asarray(uniq, dtype=np.int64)
            ui = codes[:m]
            vi = codes[m:]
            lab = np.arange(len(uniq), dtype=np.int64)
            while True:
                old = lab.copy()
                np.minimum.at(lab, ui, lab[vi])
                np.minimum.at(lab, vi, lab[ui])
                while True:
                    jumped = lab[lab]
                    if np.array_equal(jumped, lab):
                        break
                    lab = jumped
                if np.array_equal(lab, old):
                    break
            minid = np.full(len(uniq), np.iinfo(np.int64).max, dtype=np.int64)
            np.minimum.at(minid, lab, uniq)
            yield pd.DataFrame({"id": uniq, "cluster_id": minid[lab]})

        # stream the checkpointed partitions into the one task, no shuffle
        return e.coalesce(1).mapInPandas(
            _local_cc, "id long, cluster_id long"
        )

    by_u = Window.partitionBy("u")

    def large_star(E: DataFrame) -> DataFrame:
        # m(u) = min(N(u) ∪ {u}) over both directions; emit (v, m(u))
        # for v > u, partitioned on the emitted source for small_star
        return (
            E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .select("u", "v", F.least(F.min("v").over(by_u), "u").alias("m"))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .repartition("u")
            .distinct()
        )

    def small_star(E: DataFrame) -> DataFrame:
        # edges point big→small; m(u) = min(N(u)); emit (x, m) for
        # x ∈ N(u) ∪ {u}, x ≠ m
        star = F.array(
            F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
            F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
        )
        return (
            E.select("u", "v", F.min("v").over(by_u).alias("m"))
            .select(F.inline(star))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    prev = None
    for _ in range(25):
        fp = Observation()
        superseded = e
        e = (
            small_star(large_star(e))
            .observe(fp, F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64("u", "v")).alias("h"))
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
        release_checkpoint(superseded)
        cur = (fp.get["n"], fp.get["h"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError("connected_components: no convergence in 25 rounds")

    # stars: every edge is (node, root); roots label themselves
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
        .union(e.select(F.col("v").alias("id"), F.col("v").alias("cluster_id")))
        .distinct()
    )


def fuzzy_pairs_1edit(
    df: DataFrame,
    str_col: str,
    id_col: str,
) -> DataFrame:
    """All pairs within Levenshtein distance ≤ 1 — entity-resolution /
    short-string near-dup (names, SKUs, emails).

    Blocking is the SymSpell deletion-neighborhood trick: each string's
    candidate keys are itself plus every single-character deletion. Two
    strings within one edit ALWAYS share a key (substitution: delete the
    differing position from both; insert/delete: the shorter string IS a
    deletion of the longer; equality: the string itself), so the
    quadratic comparison collapses to an equi-join on deletion keys —
    shuffle keyed by short strings, candidate products only within
    buckets — then an exact ``levenshtein`` verify filter. All JVM
    expressions (HOF over a per-row-length sequence + codegen
    levenshtein); no Python.

    Generalizing to distance d needs depth-d deletion sets (O(len^d)
    keys/row) — deliberately not implemented; d=1 covers typo-class
    matching. No reference equivalent; north-star entity-resolution op.
    """
    s = F.col("s")
    # substr-based single deletions: prefix [1, i-1] + suffix [i+1, end]
    del_keys = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            F.substring(s, F.lit(1), i - 1),
            F.substring(s, i + 1, F.length(s)),
        ),
    )
    keys = F.array_distinct(F.array_append(del_keys, s))

    blocked = (
        df.select(F.col(id_col).alias("id"), F.col(str_col).alias("s"))
        .select("id", "s", F.explode(keys).alias("k"))
        .distinct()
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.s").alias("s_a"),
            F.col("b.s").alias("s_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = F.levenshtein("s_a", "s_b")
    return cand.select("id_a", "id_b", dist.alias("dist")).filter(
        F.col("dist") <= 1
    )


def ngram_contamination(
    corpus: DataFrame,
    probes: DataFrame,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: which corpus documents share at least
    one word ``n``-gram of their ``text`` with any probe (benchmark/eval)
    document — the standard 13-gram collision test run before
    training-set release.

    Returns one row per contaminated corpus doc:
    ``(doc_id, n_hit_ngrams, n_probe_docs)`` — distinct colliding
    shingles and distinct probe docs hit.

    Scale design (100 TB corpus, benchmark ≪ corpus): both sides
    shingle with the same normalization as the near-dup stack
    (:func:`word_shingles`; short docs fall back to their whole text);
    shingles fold to ``xxhash64`` BEFORE the join so the probe side's
    distinct (hash, probe_id) set is benchmark-sized. The join is
    HINT-FREE: AQE broadcasts the probe side while
    its MEASURED size is small — the benchmark-≪-corpus contract, under
    which the corpus is never shuffled — and degrades to a shuffle join
    on the 8-byte hash key if a caller feeds a corpus-sized probe set,
    instead of OOMing the driver on a forced broadcast. A 64-bit hash
    false-collision is ~2⁻⁶⁴ per candidate pair (accepted, as in
    exact_dedup).
    """
    def shingled(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(out_id),
            F.explode(
                F.array_distinct(word_shingles("text", n))
            ).alias("__sh"),
        ).select(out_id, F.xxhash64("__sh").alias("__h"))

    # (probe_id, hash) pairs are already unique: shingled() explodes
    # array_distinct per doc, and the final count_distinct absorbs the
    # ~2⁻⁶⁴ in-doc hash-collision case — no dedup pass needed
    probe_sh = shingled(probes, "__probe_id")
    corpus_sh = shingled(spread_input(corpus), "doc_id")
    hits = corpus_sh.join(probe_sh, "__h")
    return hits.groupBy("doc_id").agg(
        F.count_distinct("__h").alias("n_hit_ngrams"),
        F.count_distinct("__probe_id").alias("n_probe_docs"),
    )


def substring_contamination(
    corpus: DataFrame,
    probes: list[str],
) -> DataFrame:
    """Exact-substring decontamination: which corpus documents contain
    any of the literal ``probes`` inside their NORMALIZED ``text`` →
    ``(doc_id, probe)`` one row per (doc, probe) hit.

    The companion of :func:`ngram_contamination` for probes shorter
    than the n-gram window (a leaked answer key, a canary string, a
    PII marker): n-gram collision can't see a 3-word probe under
    n=13; substring scan can.

    Scale design: the probe list is a literal array broadcast inside
    the plan (no join, no shuffle) — one codegen ``contains`` pass
    over the corpus, exploding only the matching (doc, probe) pairs.
    Probes normalize with the same lowercase/strip pipeline as the
    corpus so punctuation variants still collide.
    """
    probe_arr = F.array(
        *[F.lit(p) for p in sorted(probes)]
    )
    norm = normalized_text("text")
    return (
        corpus.select(
            "doc_id",
            F.filter(
                probe_arr, lambda p: F.contains(norm, p)
            ).alias("__hits"),
        )
        .filter(F.size("__hits") > 0)
        .select("doc_id", F.explode("__hits").alias("probe"))
    )


def ngram_containment_pairs(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Asymmetric word 3-gram CONTAINMENT for ``doc_id`` pairs over
    ``text``: ``common / |A|`` and
    ``common / |B|`` — the quote/subset detector Jaccard misses when
    sizes differ (a 50-shingle doc fully inside a 5000-shingle doc has
    Jaccard ≈ 0.01 but containment 1.0; Broder's resemblance-vs-
    containment distinction). Returns pairs whose MAX directional
    containment ≥ ``threshold``.

    Same inverted-index plan as :func:`ngram_jaccard_pairs` (shared
    pair stage, :func:`_shingle_pair_common`): per-shingle posting
    lists behind the constant-memory stop-shingle pre-prune, in-array
    pair expansion, pair counts aggregated on (id_a, id_b). Candidate
    space is bounded by shared-shingle collisions, never the corpus
    product; shingles in more than 1000 docs are pruned. The returned
    frame is lazily ``localCheckpoint``-ed with
    the same executor-loss/retention trade documented on
    :func:`ngram_jaccard_pairs`.
    """
    common = _shingle_pair_common(df, "text", "doc_id", 1000)
    cont_a = F.col("common") / F.col("n_a")
    cont_b = F.col("common") / F.col("n_b")
    # same lazy pair-frame materialization as ngram_jaccard_pairs
    return common.select(
        "id_a", "id_b",
        cont_a.alias("containment_a"),
        cont_b.alias("containment_b"),
    ).filter(F.greatest(cont_a, cont_b) >= threshold).localCheckpoint(
        eager=False
    )
