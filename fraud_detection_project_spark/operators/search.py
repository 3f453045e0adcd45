"""Keyword search — BM25 ranking over a document corpus.

No reference equivalent (the reference has no text retrieval); this is
the retrieval primitive of a training-data / RAG pipeline: score every
document against a term list, return the top-k.

Scale design (100 TB corpus, |query| ≈ a handful of terms):

- the explode is filtered to the query's terms BEFORE any shuffle —
  ``array_intersect``-style pruning means the exploded relation carries
  at most |docs| × |terms| rows, never the full token stream.
- the corpus is TOKENIZED EXACTLY TWICE: once for the global (N, avgdl)
  aggregate, once for the combined tf+dl explode pass (per-doc length
  rides along the exploded rows, so no third scan joins lengths back).
  The compacted (doc, term, tf, dl) relation — bounded by
  |matching docs| × |terms| — is localCheckpoint-ed so the df() rollup
  and the score join don't re-derive (and re-tokenize) its lineage.
- document-frequency and corpus stats are |terms|-row / one-row
  aggregates joined back via broadcast; the only per-doc shuffle is the
  (doc_id, term) → doc_id score sum, bounded by |docs| × |terms|.
- top-k is ``ORDER BY … LIMIT k`` → TakeOrderedAndProject: k rows per
  partition cross the network, k rows reach the driver.

Scores are rounded to 4 dp *before* the final ordering so ranking is
reproducible bit-for-bit across engines (ln() may differ in the last
ulp between libm implementations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import alnum_tokens


def bm25_search(
    docs: DataFrame,
    terms: list[str],
    top_k: int = 20,
) -> DataFrame:
    """Top-k documents by BM25 (Robertson/Sparck-Jones, the Lucene
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf variant) for a bag of
    query terms, with k1 = 1.2 and b = 0.75. Returns (doc_id, bm25)
    ordered by score desc, id asc.
    """
    from .dedup import spread_input

    toked = spread_input(docs).select(
        F.col("doc_id"), alnum_tokens("text").alias("toks")
    )
    # ONE tokenization pass: the old shape
    # tokenized the corpus twice — a full pass for the one-row
    # (n, avgdl) stats aggregate and a second full pass for tf.
    # Measured at sf0.1 the two passes cost 1.56s + 2.57s while this
    # combined projection costs 1.01s (the regex normalize+split
    # dominates both). Per doc it keeps only what the two consumers
    # need — the token COUNT and the query-term hits — so the
    # materialized frame is ~|docs| narrow rows (dl + a near-empty
    # array), scale-safe where checkpointing full token arrays would
    # duplicate the corpus. Both downstream passes read these rows:
    # stats as a one-row rollup, tf by exploding the tiny hit arrays.
    per_doc = (
        toked.select(
            F.col("doc_id"),
            F.size("toks").alias("dl"),
            F.filter("toks", lambda t: t.isin(terms)).alias("qtoks"),
        )
        .localCheckpoint(eager=True)
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"), F.avg(F.col("dl")).alias("avgdl")
    )
    # (filter-before-explode ≡ explode-then-isin: same (doc, term) rows)
    tf = (
        per_doc.select(
            F.col("doc_id"), F.col("dl"), F.explode("qtoks").alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    # |matching docs| × |terms| rows — checkpoint kills lineage so the
    # df() rollup and score join don't re-tokenize the corpus
    tf = tf.localCheckpoint(eager=True)
    # df_ is ≤ |query terms| rows (tf is literal-IN-pruned to the
    # query's term bag upstream), so broadcasting it is the right plan
    # at any scale — bounded_checkpoint materializes the tiny frame and
    # registers the boundedness claim for the census (the census
    # fails closed on unregistered checkpoint broadcasts, and
    # the groupBy('term') key alone cannot prove the literal pruning
    # once the checkpoint truncates lineage)
    from ..lineage import bounded_checkpoint

    # the frame carries the distinctive name ``qdf`` (not the generic
    # ``df`` tfidf's UNBOUNDED vocabulary frame uses) so the lineage
    # registry's name-signature cannot collide across the two
    df_ = bounded_checkpoint(
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("qdf")),
        "≤ |query terms| rows: tf is literal-IN-pruned to the query's "
        "term bag before the checkpoint",
    )

    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("qdf") + 0.5) / (F.col("qdf") + 0.5)
    )
    k1, b = 1.2, 0.75
    score = idf * (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )

    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col("doc_id"), score.alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(top_k)


def tfidf_weights(docs: DataFrame) -> DataFrame:
    """Per-(doc, term) TF-IDF weights over the whole vocabulary — the
    sparse-feature twin of :func:`bm25_search` (which scores a fixed
    query term set; this weights every term for downstream vectorizers /
    keyword extraction).

    tf = term count in doc; idf = ln((N + 1) / (df + 1)) + 1 (the
    smoothed sklearn variant — never zero, defined for df = N);
    weight = tf · idf, rounded to 4 dp for cross-engine determinism.

    Scale design: same two-pass shape as BM25 — one one-row aggregate
    for N, one explode→(doc, term) count pass; document frequency rolls
    up from the compacted tf relation (checkpointed, so the corpus is
    tokenized exactly twice regardless of plan reuse), then broadcasts
    back. The output is the exploded sparse matrix, ready for a pivot
    or a feature-hash fold.
    """
    from .dedup import spread_input

    toked = spread_input(docs).select(
        F.col("doc_id"), alnum_tokens("text").alias("toks")
    )
    n_docs = toked.agg(F.count(F.lit(1)).alias("n"))

    tf = (
        toked.select(F.col("doc_id"), F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = tf.localCheckpoint(eager=True)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0
    # df_ joins HINT-FREE (census): unlike bm25's query-term df, this
    # is the FULL vocabulary's document frequencies — |vocab| grows
    # with the corpus (Heaps), so a forced broadcast OOMs the driver at
    # 100 TB. AQE broadcasts while measured-small; at scale the term
    # join correctly shuffles.
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("doc_id"),
            "term",
            "tf",
            F.round(idf, 6).alias("idf"),
            F.round(F.col("tf") * idf, 4).alias("tfidf"),
        )
    )


def feature_hash_vectors(
    docs: DataFrame,
    dim: int = 1024,
) -> DataFrame:
    """Hashing-trick sparse vectors (HashingVectorizer): term →
    ``pmod(xxhash64(term), dim)`` bucket, weight = term count summed per
    bucket. Returns the sparse (id, bucket, weight) stream — fixed
    dimensionality with NO vocabulary pass, the property that makes the
    hashing trick the scale path when even the vocab is too big to
    broadcast.

    Scale: one explode → one (id, bucket) groupBy shuffle; hashing is
    JVM-side codegen. Collisions fold weights additively (the standard
    unsigned variant). Invariants a SQL oracle can pin without knowing
    the hash: per-doc total weight equals the doc's token count (mass
    conservation through collisions) and distinct buckets ≤
    min(dim, distinct terms).
    """
    from .dedup import spread_input

    toked = spread_input(docs).select(
        F.col("doc_id"), alnum_tokens("text").alias("toks")
    )
    return (
        toked.select(F.col("doc_id"), F.explode("toks").alias("term"))
        .select(
            F.col("doc_id"),
            F.pmod(F.xxhash64("term"), F.lit(dim)).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def build_vocabulary(
    docs: DataFrame,
    min_df: int = 2,
    max_df_frac: float = 0.5,
    max_vocab: int | None = None,
) -> DataFrame:
    """Corpus vocabulary with document-frequency pruning (the
    CountVectorizer ``min_df`` / ``max_df`` contract): terms appearing
    in at least ``min_df`` docs and at most ``max_df_frac`` of the
    corpus, optionally capped to the ``max_vocab`` most frequent
    (ties broken lexicographically for determinism).

    Too-rare terms are noise/typos; too-common terms are stopwords by
    definition of the corpus itself — df pruning is the first stage of
    any vectorizer at scale because it bounds the vocabulary a
    downstream broadcast must carry.

    One explode → distinct → |vocab| aggregate; returns
    ``(term, df, df_frac)`` ordered by df desc, term.
    """
    from .dedup import spread_input

    toked = spread_input(docs).select(
        F.col("doc_id"), alnum_tokens("text").alias("toks")
    )
    n_docs = toked.agg(F.count(F.lit(1)).alias("n"))
    df_ = (
        toked.select(F.col("doc_id"), F.explode(F.array_distinct("toks")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") >= F.lit(int(min_df)))
            & (F.col("df") <= F.col("n") * F.lit(float(max_df_frac)))
        )
        .select(
            "term",
            "df",
            F.round(F.col("df") / F.col("n"), 6).alias("df_frac"),
        )
        .orderBy(F.desc("df"), "term")
    )
    if max_vocab is not None:
        df_ = df_.limit(int(max_vocab))
    return df_


def pmi_term_pairs(
    docs: DataFrame,
    min_df: int = 2,
    max_df_frac: float = 0.5,
    min_pair_df: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Top term pairs by pointwise mutual information over document
    co-occurrence → ``(term_a, term_b, pair_df, pmi)``.

    PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) with probabilities estimated
    from document frequencies: ln(df_ab · N / (df_a · df_b)). The
    collocation / phrase-mining primitive of a corpus pipeline.

    Scale design: the pair space is bounded BEFORE the self-join —
    terms prune to the [min_df, max_df_frac·N] band first (the same
    guard as build_vocabulary: ultra-common terms would otherwise make
    the per-doc pair product quadratic in the hot key), then the
    (doc, term) inverted index self-joins on doc_id with ``a < b``,
    and pairs below ``min_pair_df`` drop before the PMI arithmetic.
    PMI is rounded to 6 dp BEFORE the final ordering so the top-k cut
    is reproducible across engines (ln() last-ulp differences).
    """
    from .dedup import spread_input

    toked = spread_input(docs).select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(alnum_tokens("text"))).alias(
            "term"
        ),
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    term_df = (
        toked.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") >= F.lit(int(min_df)))
            & (F.col("df") <= F.col("n") * F.lit(float(max_df_frac)))
        )
        .localCheckpoint(eager=False)
    )
    # term_df joins HINT-FREE (census): the df-band keeps up
    # to Σdf/min_df ≈ N/min_df terms — linear in the corpus under the
    # absolute min_df floor, so a forced broadcast is a 100 TB driver
    # OOM. AQE broadcasts while measured-small, shuffles beyond.
    kept = toked.join(
        term_df.select("term", "df"), "term"
    ).select("doc", "term", "df")
    a = kept.select(
        "doc", F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    b = kept.select(
        "doc", F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, "doc")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).alias("pair_df"))
        .filter(F.col("pair_df") >= F.lit(int(min_pair_df)))
    )
    return (
        pairs.crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "pair_df",
            F.round(
                F.log(
                    F.col("pair_df").cast("double")
                    * F.col("n")
                    / (F.col("df_a") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "term_a", "term_b")
        .limit(int(top_k))
    )


def bigram_lm_topk(
    docs: DataFrame,
    min_count: int = 2,
    top_k: int = 50,
) -> DataFrame:
    """Bigram language-model counts: the ``top_k`` most frequent
    adjacent word pairs with their conditional probability
    P(w2 | w1) = c(w1 w2) / c(w1 ·) → ``(w1, w2, c, p)``.

    c(w1 ·) sums bigram counts over the context word (w1 as a
    NON-final token), so probabilities per context sum to exactly 1 —
    the n-gram LM estimation kernel (and a corpus-statistics staple:
    boilerplate detection, domain drift).

    One tokenize pass: adjacent pairs come from zipping the token
    array with itself shifted by one (``slice``), exploded — no
    positional self-join. Two shuffles total: bigram count, context
    window sum over the counts frame (bounded by distinct bigrams).
    """
    toked = docs.select(alnum_tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    big = toked.select(
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.size("toks") - 1).alias("w1"),
                F.slice("toks", 2, F.size("toks") - 1).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx = Window.partitionBy("w1")
    return (
        counts.withColumn("c1", F.sum("c").over(ctx))
        .filter(F.col("c") >= F.lit(int(min_count)))
        .select(
            "w1",
            "w2",
            "c",
            F.round(F.col("c") / F.col("c1"), 6).alias("p"),
        )
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(int(top_k))
    )


def lm_perplexity(
    docs: DataFrame,
    k: float = 0.1,
) -> DataFrame:
    """Per-document bigram-LM perplexity — the CCNet-style quality
    filter: documents whose word sequences are improbable under the
    corpus's own language model (boilerplate, gibberish, wrong-language
    residue) surface with high perplexity. Returns
    ``(doc_id, n_bigrams, ppl)`` for every doc with ≥ 2 tokens, ppl
    rounded to 6 dp, where

        ppl = exp( − mean_bigrams ln P(w2 | w1) )
        P(w2 | w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V)     (add-k)

    The LM trains on ``docs`` itself (the self-perplexity used for
    outlier screening); ``V`` is the distinct token count of the
    corpus.

    Scale design: one tokenize pass; bigram counts and context sums
    aggregate to the distinct-bigram frame (vocabulary-bounded,
    ≪ corpus); scoring joins doc-bigrams to the counts frame on the
    bigram key. The V scalar rides along as a broadcast crossJoin,
    never a driver collect.
    """
    toked = docs.select(
        F.col("doc_id"), alnum_tokens("text").alias("toks")
    ).filter(
        (F.size("toks") >= 2) & (F.element_at("toks", 1) != F.lit(""))
    )
    doc_bg = toked.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.size("toks") - 1).alias("w1"),
                F.slice("toks", 2, F.size("toks") - 1).alias("w2"),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))

    cnt = doc_bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx = cnt.groupBy("w1").agg(F.sum("c").alias("c1"))
    voc = toked.select(F.explode("toks").alias("t")).agg(
        F.countDistinct("t").alias("v")
    )
    scored = (
        doc_bg.join(cnt, ["w1", "w2"])
        .join(ctx, ["w1"])
        .crossJoin(F.broadcast(voc))
        .select(
            "doc_id",
            F.log(
                (F.col("c") + F.lit(float(k)))
                / (F.col("c1") + F.lit(float(k)) * F.col("v"))
            ).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.exp(-F.avg("logp")), 6).alias("ppl"),
    )
