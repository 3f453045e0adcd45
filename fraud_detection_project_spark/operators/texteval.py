"""Pairwise text-overlap evaluation (ROUGE-N).

The reference pipeline has no text surface at all (446-line tabular
pandas, ``src/preprocessing/transform_data.py``); this module belongs to
the LLM-data-pipeline extension families: scoring generated/candidate
text against references is the evaluation staple (summarization eval,
dedup explanation, distillation QA), and at corpus scale it must run as
a distributed join over n-gram count frames — never a per-pair Python
loop.

ROUGE-N (Lin 2004, "ROUGE: A Package for Automatic Evaluation of
Summaries") with *clipped* counts: for a (candidate, reference) pair the
overlap of an n-gram is ``min(count_cand, count_ref)``;

    recall    = overlap_total / ref_total
    precision = overlap_total / cand_total
    f1        = 2PR / (P + R)

Scale design
------------
One tokenize+explode pass builds the per-document n-gram count frame
``(doc_id, gram, c)`` — a single ``groupBy(doc_id, gram)`` shuffle over
docs that actually participate in a pair (semi-join pruned). The pair
table then joins that frame twice (keyed on the candidate id, then the
reference id) and the clipped overlap is an inner join on
``(pair_id, gram)`` — the n-gram frames are partitioned by pair id
before the gram match, so a globally hot gram ("the") never concentrates
on one task: its rows are already spread across pair-id partitions.
Totals are plain per-doc sums reusing the same count frame. No UDFs;
everything is codegen ``split``/``slice``/``explode`` + joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["ngram_counts", "rouge_n"]

_TOKEN_CLEAN = "[^a-zA-Z0-9]+"


def _hashed_ngram_counts_kernel(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """``(id_col, gram, c)`` for the HASHED path, computed doc-locally in
    one ``mapInArrow`` kernel — zero shuffles.

    The previous shape tokenized with a Java-regex ``split`` (measured
    at ~3 s per ~sf1 corpus pass — the dominant term), then
    exploded every gram through a ``groupBy(id, gram)`` exchange. This
    kernel does the whole stage batch-at-a-time in native code: RE2
    tokenize (``pyarrow.compute.split_pattern_regex``, ~5× the Java
    regex), ``pandas.factorize`` token interning, one ``blake2b``
    digest per *unique* token, a vectorized rolling combine for the
    n-gram key, and a doc-local run-length count over a ``lexsort``.
    Measured 6.1 s → 0.41 s (15×) for the ~sf1 bigram-count pass,
    output verified structurally identical (same per-doc (gram, c)
    multisets and cross-doc gram identity) to the JVM path.

    Gram keys are engine-internal 64-bit content hashes — consumed only
    as equality-join keys inside :func:`rouge_n`, never surfaced in any
    result — so replacing ``xxhash64(slice)`` with the blake2b-derived
    combine changes no observable value; a 2⁻⁶⁴-class cross-gram
    collision is accepted exactly as for ``xxhash64`` grams and every
    other hashed-key operator in the engine.

    Tokenization is token-identical to the JVM expression
    (``array_remove(split(lower(text), '[^a-z0-9]+'), '')``): both
    lower with full Unicode case mapping and split on runs of
    non-[a-z0-9] *characters*, so surviving tokens are exactly the
    maximal ASCII-alphanumeric runs (verified token-identical over the
    full test corpora at adoption; pinned by a pytest on edge inputs).
    The oracle's ``['']``-for-empty convention at n == 1 is preserved:
    a non-null all-separator document emits one empty-token gram.
    """
    id_type = docs.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("gram", T.LongType()),
            T.StructField("c", T.LongType()),
        ]
    )

    def count_grams(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        from hashlib import blake2b

        C = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd multiplier

        def tok_hash(word: str) -> int:
            return int.from_bytes(
                blake2b(word.encode(), digest_size=8).digest(), "little"
            )

        h_empty = np.uint64(tok_hash(""))

        for b in batches:
            ids = b.column(id_col)
            txt = b.column(text_col)
            if isinstance(txt, pa.ChunkedArray):
                txt = txt.combine_chunks()
            # utf8_lower uses Unicode SIMPLE case mapping; the JVM path
            # uses FULL mapping. Exactly one code point diverges in a
            # token-observable way (SpecialCasing.txt's only multi-char
            # lowercase): U+0130 'İ' → 'i' + U+0307, which the JVM
            # splits into two tokens. Pre-expanding it keeps the kernel
            # token-identical to the JVM expression on ANY input.
            txt = pc.replace_substring(txt, "İ", "i̇")
            toks = pc.split_pattern_regex(pc.utf8_lower(txt), "[^a-z0-9]+")
            if isinstance(toks, pa.ChunkedArray):
                toks = toks.combine_chunks()
            n_docs = len(ids)
            if n_docs == 0:
                continue
            offs = toks.offsets.to_numpy()
            flat = toks.values.to_numpy(zero_copy_only=False)
            keep = flat != ""
            doc_ix_all = np.repeat(np.arange(n_docs), np.diff(offs))
            doc_ix = doc_ix_all[keep]
            words = flat[keep]
            codes, uniq = pd.factorize(words)
            uh = np.empty(len(uniq), dtype=np.uint64)
            for i, w in enumerate(uniq):
                uh[i] = tok_hash(w)
            th = uh[codes] if len(codes) else np.empty(0, dtype=np.uint64)

            m = len(th)
            if m >= n:
                # rolling combine over n consecutive token hashes; a
                # window is valid when it stays inside one document
                g = th[: m - n + 1].copy()
                for k in range(1, n):
                    t = th[k : m - n + 1 + k]
                    g = (g * C) ^ ((t << np.uint64(17)) | (t >> np.uint64(47)))
                valid = doc_ix[n - 1 :] == doc_ix[: m - n + 1]
                g = g[valid]
                gd = doc_ix[: m - n + 1][valid]
            else:
                g = np.empty(0, dtype=np.uint64)
                gd = np.empty(0, dtype=np.int64)

            if n == 1:
                # oracle convention: non-null all-separator text → ['']
                null_mask = (
                    txt.is_null().to_numpy(zero_copy_only=False)
                    if txt.null_count
                    else np.zeros(n_docs, dtype=bool)
                )
                tok_cnt = np.zeros(n_docs, dtype=np.int64)
                np.add.at(tok_cnt, doc_ix, 1)
                empty_docs = np.flatnonzero((tok_cnt == 0) & ~null_mask)
                if len(empty_docs):
                    g = np.concatenate(
                        [g, np.full(len(empty_docs), h_empty, dtype=np.uint64)]
                    )
                    gd = np.concatenate([gd, empty_docs])

            if len(g) == 0:
                continue
            gs = g.view(np.int64)
            order = np.lexsort((gs, gd))
            gs, ds = gs[order], gd[order]
            new = np.empty(len(gs), dtype=bool)
            new[0] = True
            new[1:] = (gs[1:] != gs[:-1]) | (ds[1:] != ds[:-1])
            starts = np.flatnonzero(new)
            cnt = np.diff(np.append(starts, len(gs)))
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(ds[starts])),
                    pa.array(gs[starts]),
                    pa.array(cnt.astype("int64")),
                ],
                [id_col, "gram", "c"],
            )

    return docs.select(id_col, text_col).mapInArrow(count_grams, out_schema)


def ngram_counts(
    docs: DataFrame, id_col: str, text_col: str, n: int = 1,
    hashed: bool = False,
) -> DataFrame:
    """Per-document n-gram multiset: ``(id_col, gram, c)``.

    Tokenization: lowercase, non-alphanumeric runs → single space, trim,
    whitespace split — byte-identical to the DuckDB oracle expression
    ``string_split_regex(trim(lower(regexp_replace(text,
    '[^a-zA-Z0-9]+', ' ', 'g'))), '\\s+')`` used throughout the query
    corpus (e.g. the 13-gram decontamination oracle). Documents shorter
    than ``n`` tokens contribute no grams.

    ``hashed=True`` folds each gram to an engine-internal 64-bit key —
    the right mode when grams are only ever compared for EQUALITY
    downstream (the ROUGE overlap join); a 2⁻⁶⁴ per-pair collision is
    accepted, as in exact_dedup / ngram_contamination. The hashed path
    runs entirely inside one ``mapInArrow`` kernel
    (:func:`_hashed_ngram_counts_kernel`): no Java-regex
    tokenize, no gram explode, no ``groupBy`` exchange — measured 15×
    on the ~sf1 bigram pass with structurally identical output.
    """
    if hashed:
        return _hashed_ngram_counts_kernel(docs, id_col, text_col, n)
    # single-regex-pass tokenize (see functions/text.py alnum_tokens:
    # 10× over the regexp_replace pipeline, provably
    # token-identical). One convention difference vs alnum_tokens: the
    # oracle expression split(trim(...), '\s+') yields [''] — not [] —
    # for all-separator text. That case is observable ONLY at n == 1
    # (for n ≥ 2 both [''] and [] fail the size >= n gate identically),
    # so the when() branch is gated on n: a conditional referencing the
    # token array twice defeats codegen subexpression elimination and
    # measured ~2× on the n=2 gram pass at ~sf1 (11.3 s vs 5.6 s for
    # the plain array; the old two-pass pipeline sat at 5.9-6.4 s).
    toks = F.array_remove(
        F.split(F.lower(F.col(text_col)), _TOKEN_CLEAN), ""
    )
    if n == 1:
        toks = F.when(F.size(toks) == 0, F.array(F.lit(""))).otherwise(toks)
    d = docs.select(F.col(id_col), toks.alias("toks")).filter(
        F.size("toks") >= n
    )
    if n == 1:
        exploded = d.select(id_col, F.explode("toks").alias("gram"))
    else:
        # slice is 1-indexed; i ∈ [1, len-n+1]
        idx = F.explode(
            F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1))
        ).alias("i")
        exploded = d.select(id_col, "toks", idx).select(
            id_col,
            F.array_join(
                F.slice("toks", F.col("i"), n), " "
            ).alias("gram"),
        )
    return exploded.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("c")
    )


def rouge_n(pairs: DataFrame, docs: DataFrame, n: int = 1) -> DataFrame:
    """Clipped-count ROUGE-N for every ``(cand_id, ref_id)`` row of
    ``pairs`` over the ``(doc_id, text)`` rows of ``docs``.

    Returns ``(cand_id, ref_id, overlap, cand_total, ref_total,
    precision, recall, f1)`` — one row per input pair, metrics NULL when
    the corresponding side has no n-grams (doc shorter than ``n``).
    """
    participant = (
        pairs.select(F.col("cand_id").alias("doc_id"))
        .union(pairs.select(F.col("ref_id").alias("doc_id")))
        .distinct()
    )
    # grams only ever meet an EQUALITY join below — hash them to 64-bit
    # keys (2⁻⁶⁴ per-pair collision accepted, oracle-checked by
    # rouge2_adjacent_docs). The hashed count frame is produced by the
    # doc-local mapInArrow kernel — no tokenize regex, no gram exchange
    # (15× on the ~sf1 bigram pass).
    # counts feeds THREE consumers (cand grams, ref grams, totals) and
    # the pair key two — checkpoint both so the corpus tokenizes ONCE
    # (the bm25/tfidf compacted-relation precedent; un-checkpointed,
    # the kernel pipeline re-executed per consumer and dominated the
    # sf1 decade at 3× cost)
    counts = ngram_counts(
        docs.join(participant, "doc_id", "left_semi"), "doc_id", "text", n,
        hashed=True,
    ).localCheckpoint(eager=False)
    totals = counts.groupBy("doc_id").agg(F.sum("c").alias("total"))

    # a duplicated (cand, ref) row would fan out BOTH gram frames, so
    # the clipped overlap join inflates quadratically per duplicate
    # while the totals join inflates linearly — silently wrong metrics;
    # dedup the pair key up front
    p = pairs.select("cand_id", "ref_id").distinct().localCheckpoint(
        eager=False
    )
    # Overlap-join shape: pair keys are attached to ONE gram frame only.
    # Building a second pair-expanded frame (rgrams = p ⋈ counts on ref)
    # and joining the two on (cand, ref, gram) would make the big
    # shuffle carry the corpus' grams pair-expanded TWICE plus an extra
    # join stage. Joining the pair-tagged cand grams straight against
    # the compact per-doc counts on (ref, gram) is result-identical —
    # counts is unique per (doc, gram) — while the ref side of the
    # shuffle carries each doc's grams ONCE regardless of how many
    # pairs share the doc.
    cgrams = p.join(
        counts.withColumnRenamed("doc_id", "cand_id"), "cand_id"
    ).select("cand_id", "ref_id", "gram", F.col("c").alias("c_cand"))
    overlap = (
        cgrams.join(
            counts.select(
                F.col("doc_id").alias("ref_id"),
                "gram",
                F.col("c").alias("c_ref"),
            ),
            ["ref_id", "gram"],
        )
        .groupBy("cand_id", "ref_id")
        .agg(F.sum(F.least("c_cand", "c_ref")).alias("overlap"))
    )
    out = (
        p.join(
            totals.withColumnRenamed("doc_id", "cand_id").withColumnRenamed(
                "total", "cand_total"
            ),
            "cand_id",
            "left",
        )
        .join(
            totals.withColumnRenamed("doc_id", "ref_id").withColumnRenamed(
                "total", "ref_total"
            ),
            "ref_id",
            "left",
        )
        .join(overlap, ["cand_id", "ref_id"], "left")
        .withColumn(
            "overlap",
            F.when(
                F.col("cand_total").isNotNull()
                & F.col("ref_total").isNotNull(),
                F.coalesce("overlap", F.lit(0)),
            ),
        )
    )
    prec = F.col("overlap") / F.col("cand_total")
    rec = F.col("overlap") / F.col("ref_total")
    f1 = F.when(
        (prec + rec) > 0, 2 * prec * rec / (prec + rec)
    ).otherwise(
        F.when(prec.isNotNull() & rec.isNotNull(), F.lit(0.0))
    )
    return out.select(
        "cand_id",
        "ref_id",
        "overlap",
        "cand_total",
        "ref_total",
        prec.alias("precision"),
        rec.alias("recall"),
        f1.alias("f1"),
    )
