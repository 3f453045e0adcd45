"""Corpus curation funnel — staged filters with per-stage accounting.

No reference equivalent; north-star LLM-data surface: a pretraining
corpus goes through an ordered gauntlet (length gate → punctuation
gate → language gate → dedup …) and the operative question at 100 TB
is "how many documents survive each stage" — both for yield tracking
and for spotting a filter that suddenly eats the corpus.

Scale design: the naive form runs one filter+count job per stage; here
ALL stage predicates evaluate in a single scan — each stage's survivor
count is ``sum(case when p1 and … and pk then 1 end)`` in ONE
aggregate, then the one-row wide result unpivots to (stage, survivors)
rows. Predicates that need a window (e.g. keep-first dedup) are
computed as columns before the aggregate; everything else is codegen
arithmetic. One shuffle when a window predicate is present, zero
otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def curation_funnel(
    df: DataFrame,
    stages: list[tuple[str, Column]],
) -> DataFrame:
    """Cumulative survivor counts through ordered filter ``stages`` →
    ``(stage_idx, stage, survivors)``, where row 0 is the unfiltered
    input and stage k counts rows passing predicates 1..k (AND-chained
    in order).

    ``stages`` is a list of (name, boolean Column); predicates may
    reference window-derived columns the caller attached beforehand.
    A null predicate value counts as not passing (SQL three-valued
    logic under ``coalesce(p, false)``).
    """
    aggs = [F.count(F.lit(1)).alias("__s0")]
    cum = F.lit(True)
    for i, (_, pred) in enumerate(stages, start=1):
        cum = cum & F.coalesce(pred, F.lit(False))
        aggs.append(F.sum(cum.cast("long")).alias(f"__s{i}"))
    wide = df.agg(*aggs)
    names = ["input"] + [name for name, _ in stages]
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(n).alias("stage"),
                F.col(f"__s{i}").alias("survivors"),
            )
            for i, n in enumerate(names)
        ]
    )
    return (
        wide.select(F.explode(pairs).alias("r"))
        .select("r.stage_idx", "r.stage", "r.survivors")
        .orderBy("stage_idx")
    )


def remove_boilerplate_lines(
    df: DataFrame,
    lines: Column,
    min_docs: int = 2,
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal: drop every line that
    occurs in >= ``min_docs`` distinct documents (nav bars, cookie
    banners, license footers), keeping the remaining lines in order.

    ``lines`` is any expression producing the document's
    ``array<string>`` of lines (``F.split(text, '\\n')`` for real text;
    callers with unstructured text can chunk however they like).
    Returns the input columns plus ``kept_lines`` (array, original
    order) and ``n_removed``.

    Scale design — the corpus text itself never shuffles:
      1. frequency pass groups on ``xxhash64(line)`` so the shuffle
         carries 16-byte (hash, doc_id) pairs, never line text;
      2. the removal pass semi-joins exploded lines against the common
         set (small by construction — lines repeated across >=min_docs
         docs; AQE broadcasts it) and reduces to per-affected-doc
         position sets, which are tiny relative to the corpus;
      3. unaffected documents take a null-fast path in the final left
         join — their line arrays are passed through untouched, and
         only affected docs evaluate the positional filter.
    Line identity is the 64-bit hash: a collision could drop a
    non-common line (P ~ n^2 / 2^64 — negligible at any real corpus
    size, same trade as exact_dedup_docs).
    """
    tagged = df.withColumn("__lines", lines)
    # materialize the narrow (id, pos, hash) index once: it feeds
    # BOTH the frequency pass and the removal
    # semi-join — un-materialized, the chunk/tokenize kernel (split +
    # slice + array_join over the whole corpus) executed in each
    # consumer, three times per run counting the final `tagged` join
    # branch. The checkpoint holds 20-byte rows (two longs + pos) per
    # line, never line text, so it is corpus-linear and narrow — the
    # same trade as the dedup inverted index. The final join branch
    # still re-derives `__lines` from the source scan: checkpointing
    # the text arrays themselves would materialize a full corpus copy.
    exploded = (
        tagged.select(
            "doc_id", F.posexplode("__lines").alias("__pos", "__line")
        )
        .select("doc_id", "__pos", F.xxhash64("__line").alias("__h"))
        .localCheckpoint(eager=True)
    )
    common = (
        exploded.groupBy("__h")
        .agg(F.count_distinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= int(min_docs))
        .select("__h")
    )
    removals = (
        exploded.join(common, "__h", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("__pos").alias("__rm"))
    )
    kept = F.when(F.col("__rm").isNull(), F.col("__lines")).otherwise(
        F.filter(
            "__lines",
            lambda line, i: ~F.array_contains(F.col("__rm"), i),
        )
    )
    return (
        tagged.join(removals, "doc_id", "left")
        .withColumn("kept_lines", kept)
        .withColumn(
            "n_removed",
            (F.size("__lines") - F.size("kept_lines")).cast("long"),
        )
        .drop("__lines", "__rm")
    )
