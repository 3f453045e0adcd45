"""Training-sample preparation: chunking documents to context windows
and packing short sequences into fixed-capacity bins.

No reference equivalent — these are the steps between a cleaned corpus
and a tokenized training set:

- ``chunk_documents``: split each document into windows of
  ``chunk_size`` tokens with ``overlap`` carried between consecutive
  chunks (context continuity). Pure JVM array ops: tokenize once,
  slice per window — the explode multiplies rows by ceil(len/stride),
  never materializes per-token rows.
- ``pack_greedy``: assign variable-length sequences to contiguous bins
  by cumulative token count (bin = floor((cumsum - len) / capacity)) —
  the deterministic, shuffle-once approximation of next-fit packing
  that a streaming packer produces; exact-bin semantics are documented
  as the cumsum contract so a SQL oracle reproduces it bit-for-bit.
  The cumulative sum runs as a range-partitioned two-phase scan
  (``partitioned_prefix_sum``) — NOT an unpartitioned window — so no
  task ever sees more than one range slice of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import alnum_tokens
from .indexing import partitioned_prefix_sum


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """One row per (doc, chunk): (doc_id, chunk_idx, n_tokens,
    chunk_text). Stride = chunk_size - overlap; the final partial chunk
    is kept (min 1 token). Empty/whitespace docs yield zero chunks."""
    stride = chunk_size - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_size")
    toks = alnum_tokens("text")
    n = F.size(toks)
    # chunk starts: 0, stride, 2*stride, ... while start < n
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor((n - 1) / F.lit(stride)) + 1
    )
    # drop a trailing window fully contained in the previous one
    n_chunks = F.when(
        (n_chunks > 1) & ((n_chunks - 1) * stride + overlap >= n),
        n_chunks - 1,
    ).otherwise(n_chunks)
    # guard BEFORE the explode: sequence(0, -1) is a descending
    # sequence in Spark, not empty — zero-chunk docs must be filtered,
    # not exploded
    staged = df.select(
        F.col("doc_id"), toks.alias("__toks"), n_chunks.alias("__nc")
    ).filter(F.col("__nc") > 0)
    out = staged.select(
        "doc_id",
        "__toks",
        F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("__toks"), F.col("chunk_idx") * stride + 1, chunk_size
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk).alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def pack_greedy(
    df: DataFrame,
    len_col: str,
    id_col: str,
    capacity: int = 512,
) -> DataFrame:
    """Assign each sequence a bin id by cumulative length over the
    ``id_col`` ordering: bin = floor((cumsum - len) / capacity), i.e. a
    bin closes once the running total crosses a capacity boundary.
    Sequences longer than ``capacity`` still get a bin (they span
    boundaries) — filter them upstream if truncation is the policy.

    The running total is a range-partitioned distributed scan (local
    cumsum + broadcast per-partition offsets), never a one-task global
    window."""
    staged = df.select(id_col, F.col(len_col).cast("long").alias(len_col))
    cum = partitioned_prefix_sum(
        staged, [id_col], len_col, out_col="__cum"
    )
    return cum.select(
        id_col,
        F.col(len_col),
        ((F.col("__cum") - F.col(len_col)) / capacity)
        .cast("long")
        .alias("bin_id"),
    )
