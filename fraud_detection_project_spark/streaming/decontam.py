"""Streaming benchmark decontamination — score arriving documents
against a fixed benchmark shingle set, statelessly.

North-star composition: the batch operator
(operators/dedup.py:ngram_contamination) broadcast-joins probe shingle
hashes; for a document STREAM the same check folds into a stateless
per-row expression — shingle the row, hash, intersect with the probe
hash set — so it runs in append mode with no watermark, no state
store, and no shuffle: exactly the shape an ingestion gate needs (drop
or quarantine contaminated docs before they reach the training
corpus).

Two probe representations, by probe-set size:

- ``contamination_scores`` (here): probe hashes as a folded array
  literal — O(1) expression nodes, constant-pickled once per plan.
  Right for benchmark-sized probe sets (10⁴-10⁵ shingles, the
  standard eval-suite case).
- beyond that, fall back to the batch operator's broadcast join inside
  ``foreachBatch`` (micro-batch = small batch job).

The batch frame form of this exact expression is the test oracle
(stream ≡ batch, tests/test_streaming.py), and its per-doc hit counts
match ngram_contamination on the same inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import word_shingles


def probe_shingle_hashes(probes: DataFrame, n: int = 13) -> list[int]:
    """Distinct xxhash64 shingle hashes of the probe (benchmark) set.
    A driver-side collect, bounded by the benchmark size — the same
    contract as broadcasting a query literal (similarity.py)."""
    rows = (
        probes.select(
            F.explode(F.array_distinct(word_shingles("text", n))).alias("s")
        )
        .select(F.xxhash64("s").alias("h"))
        .distinct()
        .collect()
    )
    return [r["h"] for r in rows]


def contamination_scores(
    docs: DataFrame,
    probe_hashes: list[int],
    n: int = 13,
) -> DataFrame:
    """Per-document contaminated-shingle count against the probe hash
    set, as a pure stateless projection (works identically on a
    streaming or batch frame): n-gram shingle → xxhash64 (HOF transform,
    JVM-side) → array_intersect with the probe literal → size, as
    ``(doc_id, n_hit_ngrams)``. Docs with ``n_hit_ngrams > 0`` are
    contaminated."""
    hashes = F.transform(
        F.array_distinct(word_shingles("text", n)),
        lambda s: F.xxhash64(s),
    )
    probe = F.lit([int(h) for h in probe_hashes]).cast("array<bigint>")
    return docs.select(
        F.col("doc_id"),
        F.size(F.array_intersect(hashes, probe)).alias("n_hit_ngrams"),
    )


def hash_filter_gate(
    stream: DataFrame,
    stream_key: str,
    dim: DataFrame,
    dim_key: str,
    num_buckets: int = 1 << 20,
) -> DataFrame:
    """Streaming ingestion gate: keep only stream rows whose key MIGHT
    exist in a static dimension — the stream-side twin of
    operators/sketches.py:hash_filter_semijoin, and the same stateless
    broadcast shape as ``contamination_scores`` above. The dim's
    distinct bucket set broadcasts once per micro-batch plan; no state
    store, no watermark, no shuffle on the stream side; false negatives
    impossible, false positives bounded by |dim keys|/num_buckets.
    Use in front of an expensive stateful stage (join, dedup,
    aggregation) to cut its input volume.
    Stream ≡ batch on the same rows (pytest oracle)."""
    from ..operators.sketches import hash_filter_semijoin

    return hash_filter_semijoin(
        stream, stream_key, dim, dim_key, num_buckets=num_buckets
    )
