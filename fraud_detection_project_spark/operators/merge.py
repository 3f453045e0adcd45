"""MERGE / upsert — apply a CDC changeset to a base snapshot.

No reference equivalent (the reference processes static CSVs,
``load_data.py``); this is the ingestion-side operator a production
fraud pipeline needs: nightly snapshot + intraday change stream →
current table. Semantics mirror ANSI MERGE / Delta-style
``whenMatchedUpdate / whenNotMatchedInsert / whenMatchedDelete`` with
latest-change-wins per key.

Scale design (100 TB base, much smaller changeset):

- latest-change-per-key is a ``max_by(struct(payload), seq)`` aggregate
  — partial (map-side) aggregation, never a full sort, one shuffle keyed
  on the merge key.
- the apply joins base against the compacted changeset. Spark cannot
  broadcast the build side of a FULL OUTER join (HintErrorLogger:
  "build right for full outer join" — measured, not assumed), so the
  two modes use different shapes:

  * ``broadcast_changes=False``: one full-outer sort-merge join on the
    key. If the base is bucketed by the key the base-side shuffle
    disappears.
  * ``broadcast_changes=True`` (a day's changes fit in memory even when
    the base is 100 TB): a broadcast LEFT OUTER join carries every base
    row — the base payload NEVER shuffles — and inserts (change keys
    absent from base) come from a separate left-anti join of the tiny
    changeset against the base's key column only, a column-pruned scan
    that shuffles 8-byte keys, not rows.
- deletes are rows, not tombstone scans: a change row with
  ``op = 'D'`` drops the key in the same single pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_changes(
    changes: DataFrame,
    keys: list[str],
    seq_col: str,
) -> DataFrame:
    """Compact a changeset to the latest change per key (seq max wins).

    ``max_by(struct(...), seq)`` instead of a row_number window: the
    aggregate combines map-side, so the shuffle carries one row per key
    per map task — a window sort would shuffle every change row.
    """
    payload = [c for c in changes.columns if c not in keys]
    packed = F.max_by(F.struct(*payload), F.col(seq_col)).alias("_ch")
    return (
        changes.groupBy(*keys)
        .agg(packed)
        .select(*keys, *[F.col(f"_ch.{c}").alias(c) for c in payload])
    )


def merge_apply(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    seq_col: str,
    broadcast_changes: bool = False,
) -> DataFrame:
    """Upserted snapshot: latest change per key wins; ``op = 'D'`` rows
    drop the key; unmatched change keys insert; untouched base rows pass
    through. Result schema = base schema.

    ``changes`` must carry every base column that is not a key (the
    replacement payload) plus ``seq_col`` and ``op``.

    If the base carries ``seq_col``, a change only applies when
    ``change.seq >= base.seq``, so REPLAYING the latest batch
    (foreachBatch's failure semantics — monotonic redelivery) is a
    no-op. This does NOT extend to arbitrary batch orders: a delete
    removes the row *and its recorded seq*, so a stale update replayed
    after the delete sees no base row and would resurrect the key as an
    insert.
    """
    payload_cols = [c for c in base.columns if c not in keys]
    guard_seq = seq_col in base.columns
    latest = latest_changes(changes, keys, seq_col)

    def apply_side(joined: DataFrame) -> DataFrame:
        changed = F.col("c.op").isNotNull()
        if guard_seq:
            changed = changed & (
                F.col(f"b.{seq_col}").isNull()
                | (F.col(f"c.{seq_col}") >= F.col(f"b.{seq_col}"))
            )
        merged = joined.select(
            *keys,
            *[
                F.when(changed, F.col(f"c.{p}")).otherwise(F.col(f"b.{p}")).alias(p)
                for p in payload_cols
            ],
            # effective op: a guard-failing (stale) change is a no-op,
            # including stale deletes
            F.when(changed, F.col("c.op")).alias("_op"),
        )
        return merged.filter(
            F.col("_op").isNull() | (F.col("_op") != F.lit("D"))
        ).drop("_op")

    if not broadcast_changes:
        # one full-outer SMJ handles update/delete/insert together —
        # `latest` has a single consumer here, no materialization needed
        return apply_side(
            base.alias("b").join(latest.alias("c"), on=keys, how="full_outer")
        )

    # The broadcast path consumes `latest` TWICE (the broadcast build
    # side AND the insert anti-join below); un-materialized, the whole
    # changeset compaction (scan + two SortAggregates — max_by over a
    # struct cannot hash-aggregate) executed once per consumer. The
    # measured q10 plan showed both subtrees in full. Checkpoint so the
    # compaction runs once and both consumers read the materialized rows
    # (same pattern as the bm25/rouge compacted relations). Lazy: the
    # first action pays the materialization inside its own timed
    # window. Registered,
    # because the checkpoint truncates the lineage the census used to
    # read the bounding aggregate from: the boundedness claim is the
    # SAME author assertion the F.broadcast hint below already makes.
    from ..lineage import bounded_checkpoint

    latest = bounded_checkpoint(
        latest,
        "broadcast_changes=True caller contract (see docstring): the "
        "per-key-compacted changeset fits in memory — the identical "
        "assertion the F.broadcast hint on this frame makes; hint and "
        "materialization are created at the same site",
        eager=False,
    )
    b, c = base.alias("b"), latest.alias("c")

    # broadcast path: full outer cannot build the broadcast side, so
    # split into (1) broadcast left-outer — base payload never shuffles
    upserted = apply_side(b.join(F.broadcast(c), on=keys, how="left_outer"))
    # (2) inserts — anti-join the compacted changeset against the base's
    # key column only (column-pruned scan, shuffles keys not rows).
    inserts = (
        latest.filter(F.col("op") != F.lit("D"))
        .join(base.select(*keys), on=keys, how="left_anti")
        .select(*keys, *payload_cols)
    )
    return upserted.unionByName(inserts)
