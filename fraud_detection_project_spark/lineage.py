"""Checkpoint source-lineage registry.

``localCheckpoint`` materializes a frame and truncates its lineage: the
physical plan afterwards shows only ``Scan ExistingRDD[...]`` with no
table name, so the forced-broadcast census cannot classify the frame's
growth law from the plan. That was the census's one documented blind
spot — a data-proportional checkpoint put under an ``F.broadcast`` hint
would classify bounded and OOM the driver at the 100 TB design point.

The census now FAILS CLOSED on checkpoint scans under a forced
exchange. This module is the explicit, creation-time escape hatch:
engine code that checkpoints a frame whose row count is bounded BY
CONSTRUCTION (an enum-keyed aggregate, a literal-pruned term set, a
≤|brands|² duel frame) tags it with :func:`bounded_checkpoint` (or
builds it literal via :func:`bounded_literal`), which salts the
materialized frame with a session-unique NONCE column and records the
scan's attribute-name signature (nonce included) plus a human-readable
reason. ``tools/plan_audit.py`` consults the registry when it walks a
BroadcastExchange subtree: a registered scan is bounded, an
unregistered one is an offence — and because the nonce name only ever
enters a plan through these helpers, an unregistered scan cannot pass
by colliding with a registered frame's user-visible column names.

The tag is an ASSERTION the author makes; the census verifies the hint
sits over a tagged frame, and the reason string is the audit trail. A
tag on a genuinely data-proportional frame is a bug in the tagging
call site — reviewable by grepping the (few) call sites, which is the
point: the claim lives next to the construction that justifies it.
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# materialized-scan signature -> reason the frame is bounded
_BOUNDED_CKPT_SIGS: dict[str, str] = {}

_SCAN_RE = re.compile(r"Scan ExistingRDD[^\[]*\[([^\]]*)\]")


_ID_RE = re.compile(r"#\d+L?")

# Registration-nonce column: a session-unique
# column BAKED INTO the materialized frame itself. The nonce name only
# ever enters a plan through this module's registration helpers, so a
# scan signature containing it proves the frame passed through a
# registration call — an UNREGISTERED checkpoint whose user-visible
# column names collide with a registered frame's can no longer satisfy
# the census (it lacks the nonce attribute, which LogicalRDD's fixed
# output prints in every consuming plan even though the helpers drop
# the column from the frame they return).
_NONCE_SEQ = itertools.count()


def _nonce_name() -> str:
    return f"__bnd{next(_NONCE_SEQ)}__"


def _normalize_sig(bracket: str) -> str:
    """Attribute-NAME signature of a scan bracket: expr-ids stripped.

    Catalyst REWRITES expr-ids when the same frame is referenced more
    than once in a plan (attribute dedup on self-joins), so an id-exact
    signature fails to match the second and later uses of a registered
    frame. Name-keying alone would let an UNREGISTERED scan with
    colliding column names pass — which is why every registration
    helper salts the frame with a :func:`_nonce_name` column before
    materializing it: the signature is names INCLUDING the nonce, and
    only frames built by this module carry one."""
    return _ID_RE.sub("", bracket).replace(" ", "")


def _scan_signature(df: DataFrame) -> str:
    """The normalized ``Scan ExistingRDD[...]`` signature of a
    materialized frame's own plan — the attribute-name list every
    consuming plan prints for this scan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = _SCAN_RE.search(plan)
    return _normalize_sig(m.group(1)) if m else ""


def bounded_checkpoint(
    df: DataFrame, reason: str, eager: bool = True
) -> DataFrame:
    """``localCheckpoint`` a frame whose row count is bounded by
    construction, registering the materialized scan so the
    forced-broadcast census can verify hints above it.

    ``reason`` must say WHY the frame is bounded (the growth-law
    argument), e.g. "≤ |query terms| rows: tf is literal-IN-pruned
    upstream". Empty reasons are rejected — the registry is an audit
    trail, not a mute allowlist.
    """
    if not reason or not reason.strip():
        raise ValueError("bounded_checkpoint requires a non-empty reason")
    nonce = _nonce_name()
    out = df.withColumn(nonce, F.lit(1)).localCheckpoint(eager=eager)
    sig = _scan_signature(out)
    if sig:
        _BOUNDED_CKPT_SIGS[sig] = reason
    # the nonce stays in the materialized schema (so every consuming
    # plan's scan line prints it) but not in the frame handed back
    return out.drop(nonce)


def bounded_literal(spark, data, schema, reason: str) -> DataFrame:
    """Create a LITERAL DataFrame — bounded by its own source text —
    with a nonce-salted census signature.

    PySpark's ``createDataFrame`` parallelizes Python lists through an
    RDD, so literal grids (threshold sweeps, banding configs, predicate
    lists) print as ``Scan ExistingRDD`` exactly like a checkpoint and
    would otherwise fail the census's fail-closed checkpoint rule
    despite being bounded by construction. Building the frame HERE lets
    the nonce column ride inside the literal rows themselves (a
    post-hoc ``withColumn`` on an existing frame cannot reach the scan
    node, which is why a registration by column names alone would let
    an unregistered frame collide with a registered one).

    ``data``: list of row tuples; ``schema``: DDL string or list of
    column names (same forms ``createDataFrame`` takes). When ``data``
    can be EMPTY — e.g. a computed grid like smote's offsets, not a
    hard-coded literal — ``schema`` must be a DDL string: a names-only
    list leaves column types to row-based inference, which PySpark
    cannot do from zero rows (the failure would surface as an opaque
    "can not infer schema from empty dataset"; rejected here with the
    actual contract instead)."""
    if not reason or not reason.strip():
        raise ValueError("bounded_literal requires a non-empty reason")
    if not data and not isinstance(schema, str):
        raise ValueError(
            "bounded_literal with an empty data list requires a DDL "
            "string schema — column types cannot be inferred from zero "
            "rows, so a names-only schema would fail inside "
            "createDataFrame with an unhelpful inference error"
        )
    nonce = _nonce_name()
    if isinstance(schema, str):
        full_schema = f"{schema}, {nonce} INT"
    else:
        full_schema = list(schema) + [nonce]
    rows = [tuple(r) + (1,) for r in data]
    df = spark.createDataFrame(rows, full_schema)
    sig = _scan_signature(df)
    if sig:
        _BOUNDED_CKPT_SIGS[sig] = reason
    return df.drop(nonce)


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist a SUPERSEDED ``localCheckpoint``-ed frame's blocks.

    The iterative graph operators (connected_components' star rounds,
    k_core's H-index rounds, page_rank's power iterations) truncate
    lineage with a NEW eager checkpoint every round; the previous
    round's blocks stay in the block manager until the JVM's
    ContextCleaner happens to collect the RDD reference. At the
    synthesized ~sf10 decade that lag is fatal: generations of
    multi-GB edge frames pile up in storage while the next round's
    map-side aggregates fail their INITIAL BytesToBytesMap allocation
    (``AGGREGATE_OUT_OF_MEMORY`` — an initial allocation has nothing
    to spill). Callers release ONLY frames nothing references anymore:
    the blocks are dropped and the lineage is already truncated, so
    any later action on a released frame fails — never release a frame
    that still feeds a live plan.

    No-op when the frame's analyzed plan is not a ``LogicalRDD`` (not a
    materialized checkpoint, e.g. k_core's round-1 degree aggregate).
    A py4j failure propagates: if a Spark upgrade moves ``analyzed()``
    or ``LogicalRDD.rdd()``, the loops must fail loudly rather than
    silently stop freeing their rounds.
    """
    logical = df._jdf.queryExecution().analyzed()
    if logical.getClass().getName().endswith("LogicalRDD"):
        logical.rdd().unpersist(False)


def is_bounded_ckpt_scan(plan_line: str) -> bool:
    """True when a physical-plan ``Scan ExistingRDD`` line belongs to a
    frame registered via :func:`bounded_checkpoint` /
    :func:`bounded_literal` in this session (nonce-salted
    name-signature match — see :func:`_normalize_sig` and
    :func:`_nonce_name` for the rewrite and collision rationale)."""
    m = _SCAN_RE.search(plan_line)
    return bool(m) and _normalize_sig(m.group(1)) in _BOUNDED_CKPT_SIGS
