"""Structural duplicate-(key, ts) exposure for carried-value queries
(round-5 VERDICT #8).

The driver's sf0.01 data happens to contain zero duplicate
``(user_id, ts)`` pairs, so a carried-value query whose tie-break is
nondeterministic can stay driver-green while being order-dependent (the
exact failure mode of the round-5 ``as_of_join`` red test). This module
removes that reliance on per-query discipline: it clones sf0.001 into a
tmp dataset whose events table is INJECTED with duplicate
``(user_id, ts)`` rows — distinct event_ids with different values, plus
same-type duplicates — then runs every carried-value query AND its
DuckDB oracle on the duplicated data and requires the same
rows/columns/values the driver's gate would. A query without a
deterministic, oracle-mirrored tie-break fails here immediately.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (ROOT, os.path.join(ROOT, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)

SRC = "/root/testdata/sf0.001"

# Every registered query whose semantics carry a value across rows of
# equal (key, timestamp) — as-of joins, ffill resampling, first/last
# aggregation inside time buckets, session path ordering, attribution.
CARRIED_VALUE_QUERIES = [
    "asof_last_signup",
    "asof_view_value_at_purchase",
    "attribution_last_touch",
    "collapse_consecutive_events",
    "funnel_within_1h",
    "twap_value_by_user",
    "ohlc_6h_value",
    "resample_1h_ffill",
    "session_entry_conversion",
    "event_lateness_profile",
    "top_session_paths",
    # round-6 sequence wave — lead/lag/row_number in (ts, event_id)
    # order; duplicates must not change which bigram/half/gap wins
    "markov_next_event_accuracy",
    "sequence_entropy_rate",
    "user_mix_shift_kl",
    "bot_periodicity_screen",
    "watermark_recommendation",
]


@pytest.fixture(scope="module")
def tie_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("tie_sf")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings",
    ]:
        src = os.path.join(SRC, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, out / f"{t}.parquet")

    ev = pq.read_table(os.path.join(SRC, "events.parquet"))
    max_id = pc.max(ev["event_id"]).as_py()
    head = ev.slice(0, 200)

    def clone(offset, value_shift, retype):
        cols = {}
        for name in ev.column_names:
            col = head[name]
            if name == "event_id":
                col = pc.add(col, pa.scalar(max_id + offset, col.type))
            elif name == "value":
                col = pc.add(col, pa.scalar(value_shift, col.type))
            elif name == "event_type" and retype is not None:
                col = pa.array([retype] * len(head), col.type)
            cols[name] = col
        return pa.table(cols, schema=ev.schema)

    # dup class 1: same (user_id, ts), different type and value
    # dup class 2: same (user_id, ts, event_type), different value
    dup = pa.concat_tables(
        [ev, clone(1, 1000.0, "signup"), clone(1001, -37.5, None)]
    )
    pq.write_table(dup, out / "events.parquet")
    return str(out)


def test_carried_value_queries_deterministic_under_ts_ties(spark, tie_dir):
    import __spark_entry__ as entrymod
    from verify_local import duck_views, frame_diff

    con = duck_views(tie_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name in CARRIED_VALUE_QUERIES:
        assert name in qs, f"{name} not registered"
        assert name in oracles, f"{name} has no SQL oracle"
        diff = frame_diff(qs[name](spark, tie_dir).toPandas(),
                          con.sql(oracles[name]).df())
        if diff:
            failures.append(f"{name}: {diff}")
    assert not failures, "\n".join(failures)
