"""Registered queries against their DuckDB oracles at sf0.001, compared
the way ``tools/verify_local.py`` compares them (sorted rows, columns by
name, floats to 1e-9)."""

from __future__ import annotations

import os
import sys

import pytest

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (ROOT, os.path.join(ROOT, "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.mark.parametrize("name", [
    # tied order statistics: the equi-depth edges must compare equal on
    # both engines, whose percentile interpolations differ in the last ulp
    "histogram_scheme_advisor",
    # small groups: the p95 crossing bin can sit away from quantile_cont
    "grouped_histogram_quantiles",
])
def test_query_matches_oracle(spark, name):
    import __spark_entry__ as entrymod
    from verify_local import duck_views, frame_diff

    con = duck_views(SF_SMOKE)
    got = entrymod.queries()[name](spark, SF_SMOKE).toPandas()
    diff = frame_diff(got, con.sql(entrymod.oracle_sql()[name]).df())
    assert diff is None, diff
