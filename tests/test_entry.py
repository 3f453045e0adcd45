"""The driver contract in ``__spark_entry__``: the registry, as registered."""

from __future__ import annotations

import __spark_entry__ as entrymod
from fraud_detection_project_spark.queries import ORACLE_SQL, QUERIES


def test_entry_returns_registration_order():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert list(qs) == list(QUERIES)
    assert list(oracles) == list(ORACLE_SQL)
    assert set(oracles) <= set(qs)
