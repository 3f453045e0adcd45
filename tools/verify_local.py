"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column names,
and an order-insensitive value comparison (rows sorted, columns sorted by
name, NaN==NaN, float equality to 1e-9 relative).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402


def norm_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", round(v, 9))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("f", round(float(v), 9)) if abs(v) < 2**52 else ("i", v)
    return ("s", str(v))


def frame_key(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    rows.sort()
    return cols, rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from fraud_detection_project_spark.session import get_spark

    spark = get_spark("verify-local")
    con = duck_views(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {str(e)[:400]}")
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(spdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: oracle error: {str(e)[:400]}")
            continue
        diff = frame_diff(spdf, opdf)
        if diff:
            failures.append(name)
            print(f"FAIL  {name}: {diff}")
        else:
            print(f"PASS  {name} ({len(spdf)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


def duck_views(sf_dir):
    """A DuckDB connection with one view per parquet table in ``sf_dir``."""
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def frame_diff(spdf, opdf):
    """None when the Spark and oracle frames match, else the first
    difference: columns, row count, or the first differing sorted row."""
    scols, srows = frame_key(spdf)
    ocols, orows = frame_key(opdf)
    if scols != ocols:
        return f"columns {scols} != {ocols}"
    if len(srows) != len(orows):
        return f"rowcount {len(srows)} != {len(orows)}"
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a != b:
            return f"first diff at sorted row {i}:\n  spark={a}\n  duck ={b}"
    return None


if __name__ == "__main__":
    main()
