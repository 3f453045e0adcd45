"""Run-determinism probe for registered queries.

The driver hashes every query's VALUES at sf0.01; a query whose
output depends on Spark's partial-aggregation order (e.g. a float mean
rounded at a decimal its ulp straddles — the round-9
``dwell_time_transition_matrix`` flake) can pass verify_local one run
and redden the driver row the next. DuckDB-vs-Spark diffing cannot see
this class when the flake happens to land on the agreeing side.

This probe attacks the order-dependence directly: each query runs
THREE times on the same session — shuffle layout 32, layout 5, then
layout 32 again — and all result frames must compare EXACTLY (no
float tolerance — the driver's value hash has none either). The
layout change regroups partial-aggregate merges (catches
layout-sensitive folds); the same-layout repetition catches
fetch-order timing races (verified: a planted float avg above a
32-way shuffle fingerprints differently across identical-layout
reps). A STABLE read is strong but not proof — a race can
coincidentally agree; pair with repeated verify_local passes.

Usage: python tools/determinism_probe.py [sf_dir] [query ...]
       (default: every registered query, in registration order, at sf0.01)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def frame_fingerprint(df) -> tuple:
    """Order-insensitive exact fingerprint: rows sorted, columns sorted
    by name, raw repr equality (bit-exact floats — the probe's point)."""
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(repr(v) for v in row)
        for row in pdf[cols].itertuples(index=False)
    )
    return (tuple(cols), tuple(rows))


def fingerprint_diff(a: tuple, b: tuple) -> tuple:
    """First observable difference between two frame fingerprints, as a
    (kind, detail) tuple. Pure function so the StopIteration class of
    bug is unit-testable (ADVICE r9 fixed the bare ``next()``; ADVICE
    r10: the fix lived inline in main() where no test executed it).
    Kinds: ``cols`` (column-name tuples differ — rows may be equal),
    ``row-count``, a (row_a, row_b) pair for the first differing row,
    or ``fingerprint`` when equal-shaped tuples differ elsewhere."""
    if a[0] != b[0]:
        return ("cols", f"{a[0]} vs {b[0]}")
    if len(a[1]) != len(b[1]):
        return ("row-count", f"{len(a[1])} vs {len(b[1])}")
    return next(
        ((x, y) for x, y in zip(a[1], b[1]) if x != y),
        ("fingerprint", "tuples differ outside rows/cols"),
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from fraud_detection_project_spark.session import get_spark
    from fraud_detection_project_spark import queries as q

    names = sys.argv[2:] or list(q.QUERIES)

    spark = get_spark("determinism_probe")
    failures = []
    for name in names:
        fn = q.QUERIES[name]
        fps = []
        try:
            for layout in ("32", "5", "32"):
                spark.conf.set("spark.sql.shuffle.partitions", layout)
                fps.append(frame_fingerprint(fn(spark, sf_dir)))
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"ERR   {name}: {exc}")
            continue
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        if all(f == fps[0] for f in fps[1:]):
            print(f"STABLE  {name}")
        else:
            failures.append(name)
            a, b = fps[0], next(f for f in fps[1:] if f != fps[0])
            print(f"UNSTABLE  {name}: {fingerprint_diff(a, b)}")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} unstable: {failures}")
        sys.exit(1)
    print(f"\nall {len(names)} stable under partition-layout change")


if __name__ == "__main__":
    main()
