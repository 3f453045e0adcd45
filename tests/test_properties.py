"""Property-based invariants (SURVEY.md §5.4) via Hypothesis.

Each property runs a bounded number of examples against a live local
SparkSession — examples are small (Spark job dispatch dominates), the
generators are broad (nulls, duplicates, extreme timestamps).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),  # id / key
        st.integers(min_value=0, max_value=10**6),  # epoch seconds
        st.sampled_from(["a", "b", "c"]),
    ),
    min_size=1,
    max_size=40,
)


@given(data=rows)
@settings(**SETTINGS)
def test_dedup_idempotent_and_minimal(spark, data):
    """A6: dropDuplicates is idempotent and yields exactly the distinct set."""
    from fraud_detection_project_spark.operators.cleaning import remove_duplicates

    df = spark.createDataFrame(data, "id long, t long, cat string")
    once = remove_duplicates(df)
    assert once.count() == len(set(data))
    assert remove_duplicates(once).count() == once.count()


@given(data=rows)
@settings(**SETTINGS)
def test_id_hash_split_partitions(spark, data):
    """M1: train ∪ test == all, train ∩ test == ∅, deterministic."""
    from fraud_detection_project_spark.ml.split import id_hash_split

    df = spark.createDataFrame(data, "id long, t long, cat string")
    tagged = id_hash_split(df, "id", 0.8)
    n = df.count()
    n_train = tagged.filter(F.col("split") == "train").count()
    n_test = tagged.filter(F.col("split") == "test").count()
    assert n_train + n_test == n
    # deterministic: same id never lands in both splits
    assert (
        tagged.select("id", "split").distinct().groupBy("id").count()
        .filter(F.col("count") > 1).count() == 0
    )


@given(data=rows)
@settings(**SETTINGS)
def test_rolling_count_matches_bruteforce(spark, data):
    """W1: the rangeBetween window equals the O(n²) definition —
    #{other events, same key, t' in (t-W, t]}."""
    from fraud_detection_project_spark.operators.windows import rolling_count_24h

    W = 100
    df = spark.createDataFrame(data, "key long, t long, cat string")
    got = {
        (r["key"], r["t"], r["cat"]): r["cnt"]
        for r in rolling_count_24h(df, "key", "t", "cnt", window_seconds=W).collect()
    }
    for key, t, cat in data:
        want = sum(1 for k2, t2, _ in data if k2 == key and t - W < t2 <= t) - 1
        assert got[(key, t, cat)] == want, (key, t)


@given(data=rows)
@settings(**SETTINGS)
def test_rolling_count_sliced_equals_plain(spark, data):
    """W1 skew-hardened twin: (key, time-slice) partitioning with overlap
    replication is value-identical to the single-partition-per-key form
    for every input — including slice-boundary and tied timestamps."""
    from fraud_detection_project_spark.operators.windows import (
        rolling_count_24h,
        rolling_count_sliced,
    )

    W = 100
    df = spark.createDataFrame(data, "key long, t long, cat string")
    plain = sorted(
        (r["key"], r["t"], r["cat"], r["cnt"])
        for r in rolling_count_24h(df, "key", "t", "cnt", window_seconds=W).collect()
    )
    sliced = sorted(
        (r["key"], r["t"], r["cat"], r["cnt"])
        for r in rolling_count_sliced(
            df, "key", "t", "cnt", window_seconds=W
        ).collect()
    )
    assert plain == sliced


@given(ips=st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_ip_roundtrip_identity(spark, ips):
    """F6/F7: int → dotted quad → int is the identity on uint32."""
    from fraud_detection_project_spark.functions.ip import int_to_ip, ip_to_int

    df = spark.createDataFrame([(i,) for i in ips], "ip long")
    out = df.select("ip", ip_to_int(int_to_ip("ip")).alias("back")).collect()
    assert all(r["ip"] == r["back"] for r in out)


@given(
    labels=st.lists(st.sampled_from([0, 0, 0, 1]), min_size=4, max_size=60).filter(
        lambda ls: len(set(ls)) == 2
    )
)
@settings(**SETTINGS)
def test_undersample_never_exceeds_original(spark, labels):
    """M7: per-class output count ≤ input count; minority never dropped
    below what Bernoulli sampling allows (fraction 1.0 → kept whole)."""
    from fraud_detection_project_spark.ml.imbalance import undersample_majority

    df = spark.createDataFrame([(i, l) for i, l in enumerate(labels)], "id long, label int")
    out = undersample_majority(df, "label")
    inc = {r["label"]: r["count"] for r in df.groupBy("label").count().collect()}
    outc = {r["label"]: r["count"] for r in out.groupBy("label").count().collect()}
    n_min = min(inc.values())
    minority = min(inc, key=inc.get)
    assert outc.get(minority) == n_min  # fraction 1.0 keeps every row
    for label, n in outc.items():
        assert n <= inc[label]


@given(
    left=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000), st.integers(0, 99)),
        min_size=1,
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_as_of_join_matches_bruteforce(spark, left, right):
    """Backward as-of: payload of the latest right row with t' <= t in
    the same key (exact matches allowed; ties on t' resolved identically
    by both the operator's ordering and the brute force below)."""
    from fraud_detection_project_spark.operators.joins import as_of_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, t long, lid long"
    )
    rdf = spark.createDataFrame(right, "k long, t long, payload long")
    got = {
        r["lid"]: r["payload"]
        for r in as_of_join(
            ldf, rdf, on="k", left_time="t", right_time="t", payload=["payload"]
        ).collect()
    }
    # brute force mirrors the operator's deterministic tie-break: among
    # right rows with max t' <= t, the one latest in the sort order
    for i, (k, t) in enumerate(left):
        cands = [(rt, p) for (rk, rt, p) in right if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, t, cands)


@given(
    points=st.lists(st.floats(0, 100, allow_nan=False), min_size=1, max_size=25),
    starts=st.lists(st.floats(0, 100, allow_nan=False), min_size=1, max_size=8),
    width=st.floats(0.5, 10),
)
@settings(**SETTINGS)
def test_binned_range_join_matches_bruteforce(spark, points, starts, width):
    """Disjoint intervals built from sorted distinct starts; every point
    must land in the covering interval or carry a NULL payload."""
    from fraud_detection_project_spark.operators.joins import binned_range_join

    ss = sorted(set(starts))
    ivals = []
    for i, s in enumerate(ss):
        hi = s + width
        if i + 1 < len(ss):
            hi = min(hi, ss[i + 1] - 1e-6)  # keep disjoint
        if hi > s:
            ivals.append((s, hi, f"tag{i}"))
    if not ivals:
        return
    fact = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)], "id long, p double"
    )
    dim = spark.createDataFrame(ivals, "lo double, hi double, tag string")
    got = {
        r["id"]: r["tag"]
        for r in binned_range_join(
            fact, dim, "p", "lo", "hi", ["tag"], how="left", bin_width=3.7
        ).collect()
    }
    assert len(got) == len(points)
    for i, p in enumerate(points):
        want = next((t for lo, hi, t in ivals if lo <= p <= hi), None)
        assert got[i] == want, (i, p, want)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000)), min_size=1, max_size=20
    ),
    right=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000), st.integers(0, 99)),
        min_size=1,
        max_size=20,
    ),
)
@settings(**SETTINGS)
def test_as_of_join_forward_matches_bruteforce(spark, left, right):
    """Forward as-of: payload of the earliest right row with t' >= t
    (ties resolved toward the operator's deterministic order)."""
    from fraud_detection_project_spark.operators.joins import as_of_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, t long, lid long"
    )
    rdf = spark.createDataFrame(right, "k long, t long, payload long")
    got = {
        r["lid"]: r["payload"]
        for r in as_of_join(
            ldf,
            rdf,
            on="k",
            left_time="t",
            right_time="t",
            payload=["payload"],
            direction="forward",
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rt, p) for (rk, rt, p) in right if rk == k and rt >= t]
        want = min(cands)[1] if cands else None
        assert got[i] == want, (i, k, t, cands)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=15
    ),
    right=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.integers(0, 50),
            st.one_of(st.none(), st.integers(0, 9)),
            st.one_of(st.none(), st.integers(0, 9)),
        ),
        min_size=1,
        max_size=15,
    ),
)
@settings(**SETTINGS)
def test_as_of_join_payload_carry_is_row_atomic(spark, left, right):
    """ADVICE r6 / VERDICT r6 item 5: when the matched right row holds a
    NULL in one payload field, that NULL must be carried whole (pandas
    merge_asof semantics). The old per-column last(ignorenulls) carry
    backfilled the NULL field from an OLDER right row, mixing fields of
    different rows; the struct carry makes the payload row-atomic."""
    from fraud_detection_project_spark.operators.joins import as_of_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, t long, lid long"
    )
    rdf = spark.createDataFrame(right, "k long, t long, pa int, pb int")
    got = {
        r["lid"]: (r["pa"], r["pb"])
        for r in as_of_join(
            ldf, rdf, on="k", left_time="t", right_time="t", payload=["pa", "pb"]
        ).collect()
    }

    def order_key(c):
        # mirrors the operator: (t, payload struct) with NULL fields
        # sorting FIRST ascending — the carried row is the max tuple
        rt, pa, pb = c
        return (
            rt,
            (pa is not None, pa if pa is not None else 0),
            (pb is not None, pb if pb is not None else 0),
        )

    for i, (k, t) in enumerate(left):
        cands = [(rt, pa, pb) for (rk, rt, pa, pb) in right if rk == k and rt <= t]
        want = tuple(max(cands, key=order_key)[1:]) if cands else (None, None)
        assert got[i] == want, (i, k, t, cands)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(
                list("abcdefghijklmnopqrstuvwxyz .,!?'\"0123456789\t\n")
            ),
            max_size=200,
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_text_function_invariants(spark, texts):
    """quality ∈ [0,1]; lang_id ∈ known codes; normalization idempotent;
    token counts non-negative and consistent."""
    from fraud_detection_project_spark.functions.text import (
        lang_id,
        normalized_text,
        quality_score,
        word_count,
    )

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        quality_score("text").alias("q"),
        lang_id("text").alias("lang"),
        word_count("text").alias("wc"),
        normalized_text("text").alias("norm1"),
        normalized_text(normalized_text("text")).alias("norm2"),
    ).collect()
    for r in rows:
        assert 0.0 <= r["q"] <= 1.0
        assert r["lang"] in {"en", "es", "fr", "de", "und"}
        assert r["wc"] >= 0
        assert r["norm1"] == r["norm2"]


@given(data=rows)
@settings(**SETTINGS)
def test_sessionize_matches_bruteforce(spark, data):
    """Sessionization: session ordinal == #{gaps > G among prior
    same-key events in time order} (ties keep one session)."""
    from fraud_detection_project_spark.operators.windows import sessionize

    G = 50
    df = spark.createDataFrame(data, "key long, t long, cat string")
    got = {
        (r["key"], r["t"]): r["session_id"]
        for r in sessionize(df, "key", "t", gap_seconds=G).collect()
    }
    by_key: dict[int, list[int]] = {}
    for k, t, _ in data:
        by_key.setdefault(k, []).append(t)
    for k, ts in by_key.items():
        ts = sorted(set(ts))
        sid = 0
        prev = None
        for t in ts:
            if prev is not None and t - prev > G:
                sid += 1
            assert got[(k, t)] == sid, (k, t)
            prev = t


# --- MERGE/upsert vs sequential dict-apply oracle ---------------------

merge_changes = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),          # key
        st.sampled_from(["x", "y", "z"]),                # payload
        st.sampled_from(["U", "U", "U", "D"]),           # op (deletes rarer)
    ),
    min_size=0,
    max_size=30,
)


@given(changes=merge_changes)
@settings(**SETTINGS)
def test_merge_apply_matches_dict_semantics(spark, changes):
    """merge_apply == applying the changeset to a dict in seq order:
    latest change per key wins, deletes remove, inserts appear — for
    BOTH join strategies (full-outer SMJ and broadcast split)."""
    from fraud_detection_project_spark.operators.merge import merge_apply

    base_rows = [(k, f"b{k}") for k in range(0, 8)]
    expect = dict(base_rows)
    for seq, (k, v, op) in enumerate(changes):
        if op == "D":
            expect.pop(k, None)
        else:
            expect[k] = v
    # latest-wins: replay in seq order IS the dict semantics above

    base = spark.createDataFrame(base_rows, "k long, v string")
    if changes:
        ch = spark.createDataFrame(
            [(k, v, op, seq) for seq, (k, v, op) in enumerate(changes)],
            "k long, v string, op string, seq long",
        )
    else:
        ch = spark.createDataFrame([], "k long, v string, op string, seq long")
    for bc in (False, True):
        got = {
            r["k"]: r["v"]
            for r in merge_apply(base, ch, ["k"], "seq", broadcast_changes=bc).collect()
        }
        assert got == expect, (bc, got, expect)


# --- table diff / winsorize properties --------------------------------


class TestDiffProperties:
    def test_diff_partition_of_keyspace(self, spark):
        """For random keyed frames: n_only_left + n_differing + n_equal
        == |left keys| and n_only_right + n_differing + n_equal ==
        |right keys| (unique keys per side) — diff classifies every key
        exactly once."""
        import random

        from fraud_detection_project_spark.operators.diff import diff_summary

        rng = random.Random(11)
        for _ in range(3):
            lk = rng.sample(range(100), rng.randint(10, 60))
            rk = rng.sample(range(100), rng.randint(10, 60))
            left = spark.createDataFrame(
                [(k, f"v{k % 7}") for k in lk], "k long, v string"
            )
            right = spark.createDataFrame(
                [(k, f"v{k % 5}") for k in rk], "k long, v string"
            )
            s = diff_summary(left, right, ["k"]).first()
            assert s["n_only_left"] + s["n_differing"] + s["n_equal"] == len(lk)
            assert s["n_only_right"] + s["n_differing"] + s["n_equal"] == len(rk)

    def test_diff_self_is_all_equal(self, spark):
        from fraud_detection_project_spark.operators.diff import diff_summary

        df = spark.createDataFrame(
            [(i, f"x{i}", float(i) if i % 3 else None) for i in range(50)],
            "k long, a string, b double",
        )
        s = diff_summary(df, df, ["k"]).first()
        assert (
            s["n_only_left"],
            s["n_only_right"],
            s["n_differing"],
            s["n_equal"],
        ) == (0, 0, 0, 50)


class TestWinsorizeProperties:
    def test_bounds_and_interior_preservation(self, spark):
        """Clipped values are exactly the input's [p_lo, p_hi]
        percentile bounds; interior values pass through untouched; row
        count and NULLs preserved. (Winsorize is deliberately NOT
        re-applied — interpolated percentiles of the clipped frame
        shift past the tie block at the boundary, so exact idempotence
        does not hold for quantile clipping; one fit, many transforms
        is the contract, same as every train-fitted prep op.)"""
        import random

        import numpy as np

        from fraud_detection_project_spark.ml.prep import winsorize

        rng = random.Random(3)
        data = [rng.gauss(0, 100) for _ in range(500)]
        df = spark.createDataFrame([(v,) for v in data] + [(None,)], "v double")
        out = [r["v"] for r in winsorize(df, ["v"], 0.1, 0.9).collect()]
        lo, hi = np.percentile(data, [10, 90])
        vals = [v for v in out if v is not None]
        assert len(vals) == len(data) and out.count(None) == 1
        assert abs(min(vals) - lo) < 1e-9 and abs(max(vals) - hi) < 1e-9
        clipped_in = sorted(v for v in data if lo <= v <= hi)
        clipped_out = sorted(v for v in vals if lo < v < hi)
        # every interior input survives bit-identical
        assert set(np.round(clipped_out, 12)) <= set(np.round(clipped_in, 12))


class TestBoilerplateProperties:
    docs_strategy = st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=10,
    )

    @given(docs=docs_strategy)
    @settings(**SETTINGS)
    def test_removal_is_idempotent(self, spark, docs):
        """Removing common lines cannot create new common lines, so a
        second pass is a no-op on the survivors."""
        from pyspark.sql import functions as F

        from fraud_detection_project_spark.operators.curation import (
            remove_boilerplate_lines,
        )

        df = spark.createDataFrame(
            [(i, "\n".join(lines)) for i, lines in enumerate(docs)],
            "doc_id long, text string",
        )
        once = remove_boilerplate_lines(
            df, F.split("text", "\n"), min_docs=2
        ).select(
            "doc_id", F.array_join("kept_lines", "\n").alias("text")
        )
        twice = remove_boilerplate_lines(
            once, F.split("text", "\n"), min_docs=2
        )
        # every doc survives with zero additional removals; empty docs
        # split to [''] which stays below any min_docs>=2 only if not
        # shared — shared empties are legitimately common lines, so
        # compare against the brute-force python model instead
        from collections import Counter

        def brute(doc_lines):
            freq = Counter()
            for lines in doc_lines:
                for line in set(lines):
                    freq[line] += 1
            return [
                [l for l in lines if freq[l] < 2] for lines in doc_lines
            ]

        want_once = brute([lines for lines in docs])
        got_once = {
            r["doc_id"]: (r["text"].split("\n") if r["text"] else [])
            for r in once.collect()
        }
        for i, lines in enumerate(want_once):
            got = got_once[i]
            if got == [""]:
                got = []
            assert got == lines, f"doc {i}: {got} != {lines}"
        want_twice = brute([v if v else [""] for v in want_once])
        got_twice = {
            r["doc_id"]: [
                l for l in r["kept_lines"]
            ]
            for r in twice.collect()
        }
        for i, lines in enumerate(want_twice):
            assert got_twice[i] == lines


class TestMomentsProperties:
    vals_and_shards = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=2,
        max_size=40,
    )

    @given(data=vals_and_shards)
    @settings(**SETTINGS)
    def test_any_sharding_matches_single_pass(self, spark, data):
        """Shard-merge is invariant to HOW rows were sharded: any
        assignment yields the single-pass global moments."""
        import statistics

        from fraud_detection_project_spark.operators.incremental import (
            merge_moments,
            moment_partials,
        )

        df = spark.createDataFrame(
            [(s, "g", v) for s, v in data], "shard int, g string, x double"
        )
        got = merge_moments(
            moment_partials(df, ["shard", "g"], "x"), ["g"]
        ).first()
        vals = [v for _, v in data]
        assert got["n"] == len(vals)
        assert got["mean"] == pytest.approx(
            statistics.fmean(vals), rel=1e-4, abs=1e-4
        )
        assert got["var_pop"] == pytest.approx(
            statistics.pvariance(vals), rel=1e-3, abs=1e-3
        )


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),  # order key
            st.integers(min_value=-100, max_value=100),  # value
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    n_parts=st.integers(min_value=1, max_value=8),
)
@settings(**SETTINGS)
def test_partitioned_prefix_sum_matches_sequential(spark, vals, n_parts):
    from fraud_detection_project_spark.operators.indexing import (
        partitioned_prefix_sum,
    )

    df = spark.createDataFrame(vals, "k long, v long").repartition(4)
    out = partitioned_prefix_sum(
        df, ["k"], "v", out_col="cs", num_partitions=n_parts
    )
    got = {r["k"]: r["cs"] for r in out.collect()}
    acc, want = 0, {}
    for k, v in sorted(vals):
        acc += v
        want[k] = acc
    assert got == want


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),  # order key
            st.integers(min_value=-100, max_value=100),  # int value
            st.one_of(  # nullable float value
                st.none(),
                st.floats(-100, 100, allow_nan=False),
            ),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    n_parts=st.integers(min_value=1, max_value=8),
)
@settings(**SETTINGS)
def test_partitioned_prefix_sum_multicolumn_matches_sequential(
    spark, vals, n_parts
):
    """Round-7: the multi-column form cumulates k columns in ONE range
    shuffle; each output must equal its own sequential scan, mixed
    int64/double dtypes and NULLs included (NULLs contribute 0)."""
    from fraud_detection_project_spark.operators.indexing import (
        partitioned_prefix_sum,
    )

    df = spark.createDataFrame(
        vals, "k long, a long, b double"
    ).repartition(3)
    out = partitioned_prefix_sum(
        df, ["k"], ["a", "b"], ["ca", "cb"], num_partitions=n_parts
    )
    got = {r["k"]: (r["ca"], r["cb"]) for r in out.collect()}
    acc_a, acc_b, want = 0, 0.0, {}
    for k, a, b in sorted(vals, key=lambda t: t[0]):
        acc_a += a
        acc_b += b if b is not None else 0.0
        want[k] = (acc_a, acc_b)
    for k, (wa, wb) in want.items():
        ga, gb = got[k]
        assert ga == wa
        assert abs(gb - wb) < 1e-9


@given(
    iv=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=200),  # start
            st.integers(min_value=1, max_value=50),  # length
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_interval_union_sweep_matches_point_cover(spark, iv):
    """The prior-running-max merge must equal brute-force point
    coverage: covered integer length == |{x : some [s, e) covers x}|
    per user (intervals here are half-open via e = s + len)."""
    rows = [(u, s, s + ln) for u, s, ln in iv]
    df = spark.createDataFrame(rows, "user_id long, s long, e long")
    from pyspark.sql.window import Window as W

    wprior = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wrun = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    new_seg = F.when(
        F.col("prior_end").isNull() | (F.col("s") > F.col("prior_end")), 1
    ).otherwise(0)
    seg = df.withColumn("prior_end", F.max("e").over(wprior)).withColumn(
        "seg_id", F.sum(new_seg).over(wrun)
    )
    got = {
        r["user_id"]: r["cov"]
        for r in seg.groupBy("user_id", "seg_id")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("user_id")
        .agg(F.sum(F.col("e") - F.col("s")).alias("cov"))
        .collect()
    }
    want = {}
    for u in {t[0] for t in rows}:
        pts = set()
        for uu, s, e in rows:
            if uu == u:
                pts.update(range(s, e))
        want[u] = len(pts)
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=1,
        max_size=80,
    )
)
@settings(max_examples=200, deadline=None)
def test_bz_peel_kernel_matches_brute_force(raw_edges):
    """The vectorized Batagelj-Zaversnik kernel behind k_core's local
    path (operators/graph.py:_peel_cores_canonical) is pure numpy —
    drive it directly against the textbook dict-based peel on random
    multigraph inputs, fed the canonical (u < v, distinct) edges the
    operator streams into its one task."""
    import numpy as np

    from fraud_detection_project_spark.operators.graph import (
        _peel_cores_canonical,
    )

    canon = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not canon:
        return
    und = set(canon) | {(b, a) for a, b in canon}
    cu = np.array([a for a, _ in canon], dtype=np.int64)
    cv = np.array([b for _, b in canon], dtype=np.int64)

    # brute: repeated min-degree peel
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
    deg = {v: len(ns) for v, ns in adj.items()}
    alive = set(adj)
    core, k = {}, 0
    while alive:
        k = max(k, min(deg[v] for v in alive))
        peel = [v for v in alive if deg[v] <= k]
        while peel:
            v = peel.pop()
            if v not in alive:
                continue
            core[v] = k
            alive.discard(v)
            for u in adj[v]:
                if u in alive:
                    deg[u] -= 1
                    if deg[u] <= k:
                        peel.append(u)

    ids, got = _peel_cores_canonical(cu, cv)
    assert {int(i): int(c) for i, c in zip(ids, got)} == core


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=-40, max_value=40),  # negatives included:
        st.integers(min_value=-40, max_value=40),  # min-id semantics must
    ),                                             # survive signed ids
    min_size=1,
    max_size=60,
)


@given(edges=edge_lists)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    """The single-task CC endgame (round 8: pd.factorize compaction +
    final min-id scatter) and the distributed star rounds must label
    every node with the smallest node id of its component — checked
    against a plain python union-find over the same edges (self-loops,
    duplicates, both orientations, NEGATIVE ids all in the generator's
    range)."""
    from fraud_detection_project_spark.operators.dedup import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    # local_threshold_edges=0 forces the distributed star rounds
    dist = {
        r["id"]: r["cluster_id"]
        for r in connected_components(df, local_threshold_edges=0).collect()
    }

    # reference union-find
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        if a == b:
            continue
        nodes.update((a, b))
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    want = {}
    for members in comp.values():
        lo = min(members)
        for n in members:
            want[n] = lo

    assert got == want
    assert dist == want


@given(edges=edge_lists)
@settings(**{**SETTINGS, "max_examples": 8})
def test_k_core_distributed_matches_brute_peel(spark, edges):
    """The distributed H-index loop (forced by local_threshold_edges=0)
    must give every node its exact core number — checked against the
    dict-based peel of tests/test_graph_ops.py over the same edges
    (self-loops, duplicates, both orientations, negative ids)."""
    from fraud_detection_project_spark.operators.graph import k_core
    from tests.test_graph_ops import TestKCore

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["core"]
        for r in k_core(df, local_threshold_edges=0).collect()
    }
    assert got == TestKCore._brute_core(edges)
