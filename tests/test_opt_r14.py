"""Round-14 optimization-round regression tests.

Each optimization must be invisible to results while changing the work
done (OPTIMIZATION_r14.md): the hashed n-gram mapInArrow kernel, the
hot-shingle pre-prune, the CC raw-edge endgame, the single-scan CMS
audit, and the AQE-only shuffled-hash-join conf.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from fraud_detection_project_spark.session import get_spark

    s = get_spark("test-opt-r14")
    yield s


# deliberately nasty corpus: unicode full-vs-simple casing (U+0130),
# empty / all-separator / NULL text, repeats, single tokens
EDGE_DOCS = [
    (1, "the cat sat on the mat the cat"),
    (2, "İstanbul ÉCOLE in İzmir"),
    (3, ""),
    (4, "!!! ??? ..."),
    (5, None),
    (6, "x"),
    (7, "a b a b a"),
    (8, "ﬀ ligature Å ring ß sharp"),
    (9, "tab\tand\nnewline  runs"),
]


class TestHashedNgramKernel:
    """The mapInArrow gram-count kernel (round 14) must be structurally
    identical to the JVM explode+groupBy path it replaced: same per-doc
    (count) multisets, same distinct-gram count per doc, and same
    CROSS-doc gram identity (two docs share a kernel gram key iff they
    share the gram string)."""

    def _jvm_reference(self, spark, docs, n):
        # the pre-round-14 JVM shape, gram STRINGS (hash-free ground truth)
        from fraud_detection_project_spark.operators.texteval import (
            ngram_counts,
        )

        out = {}
        for r in ngram_counts(docs, "doc_id", "text", n, hashed=False).collect():
            out.setdefault(r["doc_id"], {})[r["gram"]] = r["c"]
        return out

    def _kernel(self, spark, docs, n):
        from fraud_detection_project_spark.operators.texteval import (
            _hashed_ngram_counts_kernel,
        )

        out = {}
        for r in _hashed_ngram_counts_kernel(docs, "doc_id", "text", n).collect():
            out.setdefault(r["doc_id"], {})[r["gram"]] = r["c"]
        return out

    @pytest.mark.parametrize("n", [1, 2, 3])
    def test_structure_matches_jvm_path(self, spark, n):
        docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
        ref = self._jvm_reference(spark, docs, n)
        got = self._kernel(spark, docs, n)
        assert set(ref) == set(got), "per-doc coverage differs"
        # cross-doc consistency: build the string->key map and require a
        # bijection over the union of grams
        str_to_key = {}
        key_to_str = {}
        for d, grams in ref.items():
            kg = got[d]
            assert sorted(grams.values()) == sorted(kg.values()), (
                f"doc {d}: count multiset differs"
            )
            assert len(grams) == len(kg), f"doc {d}: distinct grams differ"
        # reconstruct the mapping by matching (doc, count) groups: for
        # every doc, the multiset of counts matches; cross-doc identity
        # is checked via pairwise shared-gram counts
        docs_ids = sorted(ref)
        for i in docs_ids:
            for j in docs_ids:
                if i >= j:
                    continue
                shared_ref = len(set(ref[i]) & set(ref[j]))
                shared_got = len(set(got[i]) & set(got[j]))
                assert shared_ref == shared_got, (
                    f"docs {i},{j}: shared-gram count differs "
                    f"({shared_ref} vs {shared_got})"
                )

    def test_empty_token_convention_n1(self, spark):
        # non-null all-separator text must contribute ONE empty-token
        # gram at n=1 (the oracle's [''] convention); NULL text none
        docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
        got = self._kernel(spark, docs, 1)
        assert 3 in got and list(got[3].values()) == [1]
        assert 4 in got and list(got[4].values()) == [1]
        assert got[3] == got[4]  # same (empty) gram key
        assert 5 not in got

    def test_hot_shingle_preprune_matches_postfilter(self, spark):
        """ADVICE r13 (high): the stop-shingle guard moved BEFORE the
        posting-list aggregation (count + anti-join, constant memory)
        — pair results must be identical to the post-aggregation size
        filter, including the boundary df == max_shingle_df (kept) and
        df == max_shingle_df + 1 (dropped)."""
        from fraud_detection_project_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        # "common base" is a 3-shingle run shared by all 4 docs →
        # its shingles have df 4; unique tails differentiate docs
        docs = spark.createDataFrame(
            [
                (1, "common base shingle run one two alpha beta gamma"),
                (2, "common base shingle run one two alpha beta delta"),
                (3, "common base shingle run three four epsilon"),
                (4, "common base shingle run three four zeta"),
            ],
            ["doc_id", "text"],
        )

        def run(max_df):
            return sorted(
                (r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in ngram_jaccard_pairs(
                    docs, threshold=0.05, max_shingle_df=max_df
                ).collect()
            )

        # reference: brute-force jaccard with shingles of df <= max_df
        import itertools

        def brute(max_df):
            toks = {
                r["doc_id"]: r["text"].split() for r in docs.collect()
            }
            sh = {
                d: {tuple(t[i : i + 3]) for i in range(len(t) - 2)}
                for d, t in toks.items()
            }
            df_count = {}
            for s in sh.values():
                for g in s:
                    df_count[g] = df_count.get(g, 0) + 1
            kept = {
                d: {g for g in s if df_count[g] <= max_df}
                for d, s in sh.items()
            }
            out = []
            for a, b in itertools.combinations(sorted(sh), 2):
                common = len(kept[a] & kept[b])
                if common == 0:
                    continue
                jac = common / (len(sh[a]) + len(sh[b]) - common)
                if jac >= 0.05:
                    out.append((a, b, round(jac, 9)))
            return sorted(out)

        for max_df in (1, 2, 3, 4, 1000):
            assert run(max_df) == brute(max_df), f"max_df={max_df}"

    def test_regexp_count_rewrites_preserve_null_conventions(self, spark):
        """punct_ratio / bpe_ish_token_count moved to one-pass
        regexp_count (round 14): values must match the old
        replace/extract_all forms on every input, including the legacy
        size(NULL) = -1 convention bpe_ish inherited."""
        from fraud_detection_project_spark.functions.text import (
            bpe_ish_token_count,
            punct_ratio,
        )

        rows = [
            (1, "Hello, WORLD!! 123"),
            (2, ""),
            (3, "!!!???"),
            (4, None),
            (5, "é ü ñ 漢字"),
            (6, "a1b2c3"),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        old_punct = F.when(
            F.length("text") > 0,
            (
                F.length("text")
                - F.length(F.regexp_replace("text", r"[^A-Za-z0-9\s]", ""))
            ).cast("double")
            / F.length("text").cast("double"),
        ).otherwise(F.lit(0.0))
        old_bpe = F.size(
            F.regexp_extract_all(
                "text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
            )
        ).cast("long")
        got = df.select(
            "id",
            punct_ratio("text").alias("np"),
            old_punct.alias("op"),
            bpe_ish_token_count("text").alias("nb"),
            old_bpe.alias("ob"),
        ).collect()
        for r in got:
            assert r.np == r.op, f"punct row {r.id}: {r.np} != {r.op}"
            assert r.nb == r.ob, f"bpe row {r.id}: {r.nb} != {r.ob}"

    def test_weighted_cms_table_equals_raw_build(self, spark):
        """Round 14: cms_heavy_hitters builds its sketch from the
        pre-aggregated exact counts (one scan). The weighted build
        must be VALUE-identical to the raw-row build, nulls included."""
        from fraud_detection_project_spark.operators.sketches import (
            count_min_table,
        )

        rows = [(k,) for k in [1, 1, 1, 2, 2, 3, None, None, 7, 7, 7, 7]]
        raw = spark.createDataFrame(rows, "user_id bigint")
        exact = raw.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
        a = sorted(
            map(tuple, count_min_table(raw, "user_id", width=16).collect())
        )
        b = sorted(
            map(
                tuple,
                count_min_table(exact, "user_id", width=16, weight="c").collect(),
            )
        )
        assert a == b

    def test_cms_heavy_hitters_single_scan(self, spark):
        """The q19 plan must read events.parquet exactly once: after
        execution, AQE's FINAL plan shows one FileScan — the sketch
        branch reuses the probe branch's user_id exchange."""
        from fraud_detection_project_spark.queries import QUERIES

        df = QUERIES["cms_heavy_hitters"](spark, "/root/testdata/sf0.001")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final
        assert final.count("FileScan parquet") == 1, final
        assert "ReusedExchange" in final, final

    def test_cc_duplicate_and_symmetric_edges_unchanged(self, spark):
        """Round 14 removed the pre-endgame distinct: the local CC
        kernel must be duplicate-insensitive — duplicated and
        symmetric (both-orientation) inputs give identical clusters on
        BOTH paths."""
        from fraud_detection_project_spark.operators.dedup import (
            connected_components,
        )

        clean = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
        noisy = clean + [(b, a) for a, b in clean] + clean * 3
        cdf = spark.createDataFrame(clean, ["src", "dst"])
        ndf = spark.createDataFrame(noisy, ["src", "dst"])

        def clusters(df, **kw):
            return sorted(
                (r["id"], r["cluster_id"])
                for r in connected_components(df, **kw).collect()
            )

        ref = clusters(cdf)
        assert clusters(ndf) == ref  # local endgame, raw edges
        assert clusters(ndf, local_threshold_edges=0) == ref  # star rounds

    def test_shj_threshold_off_is_result_identical(self, spark):
        """VERDICT r13 item 8: the AQE SMJ→SHJ rewrite threshold is a
        strategy-only conf — running a representative join query with
        the threshold at 0 (rewrite disabled, pure sort-merge) must
        produce identical results."""
        from fraud_detection_project_spark.queries import QUERIES

        conf = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
        old = spark.conf.get(conf)
        sf = "/root/testdata/sf0.001"
        try:
            spark.conf.set(conf, str(64 * 1024 * 1024))
            with_shj = sorted(
                map(tuple, QUERIES["rouge2_adjacent_docs"](spark, sf).collect())
            )
            spark.conf.set(conf, "0")
            smj_only = sorted(
                map(tuple, QUERIES["rouge2_adjacent_docs"](spark, sf).collect())
            )
        finally:
            spark.conf.set(conf, old)
        assert with_shj == smj_only

    def test_hashed_flag_routes_to_kernel(self, spark):
        from fraud_detection_project_spark.operators.texteval import (
            ngram_counts,
        )

        docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
        plan = ngram_counts(
            docs, "doc_id", "text", 2, hashed=True
        )._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan
        assert "Exchange" not in plan, "kernel path must be shuffle-free"


class TestCheckpointRelease:
    """Round-14 §5 fix: iterative graph loops checkpoint per round with
    DISK_ONLY and explicitly release the superseded generation — at
    ~sf10 the old MEMORY_AND_DISK blocks (read-locked by consumers,
    unevictable) starved the next round's map-side aggregates
    (AGGREGATE_OUT_OF_MEMORY on the initial BytesToBytesMap alloc)."""

    def test_release_checkpoint_drops_blocks(self, spark):
        from fraud_detection_project_spark.lineage import release_checkpoint

        df = spark.range(100).localCheckpoint(eager=True)
        jsc = spark.sparkContext._jsc
        rid = df._jdf.queryExecution().analyzed().rdd().id()
        assert rid in list(jsc.getPersistentRDDs().keys())
        release_checkpoint(df)
        assert rid not in list(jsc.getPersistentRDDs().keys())

    def test_release_checkpoint_noop_on_plain_frame(self, spark):
        from fraud_detection_project_spark.lineage import release_checkpoint

        # not a checkpoint — must not raise, must not touch anything
        release_checkpoint(spark.range(5).filter(F.col("id") > 1))

    def test_release_checkpoint_propagates_py4j_failure(self):
        """A moved py4j internal must fail the loop loudly, not leave
        every round's checkpoint pinned in the block manager."""
        from fraud_detection_project_spark.lineage import release_checkpoint

        class _MovedInternals:
            @property
            def _jdf(self):
                raise AttributeError("queryExecution moved")

        with pytest.raises(AttributeError, match="queryExecution moved"):
            release_checkpoint(_MovedInternals())

    def test_cc_distributed_loop_releases_superseded_rounds(self, spark):
        from fraud_detection_project_spark.operators.dedup import (
            connected_components,
        )

        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keys())
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], ["src", "dst"]
        )
        out = connected_components(edges, local_threshold_edges=0)
        got = {
            (r["id"], r["cluster_id"]) for r in out.collect()
        }
        assert got == {
            (1, 1), (2, 1), (3, 1),
            (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20),
        }
        # only the FINAL round's checkpoint (referenced by `out`) may
        # remain persisted; every superseded star round was released
        leaked = set(jsc.getPersistentRDDs().keys()) - before
        assert len(leaked) <= 1, f"superseded checkpoints leaked: {leaked}"

    def test_kcore_distributed_loop_releases_superseded_rounds(self, spark):
        from fraud_detection_project_spark.operators.graph import k_core

        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keys())
        # K4 on 0-3 (core 3) with a path 3-10-11 (core 1)
        edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        edges += [(3, 10), (10, 11)]
        out = k_core(
            spark.createDataFrame(edges, ["src", "dst"]),
            local_threshold_edges=0,
        )
        got = {(r["id"], r["core"]) for r in out.collect()}
        assert got == {(0, 3), (1, 3), (2, 3), (3, 3), (10, 1), (11, 1)}
        # only the FINAL round's estimates (referenced by `out`) may
        # remain persisted; the edge copies and every superseded round
        # were released
        leaked = set(jsc.getPersistentRDDs().keys()) - before
        assert len(leaked) <= 1, f"superseded checkpoints leaked: {leaked}"
