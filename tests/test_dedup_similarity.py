"""Dedup + similarity + multimodal operator tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fraud_detection_project_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    word_shingles,
)
from fraud_detection_project_spark.operators.multimodal import (
    extract_features,
    frame_sample,
)
from fraud_detection_project_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_near_dup_pairs,
    cosine_topk,
    ivf_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE),  # exact dup
        Row(doc_id=2, text="The quick brown fox JUMPS over the lazy dog, while the cat watches from the warm windowsill and the birds sing in the garden outside!!"),  # normalizes to dup
        Row(doc_id=3, text=BASE.replace("garden", "meadow")),  # near dup
        Row(doc_id=4, text="completely different content about spark query engines and distributed columnar execution with shuffles and partitions everywhere all the time"),
        Row(doc_id=5, text="tiny"),
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(7)
    rows = []
    base = rng.normal(size=16)
    for i in range(50):
        v = rng.normal(size=16)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    # 50/51: near-duplicates of each other
    rows.append(Row(vec_id=50, embedding=[float(x) for x in base]))
    rows.append(Row(vec_id=51, embedding=[float(x) for x in base + rng.normal(size=16) * 0.01]))
    return spark.createDataFrame(rows)


class TestExactDedup:
    def test_groups_normalized_dups(self, docs):
        out = {r["keep_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
        assert out[0] == 3  # docs 0,1,2 normalize identically
        assert out[3] == 1 and out[4] == 1 and out[5] == 1

    def test_idempotent(self, docs, spark):
        survivors = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
        once = docs.join(survivors, "doc_id")
        again = exact_dedup(once)
        assert again.count() == once.count()


class TestShingles:
    def test_counts(self, spark):
        df = spark.createDataFrame([Row(t="a b c d")])
        got = df.select(word_shingles("t", 3).alias("s")).first()["s"]
        assert got == ["a b c", "b c d"]

    def test_short_doc(self, spark):
        df = spark.createDataFrame([Row(t="a b")])
        assert df.select(word_shingles("t", 3).alias("s")).first()["s"] == ["a b"]


class TestMinHash:
    def test_finds_near_dups_not_distinct(self, docs):
        pairs = minhash_lsh_pairs(docs, num_hashes=64, bands=16).collect()
        got = {(r["id_a"], r["id_b"]): r["sig_agreement"] for r in pairs}
        # exact dups always collide with agreement 1.0
        assert got[(0, 1)] == 1.0
        assert got[(0, 2)] == 1.0
        # near-dup 3 should be caught with high agreement
        assert (0, 3) in got and got[(0, 3)] > 0.5
        # unrelated docs must not pair
        assert all(4 not in p and 5 not in p for p in got)

    def test_deterministic(self, docs):
        a = sorted(map(tuple, minhash_lsh_pairs(docs).collect()))
        b = sorted(map(tuple, minhash_lsh_pairs(docs).collect()))
        assert a == b


class TestSimHash:
    def test_near_dups_within_hamming(self, docs):
        pairs = simhash_near_dup_pairs(docs, max_hamming=3).collect()
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
        assert got[(0, 1)] == 0
        assert got[(0, 2)] == 0
        assert all(4 not in p and 5 not in p for p in got)

    def test_blocking_lossless_on_real_docs(self, spark):
        """Pigeonhole chunk blocking finds EXACTLY the pairs a brute-force
        hamming self-join finds, on the real sf0.001 documents table — the
        losslessness claim behind the rows-only driver entry, proven on
        real data rather than a synthetic fixture."""
        from fraud_detection_project_spark.catalog import load_table
        from fraud_detection_project_spark.operators.dedup import simhash
        from pyspark.sql import functions as F
        from tests.conftest import SF_SMOKE

        docs = load_table(spark, SF_SMOKE, "documents")
        blocked = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_dup_pairs(docs, max_hamming=3).collect()
        }
        fp = docs.select(F.col("doc_id"), simhash("text").alias("h"))
        a, b = fp.alias("a"), fp.alias("b")
        brute = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in (
                a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
                .select(
                    F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"),
                    F.bit_count(
                        F.col("a.h").bitwiseXOR(F.col("b.h"))
                    ).alias("hamming"),
                )
                .filter(F.col("hamming") <= 3)
            ).collect()
        }
        assert blocked == brute
        assert len(brute) > 0  # the check bites: real near-dups exist


class TestNgramJaccard:
    def test_exact_scores(self, docs):
        pairs = ngram_jaccard_pairs(docs, threshold=0.3).collect()
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
        assert abs(got[(0, 1)] - 1.0) < 1e-9
        assert 0.3 < got[(0, 3)] < 1.0
        assert (0, 4) not in got


class TestCosineTopK:
    def test_exact_matches_numpy(self, vecs):
        q = [1.0] * 16
        out = cosine_topk(vecs, q, k=5).collect()
        pdf = vecs.toPandas()
        qa = np.asarray(q)
        sims = {
            int(r["vec_id"]): float(
                np.dot(r["embedding"], qa)
                / (np.linalg.norm(r["embedding"]) * np.linalg.norm(qa))
            )
            for _, r in pdf.iterrows()
        }
        expect = sorted(sims, key=lambda i: (-sims[i], i))[:5]
        assert [r["vec_id"] for r in out] == expect
        for r in out:
            assert abs(r["cosine_sim"] - sims[r["vec_id"]]) < 1e-9

    def test_ann_recall_on_top1(self, vecs):
        # query ≈ vec 50 → exact top1 is 50; ANN must find it
        pdf = vecs.filter(F.col("vec_id") == 50).first()
        q = list(pdf["embedding"])
        ann = ann_topk_lsh(vecs, q, k=3, bits=8, probe_hamming=2)
        assert [r["vec_id"] for r in ann.collect()][0] == 50

    def test_ivf_finds_self(self, vecs):
        q = list(vecs.filter(F.col("vec_id") == 50).first()["embedding"])
        out = ivf_topk(vecs, q, k=3, n_centroids=8, nprobe=4)
        assert [r["vec_id"] for r in out.collect()][0] == 50

    def test_near_dup_pairs(self, vecs):
        pairs = cosine_near_dup_pairs(vecs, threshold=0.99, bits=8)
        got = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
        assert (50, 51) in got


class TestCosineAllPairsExact:
    def _numpy_pairs(self, rows, thr):
        ids = np.asarray([r.vec_id for r in rows])
        mat = np.asarray([r.embedding for r in rows], dtype=np.float64)
        mat = mat / np.linalg.norm(mat, axis=1)[:, None]
        sims = mat @ mat.T
        out = set()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if sims[i, j] >= thr:
                    out.add((int(ids[i]), int(ids[j]), round(float(sims[i, j]), 9)))
        return out

    def test_matches_numpy_multiblock(self, vecs):
        from fraud_detection_project_spark.operators.similarity import (
            cosine_all_pairs_exact,
        )

        expected = self._numpy_pairs(vecs.collect(), 0.3)
        # block_rows=16 → 4 blocks → 10 block pairs: exercises both the
        # same-block (triangular) and cross-block (min/max id) branches
        out = cosine_all_pairs_exact(vecs, 0.3, block_rows=16)
        got = {
            (r.id_a, r.id_b, round(r.cosine_sim, 9)) for r in out.collect()
        }
        assert got == expected

    def test_block_count_invariant(self, vecs):
        from fraud_detection_project_spark.operators.similarity import (
            cosine_all_pairs_exact,
        )

        one = cosine_all_pairs_exact(vecs, 0.3, block_rows=10_000)
        many = cosine_all_pairs_exact(vecs, 0.3, block_rows=7)
        key = lambda df: sorted(
            (r.id_a, r.id_b, round(r.cosine_sim, 9)) for r in df.collect()
        )
        assert key(one) == key(many)

    def test_no_driver_collect_of_vectors(self):
        # regression guard for the round-1 scale flag: the operator
        # source must not call DataFrame.collect()
        import inspect

        from fraud_detection_project_spark.operators import similarity

        src = inspect.getsource(similarity.cosine_all_pairs_exact)
        assert ".collect()" not in src


class TestMultimodal:
    def test_extract_features_contract(self, spark):
        rows = [Row(media_id=i, payload=bytes([i] * 100)) for i in range(5)]
        df = spark.createDataFrame(rows)
        out = extract_features(df, "payload", id_col="media_id").collect()
        assert len(out) == 5
        byid = {r["media_id"]: r for r in out}
        assert byid[3]["n_bytes"] == 100
        assert abs(byid[3]["mean_intensity"] - 3.0) < 1e-9  # fake decode = payload bytes
        assert len(byid[3]["feat"]) == 8

    def test_strict_raises_without_decoder(self, spark):
        df = spark.createDataFrame([Row(media_id=1, payload=b"xx")])
        with pytest.raises(NotImplementedError):
            extract_features(df, "payload", id_col="media_id", strict=True)

    def test_frame_sample_shape(self, spark):
        df = spark.createDataFrame([Row(media_id=1, payload=bytes(range(64)))])
        out = frame_sample(df, "payload", id_col="media_id", every_n=4).collect()
        assert [r["frame_idx"] for r in out] == [0, 4]
        assert all(len(r["frame_feat"]) == 8 for r in out)


class TestStdlibCodecs:
    """Real (not stubbed) WAV / PNM codecs — pure round-trip units."""

    def test_wav_roundtrip_mono16(self):
        import numpy as np

        from fraud_detection_project_spark.operators.multimodal import (
            decode_wav,
            wav_bytes,
        )

        samples = np.array([0, 1, -1, 32767, -32768, 100], dtype=np.int16)
        payload = wav_bytes(samples)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        assert len(payload) == 44 + 2 * len(samples)
        out = decode_wav(payload)
        assert out.dtype == np.float64 and out.shape == (6,)
        assert (out == samples.astype(np.float64)).all()

    def test_wav_stereo_shape(self):
        import io
        import numpy as np
        import wave

        from fraud_detection_project_spark.operators.multimodal import decode_wav

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(
                np.array([1, 2, 3, 4], dtype="<i2").tobytes()
            )  # 2 frames × 2 ch
        out = decode_wav(buf.getvalue())
        assert out.shape == (2, 2)
        assert out.tolist() == [[1.0, 2.0], [3.0, 4.0]]

    def test_pnm_roundtrip_rgb_and_gray(self):
        import numpy as np

        from fraud_detection_project_spark.operators.multimodal import (
            decode_pnm,
            ppm_bytes,
        )

        rgb = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
        out = decode_pnm(ppm_bytes(rgb))
        assert out.shape == (2, 3, 3) and (out == rgb).all()

        gray = np.arange(4 * 5, dtype=np.uint8).reshape(4, 5)
        out = decode_pnm(ppm_bytes(gray))
        assert out.shape == (4, 5) and (out == gray).all()

    def test_pnm_header_comments(self):
        import numpy as np

        from fraud_detection_project_spark.operators.multimodal import decode_pnm

        raster = bytes(range(18))  # w=3, h=2, 3 channels
        payload = b"P6\n# a comment\n 3 # trailing\n2\n255\n" + raster
        out = decode_pnm(payload)
        assert out.shape == (2, 3, 3)
        assert out.ravel().tolist() == [float(b) for b in raster]

    def test_auto_sniffs_and_rejects(self):
        import numpy as np

        from fraud_detection_project_spark.operators.multimodal import (
            decode_auto,
            ppm_bytes,
            wav_bytes,
        )

        assert decode_auto(wav_bytes(np.array([5, -5], dtype=np.int16))).shape == (2,)
        assert decode_auto(
            ppm_bytes(np.zeros((2, 2, 3), dtype=np.uint8))
        ).shape == (2, 2, 3)
        with pytest.raises(ValueError):
            decode_auto(b"GIF89a.....")

    def test_strict_extract_with_builtin_decoder(self, spark):
        """strict=True no longer raises when a real codec is named."""
        import numpy as np

        from fraud_detection_project_spark.operators.multimodal import wav_bytes

        payload = wav_bytes(np.array([10, 20, 30], dtype=np.int16))
        df = spark.createDataFrame([Row(media_id=1, payload=payload)])
        r = extract_features(
            df, "payload", id_col="media_id", decoder="wav", strict=True
        ).first()
        assert r["n_bytes"] == len(payload)
        assert abs(r["mean_intensity"] - 20.0) < 1e-9


class TestConnectedComponents:
    @staticmethod
    def _brute_cc(edges):
        """Union-find ground truth: node -> min node id in component."""
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        return {n: find(n) for n in parent}

    def _check(self, spark, edges):
        from fraud_detection_project_spark.operators.dedup import connected_components

        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["id"], r["cluster_id"])
            for r in connected_components(df).collect()
        }
        assert got == set(self._brute_cc(edges).items())

    def test_two_triangles_bridged(self, spark):
        self._check(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10)])

    def test_chain_and_star(self, spark):
        # long chain stresses the O(log n) contraction; star is the easy case
        chain = [(i, i + 1) for i in range(20)]
        star = [(100, x) for x in range(101, 110)]
        self._check(spark, chain + star)

    def test_random_graphs_match_union_find(self, spark):
        import random

        rng = random.Random(7)
        for trial in range(3):
            n = rng.randint(5, 40)
            edges = [
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randint(n // 2, 2 * n))
            ]
            edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
            self._check(spark, edges)

    def test_distributed_star_path_matches_local_path(self, spark):
        # local_threshold_edges=0 forces the large-star/small-star
        # rounds (the 100 TB path); must agree with the single-task
        # min-label kernel used below the threshold.
        import random

        from fraud_detection_project_spark.operators.dedup import (
            connected_components,
        )

        rng = random.Random(31)
        edges = [
            (rng.randrange(50), rng.randrange(50)) for _ in range(70)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src long, dst long")
        dist = {
            (r["id"], r["cluster_id"])
            for r in connected_components(
                df, local_threshold_edges=0
            ).collect()
        }
        assert dist == set(self._brute_cc(edges).items())

    def test_self_loops_and_dups_ignored(self, spark):
        self._check(spark, [(1, 1), (1, 2), (2, 1), (1, 2), (5, 5), (5, 6)])


class TestQuantizeInt8:
    def test_bounds_and_reconstruction(self, spark):
        import numpy as np

        from fraud_detection_project_spark.operators.similarity import quantize_int8

        rng = np.random.RandomState(3)
        rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
        rows.append((100, [0.0] * 16))  # all-zero vector
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = quantize_int8(df).collect()
        assert len(out) == 41
        for r in out:
            assert all(-127 <= v <= 127 for v in r["q"])
            # symmetric scalar quantization error bound: half a step
            assert r["max_err"] <= r["scale"] / 2 + 1e-12
            assert r["n_sat"] >= 1 or r["vec_id"] == 100
        zero = [r for r in out if r["vec_id"] == 100][0]
        assert zero["scale"] == 1.0 and zero["sum_q"] == 0 and zero["max_err"] == 0.0

    def test_ivf_default_centroids_deterministic(self, spark):
        from fraud_detection_project_spark.operators.similarity import ivf_topk

        import numpy as np

        rng = np.random.RandomState(5)
        rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = [float(x) for x in rng.normal(size=8)]
        a = [r["vec_id"] for r in ivf_topk(df, q, k=5, n_centroids=8, nprobe=8).collect()]
        b = [r["vec_id"] for r in ivf_topk(df, q, k=5, n_centroids=8, nprobe=8).collect()]
        assert a == b
        # nprobe = n_centroids probes every cell -> exact top-k
        from fraud_detection_project_spark.operators.similarity import cosine_topk

        exact = [r["vec_id"] for r in cosine_topk(df, q, 5).collect()]
        assert a == exact


class TestPageRank:
    @staticmethod
    def _numpy_pagerank(edges, damping=0.85, n_iter=10):
        import numpy as np

        nodes = sorted({x for e in edges for x in e})
        ix = {v: i for i, v in enumerate(nodes)}
        n = len(nodes)
        adj = {}
        for s, d in set(edges):
            adj.setdefault(ix[s], []).append(ix[d])
        r = np.full(n, 1.0 / n)
        for _ in range(n_iter):
            nr = np.zeros(n)
            dangling = 0.0
            for i in range(n):
                if i in adj:
                    for j in adj[i]:
                        nr[j] += r[i] / len(adj[i])
                else:
                    dangling += r[i]
            r = (1 - damping) / n + damping * (nr + dangling / n)
        return {v: r[ix[v]] for v in nodes}

    def test_matches_numpy_power_iteration(self, spark):
        from fraud_detection_project_spark.operators.graph import pagerank

        edges = [
            (1, 2), (2, 3), (3, 1), (3, 4), (4, 5),
            (5, 4), (6, 4), (7, 1),  # 5 has out-edge; 2->3 chain; no edge from 8
            (8, 1),
        ]
        want = self._numpy_pagerank(edges)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["id"]: r["rank"] for r in pagerank(df).collect()}
        assert got.keys() == want.keys()
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
        assert abs(sum(got.values()) - 1.0) < 1e-9

    def test_distributed_path_matches_local_path(self, spark):
        # local_threshold_edges=0 forces the join-per-iteration
        # distributed path; must agree with the single-task bincount
        # kernel to float tolerance.
        from fraud_detection_project_spark.operators.graph import pagerank

        edges = [
            (1, 2), (2, 3), (3, 1), (3, 4), (4, 5),
            (5, 4), (6, 4), (7, 1), (8, 1),
        ]
        want = self._numpy_pagerank(edges)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["id"]: r["rank"]
            for r in pagerank(df, local_threshold_edges=0).collect()
        }
        assert got.keys() == want.keys()
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])

    def test_dangling_mass_conserved(self, spark):
        from fraud_detection_project_spark.operators.graph import pagerank

        # star into a sink: all mass funnels through the dangling node
        edges = [(i, 99) for i in range(1, 6)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["id"]: r["rank"] for r in pagerank(df, n_iter=5).collect()}
        assert abs(sum(got.values()) - 1.0) < 1e-9
        assert got[99] == max(got.values())


class TestFuzzyPairs1Edit:
    @staticmethod
    def _lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    def test_blocking_loses_no_pair(self, spark):
        from fraud_detection_project_spark.operators.dedup import fuzzy_pairs_1edit

        words = [
            "spark", "spork", "spark", "sparks", "park", "spak",   # subs/ins/del/equal
            "stark", "shark", "sharks", "bolt", "belt", "belts",
            "a", "b", "ab", "", "widget", "widgets", "midget",
        ]
        rows = [(i, w) for i, w in enumerate(words)]
        df = spark.createDataFrame(rows, "id long, s string")
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in fuzzy_pairs_1edit(df, "s", "id").collect()
        }
        want = {
            (i, j, self._lev(a, b))
            for i, a in rows for j, b in rows
            if i < j and self._lev(a, b) <= 1
        }
        assert got == want
        # sanity: distance-2 pairs excluded (e.g. "spark" vs "shark"? that's 1 sub -> included;
        # "bolt" vs "belts" is 2 -> excluded)
        ids = {w: i for i, w in reversed(rows)}
        assert (min(ids["bolt"], ids["belts"]), max(ids["bolt"], ids["belts"])) not in {
            (a, b) for a, b, _ in got
        }


class TestRandomProject:
    def _vecs(self, spark, n=40, dim=32, seed=3):
        import numpy as np

        rng = np.random.RandomState(seed)
        rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_shape_and_determinism(self, spark):
        from fraud_detection_project_spark.operators.similarity import (
            random_project,
        )

        df = self._vecs(spark, n=5, dim=32)
        a = random_project(df, dim=32, out_dim=8).collect()
        b = random_project(df, dim=32, out_dim=8).collect()
        assert all(len(r["embedding"]) == 8 for r in a)
        assert [r["embedding"] for r in sorted(a, key=lambda r: r["vec_id"])] == [
            r["embedding"] for r in sorted(b, key=lambda r: r["vec_id"])
        ]

    def test_distances_preserved_in_expectation(self, spark):
        import numpy as np

        from fraud_detection_project_spark.operators.similarity import (
            random_project,
        )

        df = self._vecs(spark, n=40, dim=32)
        orig = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
        proj = {
            r["vec_id"]: np.array(r["embedding"])
            for r in random_project(df, dim=32, out_dim=16).collect()
        }
        ratios = []
        ids = sorted(orig)
        for i in ids:
            for j in ids:
                if i < j:
                    d0 = float(np.sum((orig[i] - orig[j]) ** 2))
                    d1 = float(np.sum((proj[i] - proj[j]) ** 2))
                    ratios.append(d1 / d0)
        m = sum(ratios) / len(ratios)
        assert 0.8 < m < 1.2

    def test_null_vector_passthrough(self, spark):
        from fraud_detection_project_spark.operators.similarity import (
            random_project,
        )

        df = spark.createDataFrame(
            [(0, [1.0] * 4), (1, None)], "vec_id long, embedding array<double>"
        )
        got = {r["vec_id"]: r["embedding"] for r in random_project(df, dim=4, out_dim=2).collect()}
        assert got[1] is None and len(got[0]) == 2


class TestSemanticDedup:
    def test_groups_collapse_to_one_survivor(self, spark):
        import numpy as np

        from fraud_detection_project_spark.operators.similarity import (
            semantic_dedup,
        )

        rng = np.random.RandomState(5)
        rows = []
        vid = 0
        # three far-apart anchor directions, each with 4 near-identical
        # copies (tiny jitter), plus 6 isolated random vectors
        for g in range(3):
            base = np.zeros(16)
            base[g * 5] = 10.0
            for _ in range(4):
                v = base + rng.normal(scale=0.01, size=16)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        for _ in range(6):
            v = rng.normal(size=16) * 3
            rows.append((vid, [float(x) for x in v]))
            vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = semantic_dedup(df, k=4, threshold=0.99).collect()
        kept = {r["id"] for r in out if r["keep"]}
        dropped = {r["id"] for r in out if not r["keep"]}
        # each 4-copy group keeps exactly its min id
        assert {0, 4, 8} <= kept
        assert dropped == {1, 2, 3, 5, 6, 7, 9, 10, 11}
        assert len(out) == 18

    def test_no_dups_keeps_everything(self, spark):
        import numpy as np

        from fraud_detection_project_spark.operators.similarity import (
            semantic_dedup,
        )

        rng = np.random.RandomState(9)
        rows = [
            (i, [float(x) for x in rng.normal(size=8)]) for i in range(20)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = semantic_dedup(df, k=3, threshold=0.999).collect()
        assert all(r["keep"] for r in out) and len(out) == 20


class TestContainmentPairs:
    def test_subset_doc_high_containment_low_jaccard(self, spark):
        from fraud_detection_project_spark.operators.dedup import (
            ngram_containment_pairs,
            ngram_jaccard_pairs,
        )

        # doc 2 is a verbatim excerpt of doc 1 but much shorter:
        # containment must fire while Jaccard stays low
        big = " ".join(f"tok{i}" for i in range(200))
        small = " ".join(f"tok{i}" for i in range(40, 60))
        docs = spark.createDataFrame(
            [(1, big), (2, small), (3, "совсем unrelated text entirely")],
            ["doc_id", "text"],
        )
        cont = {
            (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
            for r in ngram_containment_pairs(docs, threshold=0.8).collect()
        }
        assert (1, 2) in cont
        ca, cb = cont[(1, 2)]
        assert cb == 1.0  # the excerpt is fully contained
        assert ca < 0.2
        jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
        assert not any(
            (r["id_a"], r["id_b"]) == (1, 2) for r in jac
        )  # Jaccard dilutes the subset signal

    def test_matches_brute_force(self, spark):
        import random

        from fraud_detection_project_spark.operators.dedup import (
            ngram_containment_pairs,
        )

        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(30)]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 30))))
            for i in range(12)
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            (r["id_a"], r["id_b"]): (
                round(r["containment_a"], 9),
                round(r["containment_b"], 9),
            )
            for r in ngram_containment_pairs(df, threshold=0.3).collect()
        }

        def shingles(t):
            toks = t.split()
            return {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }

        want = {}
        for i, ta in docs:
            for j, tb in docs:
                if i >= j:
                    continue
                sa, sb = shingles(ta), shingles(tb)
                if not sa or not sb:
                    continue
                c = len(sa & sb)
                if c and max(c / len(sa), c / len(sb)) >= 0.3:
                    want[(i, j)] = (
                        round(c / len(sa), 9), round(c / len(sb), 9)
                    )
        assert got == want
