"""Triangle counting and co-occurrence edge building (operators/graph.py)."""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fraud_detection_project_spark.operators.graph import (
    co_occurrence_edges,
    triangle_count,
)
from tests.test_round8_fixes import _jobs


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


def _brute_triangles(pairs):
    adj = set()
    nodes = set()
    for a, b in pairs:
        if a != b:
            adj.add((min(a, b), max(a, b)))
            nodes.update((a, b))
    return sum(
        1
        for x, y, z in combinations(sorted(nodes), 3)
        if (x, y) in adj and (y, z) in adj and (x, z) in adj
    )


class TestTriangleCount:
    def test_known_small_graphs(self, spark):
        k4 = list(combinations(range(4), 2))
        got = triangle_count(_edges_df(spark, k4)).collect()[0]
        assert (got["n_triangles"], got["n_nodes"], got["n_edges"]) == (4, 4, 6)
        cycle5 = [(i, (i + 1) % 5) for i in range(5)]
        got = triangle_count(_edges_df(spark, cycle5)).collect()[0]
        assert got["n_triangles"] == 0
        k5 = list(combinations(range(5), 2))
        assert triangle_count(_edges_df(spark, k5)).collect()[0][
            "n_triangles"
        ] == 10

    def test_normalizes_duplicates_loops_direction(self, spark):
        pairs = [(0, 1), (1, 0), (0, 1), (1, 2), (0, 2), (3, 3)]
        got = triangle_count(_edges_df(spark, pairs)).collect()[0]
        # (3,3) self-loop drops entirely, reversed/dup edges collapse
        assert (got["n_triangles"], got["n_nodes"], got["n_edges"]) == (1, 3, 3)

    def test_random_graph_matches_brute_force(self, spark):
        rng = np.random.RandomState(21)
        pairs = {
            (int(a), int(b))
            for a, b in rng.randint(0, 30, size=(200, 2))
            if a != b
        }
        got = triangle_count(_edges_df(spark, sorted(pairs))).collect()[0]
        assert got["n_triangles"] == _brute_triangles(pairs)

    def test_skewed_hub_graph(self, spark):
        """A star hub (degree 50) plus a rim path: orientation must not
        explode wedges at the hub, and counts stay exact."""
        star = [(0, i) for i in range(1, 51)]
        rim = [(i, i + 1) for i in range(1, 50)]
        got = triangle_count(_edges_df(spark, star + rim)).collect()[0]
        # each rim edge closes a triangle with the hub
        assert got["n_triangles"] == 49


class TestCoOccurrenceEdges:
    def test_pairs_within_groups(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "z")],
            "g long, item string",
        )
        got = {
            (r["src"], r["dst"])
            for r in co_occurrence_edges(df, "g", "item").collect()
        }
        assert got == {("a", "b"), ("a", "c"), ("b", "c")}

    def test_duplicate_rows_do_not_duplicate_edges(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (1, "b")], "g long, item string"
        )
        assert co_occurrence_edges(df, "g", "item").count() == 1


class TestKCore:
    @staticmethod
    def _brute_core(edges):
        """Reference peeling: repeatedly remove min-degree nodes."""
        from collections import defaultdict

        adj = defaultdict(set)
        for a, b in edges:
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
        core = {}
        deg = {v: len(ns) for v, ns in adj.items()}
        alive = set(adj)
        k = 0
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
        return core

    def _run(self, spark, edges):
        from fraud_detection_project_spark.operators.graph import k_core

        df = spark.createDataFrame(edges, "src long, dst long")
        return {r["id"]: r["core"] for r in k_core(df).collect()}

    def test_clique_with_tail(self, spark):
        # K4 on 0-3 (core 3) with a path 3-10-11 (core 1)
        edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        edges += [(3, 10), (10, 11)]
        got = self._run(spark, edges)
        assert got == {0: 3, 1: 3, 2: 3, 3: 3, 10: 1, 11: 1}

    def test_matches_brute_force_on_random_graph(self, spark):
        import random

        rng = random.Random(11)
        edges = list({
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(30), rng.randrange(30)) for _ in range(120)
            )
            if a != b
        })
        assert self._run(spark, edges) == self._brute_core(edges)

    def test_distributed_path_matches_local_path(self, spark):
        # local_threshold_edges=0 forces the H-index frontier loop (the
        # 100 TB path); it must agree exactly with the single-task
        # Batagelj-Zaversnik peel used below the threshold.
        import random

        from fraud_detection_project_spark.operators.graph import k_core

        rng = random.Random(23)
        edges = list({
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(40), rng.randrange(40)) for _ in range(200)
            )
            if a != b
        })
        df = spark.createDataFrame(edges, "src long, dst long")
        dist = {
            r["id"]: r["core"]
            for r in k_core(df, local_threshold_edges=0).collect()
        }
        assert dist == self._brute_core(edges)

    def test_distributed_long_path_runs_to_fixpoint(self, spark):
        """H-index estimates fall one hop per round, so a path of N nodes
        needs about N/2 rounds; a 211-node path needs 106. The
        distributed loop must run to its fixpoint, not stop at a round
        budget with interior nodes still at core 2."""
        from fraud_detection_project_spark.operators.graph import k_core

        df = _edges_df(spark, [(i, i + 1) for i in range(210)])
        local = dict(map(tuple, k_core(df).collect()))
        assert local == {i: 1 for i in range(211)}
        dist = dict(map(tuple, k_core(df, local_threshold_edges=0).collect()))
        assert dist == local

    def test_direction_and_duplicates_normalized(self, spark):
        got = self._run(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1)])
        assert got == {1: 2, 2: 2, 3: 2}


class TestDistributedLoopJobs:
    """Job-count pins for the forced-distributed iterative loops: every
    Spark job is one driver round trip, and round latency is what these
    loops cost. Bounds are the counts measured on local[4]; the earlier
    loop shapes ran 67-69 (CC) and 92 (k-core) jobs on the same graphs."""

    def test_connected_components_job_count(self, spark):
        from fraud_detection_project_spark.operators.dedup import (
            connected_components,
        )

        edges = [(i, i + 1) for i in range(1, 12)]
        edges += [(20, 21), (21, 22), (30, 31)]
        df = _edges_df(spark, edges)
        before = _jobs(spark)
        got = dict(
            map(tuple, connected_components(df, local_threshold_edges=0).collect())
        )
        jobs = _jobs(spark) - before
        assert got == {
            **{i: 1 for i in range(1, 13)}, 20: 20, 21: 20, 22: 20, 30: 30, 31: 30,
        }
        assert jobs <= 23, jobs

    def test_k_core_job_count(self, spark):
        from fraud_detection_project_spark.operators.graph import k_core

        # square of a 13-node path: core 2 everywhere, reached from the
        # ends inwards over several H-index rounds
        edges = [(i, i + 1) for i in range(12)] + [(i, i + 2) for i in range(11)]
        df = _edges_df(spark, edges)
        before = _jobs(spark)
        got = dict(map(tuple, k_core(df, local_threshold_edges=0).collect()))
        jobs = _jobs(spark) - before
        assert got == {i: 2 for i in range(13)}
        assert jobs <= 48, jobs


class TestAdamicAdar:
    def _brute(self, edges, max_degree=None):
        import math
        from collections import defaultdict

        nbrs = defaultdict(set)  # right-node -> left-nodes
        for l, r in set(edges):
            nbrs[r].add(l)
        scores = defaultdict(lambda: [0, 0.0])
        for r, ls in nbrs.items():
            d = len(ls)
            if max_degree is not None and d > max_degree:
                continue
            for a, b in combinations(sorted(ls), 2):
                scores[(a, b)][0] += 1
                scores[(a, b)][1] += 1.0 / math.log(d)
        return {
            k: (v[0], round(v[1], 9)) for k, v in scores.items()
        }

    def _run(self, spark, edges, max_degree=None):
        from fraud_detection_project_spark.operators.graph import adamic_adar

        df = spark.createDataFrame(edges, ["src", "dst"])
        return {
            (r.node_a, r.node_b): (r.n_common, round(r.aa_score, 9))
            for r in adamic_adar(df, max_degree=max_degree).collect()
        }

    def test_matches_brute_force(self, spark):
        import random

        rng = random.Random(5)
        edges = [(rng.randrange(12), rng.randrange(100, 108)) for _ in range(80)]
        assert self._run(spark, edges) == self._brute(edges)

    def test_hot_neighbor_pruned(self, spark):
        # neighbor 100 is shared by everyone; pruning drops its pairs
        edges = [(i, 100) for i in range(10)] + [(0, 101), (1, 101)]
        full = self._run(spark, edges)
        pruned = self._run(spark, edges, max_degree=5)
        assert len(full) == 45 + 0  # C(10,2); (0,1) pair merged into it
        assert set(pruned) == {(0, 1)}  # only the rare neighbor survives
        assert pruned[(0, 1)][0] == 1

    def test_duplicate_edges_ignored(self, spark):
        edges = [(1, 100), (1, 100), (2, 100), (2, 100)]
        got = self._run(spark, edges)
        assert got == {(1, 2): (1, round(1.0 / __import__("math").log(2), 9))}


class TestBfsMinHops:
    def test_chain_graph_min_hops(self, spark):
        from fraud_detection_project_spark.operators.graph import bfs_min_hops

        # chain 1-2-3-4-5 plus a shortcut 1->4: min-hop must win
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)], ["src", "dst"]
        )
        seeds = spark.createDataFrame([(1,)], ["node"])
        got = {
            r["node"]: r["hop"]
            for r in bfs_min_hops(edges, seeds, max_hops=4).collect()
        }
        assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}

    def test_max_hops_truncates_and_unreachable_absent(self, spark):
        from fraud_detection_project_spark.operators.graph import bfs_min_hops

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], ["src", "dst"]
        )
        seeds = spark.createDataFrame([(1,)], ["node"])
        got = {
            r["node"]: r["hop"]
            for r in bfs_min_hops(edges, seeds, max_hops=2).collect()
        }
        # node 4 is 3 hops out (past the cap); 10/11 are a separate
        # component — both absent
        assert got == {1: 0, 2: 1, 3: 2}

    def test_multi_seed_takes_closest(self, spark):
        from fraud_detection_project_spark.operators.graph import bfs_min_hops

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (9, 4)], ["src", "dst"]
        )
        seeds = spark.createDataFrame([(1,), (9,)], ["node"])
        got = {
            r["node"]: r["hop"]
            for r in bfs_min_hops(edges, seeds, max_hops=3).collect()
        }
        assert got == {1: 0, 9: 0, 2: 1, 4: 1, 3: 2}


class TestClusteringCoefficient:
    def test_triangle_with_pendant(self, spark):
        from fraud_detection_project_spark.operators.graph import (
            clustering_coefficient,
        )

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
        )
        got = {
            r["node"]: (r["deg"], r["triangles"], round(r["coeff"], 6))
            for r in clustering_coefficient(edges).collect()
        }
        assert got == {
            1: (2, 1, 1.0),
            2: (2, 1, 1.0),
            3: (3, 1, round(1 / 3, 6)),
            4: (1, 0, 0.0),
        }

    def test_matches_brute_force_random(self, spark):
        import itertools
        import random

        from fraud_detection_project_spark.operators.graph import (
            clustering_coefficient,
        )

        rng = random.Random(13)
        nodes = list(range(12))
        und = {
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if rng.random() < 0.35
        }
        edges = spark.createDataFrame(list(und), ["src", "dst"])
        got = {
            r["node"]: (r["deg"], r["triangles"], round(r["coeff"], 9))
            for r in clustering_coefficient(edges).collect()
        }
        adj = {n: set() for n in nodes}
        for a, b in und:
            adj[a].add(b)
            adj[b].add(a)
        for n in nodes:
            d = len(adj[n])
            if d == 0:
                assert n not in got  # isolated nodes have no edges/rows
                continue
            t = sum(
                1
                for x, y in itertools.combinations(sorted(adj[n]), 2)
                if y in adj[x]
            )
            coeff = round(2 * t / (d * (d - 1)), 9) if d >= 2 else 0.0
            assert got[n] == (d, t, coeff), n
