"""Graph operators over edge-list DataFrames.

No reference equivalent (the reference has no graph ops). Companions to
``operators/dedup.py:connected_components``; used for corpus curation
(link-based quality scoring) and entity analysis (fraud rings are
subgraphs).

Everything is edge-list DataFrame algebra: one shuffle keyed on node id
per iteration, ``localCheckpoint`` truncating lineage so plans stay
O(1) across iterations. No adjacency matrices, no driver-side graph.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..lineage import release_checkpoint


_DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    local_threshold_edges: int = 32_000_000,
) -> DataFrame:
    """PageRank over a directed ``(src, dst)`` edge list → (id, rank),
    ranks summing to ~1, damping 0.85. Fixed ``n_iter`` power iterations
    (the production norm — rank ordering stabilizes long before values
    converge).

    Dangling nodes (no out-edges) redistribute their mass uniformly, the
    standard correction — without it rank mass drains and totals drift.

    Hybrid endgame (same contract as ``k_core``): each
    distributed iteration costs a join + shuffle + checkpoint of pure
    driver-synchronized latency; when the deduplicated edge list fits
    one task's Arrow budget (default 32M rows ≈ 512 MB) the power
    iteration runs locally — bincount-weighted gather/scatter per
    iteration, identical dangling correction, exact same update rule.
    Above the threshold the distributed path runs unchanged:

    Per iteration: one shuffle (groupBy dst of contribution messages) +
    a broadcast of the dangling-mass scalar. Contributions flow over the
    edge list joined to the current rank vector — at 100 TB the join is
    rank ⋈ edges on src, both shuffle-partitioned on the same key, so
    AQE reuses the partitioning across iterations.
    """
    size = Observation()
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
        )
        .distinct()
        .observe(size, F.count(F.lit(1)).alias("n"))
        # materialize: the edge list is re-read every iteration; an
        # expensive upstream plan must not re-execute per iteration.
        # Default MEMORY_AND_DISK: the local endgame streams this into
        # one task at memory speed. The distributed branch below
        # recopies it to DISK_ONLY before the iterations — see there.
        .localCheckpoint(eager=True)
    )

    if size.get["n"] <= local_threshold_edges:

        def _local_pr(batches):
            import numpy as np
            import pandas as pd

            sp, dp = [], []
            for pdf in batches:
                sp.append(pdf["src"].to_numpy())
                dp.append(pdf["dst"].to_numpy())
            if not sp:
                return
            ss = np.concatenate(sp)
            ds = np.concatenate(dp)
            # hash-based id compaction (pd.factorize) — ~20x cheaper
            # than the sort-based np.unique(return_inverse=True); node
            # indexing order is irrelevant to the power iteration.
            codes, uniq = pd.factorize(np.concatenate([ss, ds]))
            ids = np.asarray(uniq, dtype=np.int64)
            si = codes[: len(ss)]
            di = codes[len(ss):]
            m = len(ids)
            outdeg = np.bincount(si, minlength=m)
            dangling = outdeg == 0
            r = np.full(m, 1.0 / m)
            for _ in range(n_iter):
                contrib = np.bincount(
                    di, weights=r[si] / outdeg[si], minlength=m
                )
                dm = r[dangling].sum()
                r = (1.0 - _DAMPING) / m + _DAMPING * (contrib + dm / m)
            yield pd.DataFrame({"id": ids, "rank": r})

        # coalesce(1) + mapInPandas: stream checkpointed partitions into
        # the one task — no single-bucket shuffle of the edge list.
        return e.coalesce(1).mapInPandas(_local_pr, "id long, rank double")

    # Distributed branch: the edge frame is above the local threshold,
    # i.e. too big to sit deserialized in the unified pool while n_iter
    # rounds of joins and aggregates run over it — reader locks pin cached blocks and a partial aggregate fused
    # onto the cached scan can die on its initial allocation (the
    # measured ~sf10 CC failure). Recopy it to DISK_ONLY with a NARROW
    # pass (scan + write, no aggregate, nothing to starve) and release
    # the memory-resident original; every per-iteration read below then
    # deserializes from local disk in parallel, which the page cache
    # keeps cheap.
    raw = e
    e = e.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    release_checkpoint(raw)
    n_nodes = Observation()
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .observe(n_nodes, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    n = n_nodes.get["n"]
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"))
    superseded = None
    for _ in range(n_iter):
        contrib = (
            e.join(ranks.withColumnRenamed("id", "src"), "src")
            .join(outdeg, "src")
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
        )
        # dangling mass: rank held by nodes with no out-edges
        dangling = (
            ranks.join(outdeg.withColumnRenamed("src", "id"), "id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        ranks = (
            nodes.join(contrib, "id", "left_outer")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit((1.0 - _DAMPING) / n)
                    + F.lit(_DAMPING)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dm") / n)
                ).alias("rank"),
            )
            # per-iteration lineage cut; the PREVIOUS iteration's rank
            # checkpoint feeds nothing once this one materializes —
            # release it instead of letting n_iter generations pile up
            # in the block manager
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
        if superseded is not None:
            release_checkpoint(superseded)
        superseded = ranks
    return ranks


def co_occurrence_edges(
    df: DataFrame, group: str, item: str
) -> DataFrame:
    """Undirected co-occurrence edge list: one (src, dst) row with
    src < dst for every pair of distinct items sharing a group (parts
    in the same order, entities in the same session).

    Shape: ONE ``groupBy(group)`` shuffle gathers each
    group's distinct item set (``collect_set`` dedups in-agg with
    map-side partials), pairs expand INSIDE the sorted array via
    codegen-planned array functions, then one ``distinct`` dedups
    pairs across groups — two exchanges total. The previous
    distinct → self-equi-join → distinct form paid four (the
    (group, item)-keyed distinct did not satisfy the join's
    group-keyed clustering, so both join inputs re-shuffled).
    Work is still Σ_g |g|² and the per-group array is |g| items —
    bounded when group sizes are (orders hold ≤ 7 lineitems; sessions
    are capped). A pathological hot group would make a wide row where
    it previously made a quadratic join bucket; either way groups that
    large warrant a cap/filter first, which is the curation-layer
    call, not this operator's. Null semantics match the join form:
    null groups never pair (the equi-join dropped them; here they are
    filtered), null items are dropped by ``collect_set`` (the
    ``l.item < r.item`` predicate was null-rejecting).
    """
    d = (
        df.filter(F.col(group).isNotNull())
        .groupBy(group)
        .agg(F.sort_array(F.collect_set(item)).alias("__items"))
    )
    pairs = F.flatten(
        F.transform(
            "__items",
            lambda x, i: F.transform(
                F.slice(
                    "__items", i + F.lit(2), F.size("__items")
                ),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        d.select(F.explode(pairs).alias("__e"))
        .select("__e.src", "__e.dst")
        .distinct()
    )


def _triangles(edges: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Degree-ordered triangle listing over an undirected ``(src, dst)``
    edge list (direction, duplicates, and self-loops are normalized away
    first) → ``(und, deg, tri)``: the canonical edges, ``(node, deg)``,
    and one ``(a, b, apex)`` row per triangle.

    Degree-ordered orientation (Suri & Vassilvitskii's MR-friendly
    scheme): each edge is directed from its lower-(degree, id) endpoint
    to the higher one, so every out-degree is O(√m) even at a
    power-law hub — the wedge join generates Σ C(outdeg, 2) = O(m^1.5)
    candidates total, the optimal join-based bound, with NO skew blowup
    on hot nodes (a node with degree d has out-degree ≤ √(2m) after
    orientation). Each triangle is produced by exactly one wedge (at
    its lowest-rank vertex), so the closing check is a plain join:
    wedges ⋈ oriented-edges on the closing pair.

    Three shuffles: degree agg, wedge self-join on the apex, and the
    closing-edge hash join.
    """
    und = (
        edges.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        und.join(
            deg.select(F.col("node").alias("u"), F.col("deg").alias("ud")),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("deg").alias("vd")),
            "v",
        )
    )
    low_first = (F.col("ud") < F.col("vd")) | (
        (F.col("ud") == F.col("vd")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("d"),
        F.when(low_first, F.col("vd")).otherwise(F.col("ud")).alias("dd"),
    )
    rank_lt = (F.col("e1.dd") < F.col("e2.dd")) | (
        (F.col("e1.dd") == F.col("e2.dd")) & (F.col("e1.d") < F.col("e2.d"))
    )
    wedges = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2"),
            (F.col("e1.s") == F.col("e2.s")) & rank_lt,
        )
        .select(
            F.col("e1.s").alias("apex"),
            F.col("e1.d").alias("a"),
            F.col("e2.d").alias("b"),
        )
    )
    closing = oriented.select(F.col("s").alias("a"), F.col("d").alias("b"))
    return und, deg, wedges.join(closing, ["a", "b"])


def triangle_count(edges: DataFrame) -> DataFrame:
    """Count triangles in an undirected ``(src, dst)`` graph → one row:
    ``n_triangles, n_nodes, n_edges`` (see :func:`_triangles`)."""
    und, deg, tri = _triangles(edges)
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
        .crossJoin(und.agg(F.count(F.lit(1)).alias("n_edges")))
    )


def _peel_cores_canonical(cu, cv):
    """Exact Batagelj–Žaveršnik bucket peeling over the CANONICAL
    (u < v, distinct, self-loop-free) edge arrays — vectorized numpy, no
    per-edge Python loop. Returns ``(node_ids, core_numbers)`` with node
    ids in first-seen order.

    The id compaction (``pd.factorize``, hash-based — ~20x cheaper than
    the sort-based ``np.unique(return_inverse=True)``) runs over the 2E
    endpoint values, and the symmetric index arrays are derived by
    concatenating the already-compacted codes: the in-worker cost of
    this kernel is dominated by first-touch page faults on freshly
    allocated buffers, so bytes into the worker are the lever.
    """
    import numpy as np
    import pandas as pd

    codes, uniq = pd.factorize(np.concatenate([cu, cv]))
    nodes = np.asarray(uniq)
    ci = codes[: len(cu)]
    cj = codes[len(cu):]
    ui = np.concatenate([ci, cj])
    vi = np.concatenate([cj, ci])
    return nodes, _peel_codes(ui, vi, len(nodes))


def _peel_codes(ui, vi, n):
    """Bucket peeling over compacted 0..n-1 node codes, both directions
    present. Repeatedly peel every node whose residual degree <= k
    (cascading), then raise k to the minimum surviving degree. Each node
    is peeled exactly once and each edge's adjacency slice is gathered
    exactly once (CSR multi-range gather), so total work is O(V + E)
    plus a ``subtract.at`` scatter per cascade round."""
    import numpy as np

    deg0 = np.bincount(ui, minlength=n)
    order = np.argsort(ui, kind="stable")
    adj = vi[order]
    starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(deg0, out=starts[1:])
    deg = deg0.astype(np.int64)
    core = np.zeros(n, dtype=np.int64)
    alive = np.ones(n, dtype=bool)
    k = 0
    while alive.any():
        k = max(k, int(deg[alive].min()))
        peel = np.flatnonzero(alive & (deg <= k))
        while peel.size:
            core[peel] = k
            alive[peel] = False
            cnt = starts[peel + 1] - starts[peel]
            tot = int(cnt.sum())
            if tot:
                base = np.repeat(starts[peel], cnt)
                offs = np.arange(tot) - np.repeat(np.cumsum(cnt) - cnt, cnt)
                nbrs = adj[base + offs]
                nbrs = nbrs[alive[nbrs]]
                np.subtract.at(deg, nbrs, 1)
            peel = np.flatnonzero(alive & (deg <= k))
    return core


def k_core(
    edges: DataFrame,
    local_threshold_edges: int = 32_000_000,
) -> DataFrame:
    """Exact k-core decomposition of an undirected ``(src, dst)`` edge
    list → ``(id, core)`` per node. Hybrid execution, chosen by the
    MEASURED directed-edge count:

    **Local path** (edge list fits one task): when the deduplicated
    both-directions edge list has <= ``local_threshold_edges`` rows
    (default 32M rows ≈ 512 MB at 16 B/row), the canonical edges stream
    into one task and exact Batagelj–Žaveršnik bucket peeling runs
    there, vectorized in numpy (O(V+E)). A distributed round costs
    about a second of driver-synchronized latency whatever the data
    size, while a single-task peel of the same graph is sub-second.

    **Distributed path** (above threshold): H-index propagation
    (Montresor et al., "Distributed k-core decomposition") —
    initialize every estimate to the degree, then repeatedly set
    ``c(v) = H-index of neighbors' estimates`` (the largest h such
    that >= h neighbors have estimate >= h). Estimates only decrease
    and the fixpoint is exactly the core number. The estimate frame
    carries ``chg`` (the estimate just dropped; true for everyone
    before round 1). Per round: ONE join of the v-keyed edge copy with
    the estimates aliased to ``v`` (``cv``, ``dv``), ONE gather by
    ``u`` collecting ``cv`` and ``max(dv)``, the H-index recomputed
    only where a neighbour changed (exact, per Montresor's
    async-correctness argument) as a codegen HOF over the sorted
    estimate array, and one merge into the estimates, materialized by
    an eager DISK_ONLY ``localCheckpoint``. An ``Observation`` on that
    checkpoint's job counts the changed estimates; zero ends the loop.
    Estimates are non-negative integers that only fall, so the loop
    ends within 2E+1 rounds; a path of N nodes needs about N/2 of them.
    Loop shuffles are sized from the measured edge count (~600k
    rows/partition) by explicit ``repartition(nparts, key)``, never by
    the session-global shuffle-partitions conf. The gathered array per
    node is its degree — a hyper-hot node at 100 TB makes a wide row;
    cap or pre-filter such nodes upstream (same call as
    co_occurrence_edges documents).
    """
    # canonical (least, greatest) before the dedup: the exchange and
    # the checkpoint carry E rows, not 2E; the closure is a narrow union
    size = Observation()
    canon = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(size, F.count(F.lit(1)).alias("n"))
        # default MEMORY_AND_DISK: the local peel streams this into one
        # task; the distributed branch recopies it to DISK_ONLY
        .localCheckpoint(eager=True)
    )
    n_edges = 2 * size.get["n"]  # directed count
    und = canon.union(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )

    if n_edges <= local_threshold_edges:
        from pyspark.sql import types as T

        id_type = und.schema["u"].dataType
        out_schema = T.StructType(
            [
                T.StructField("id", id_type),
                T.StructField("core", T.IntegerType()),
            ]
        )

        def _peel(batches):
            import numpy as np
            import pandas as pd

            up, vp = [], []
            for pdf in batches:
                up.append(pdf["u"].to_numpy())
                vp.append(pdf["v"].to_numpy())
            if not up:
                return
            nodes, core = _peel_cores_canonical(
                np.concatenate(up), np.concatenate(vp)
            )
            yield pd.DataFrame({"id": nodes, "core": core.astype("int32")})

        # the canonical E rows cross into the one task, not the 2E-row
        # closure; the kernel derives the closure from compacted codes
        return canon.coalesce(1).mapInPandas(_peel, out_schema)

    nparts = max(4, min(4096, -(-n_edges // 600_000)))
    # DISK_ONLY copies (und feeds the degrees, undv every round's
    # gather), kept out of the unified pool so they never compete with
    # the rounds' joins and aggregates
    und = und.repartition(nparts, "u").localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    undv = und.repartition(nparts, "v").localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    release_checkpoint(canon)
    core = und.groupBy("u").agg(
        F.count(F.lit(1)).cast("int").alias("c"), F.lit(True).alias("chg")
    )
    # H-index: with estimates sorted desc, the indicator cs[i] >= i+1
    # is a prefix; its length is the H-index
    cs = F.sort_array(F.collect_list("cv"), asc=False)
    h = F.size(F.filter(F.transform(cs, lambda x, i: x >= i + F.lit(1)), lambda b: b))
    hc = F.coalesce(F.col("h"), F.col("c"))
    while True:
        nbc = undv.join(
            core.select(
                F.col("u").alias("v"), F.col("c").alias("cv"), F.col("chg").alias("dv")
            ).repartition(nparts, "v"),
            "v",
        )
        upd = (
            nbc.select("u", "cv", "dv")
            .repartition(nparts, "u")
            .groupBy("u")
            .agg(F.when(F.max("dv"), h).alias("h"))
        )
        changed = Observation()
        merged = (
            core.join(upd, "u", "left")
            .select("u", F.least(F.col("c"), hc).alias("c"), (hc < F.col("c")).alias("chg"))
            .observe(changed, F.sum(F.col("chg").cast("long")).alias("n"))
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
        release_checkpoint(core)  # a no-op on round 1's degree frame
        core = merged
        if not changed.get["n"]:
            break
    # the result reads only the last estimates checkpoint
    release_checkpoint(und)
    release_checkpoint(undv)
    return core.select(F.col("u").alias("id"), F.col("c").alias("core"))


def adamic_adar(
    edges: DataFrame,
    left: str = "src",
    right: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic–Adar link prediction over a bipartite edge list: score
    every left-node pair sharing ≥ 1 right-neighbor by
    ``Σ_shared 1 / ln(degree(neighbor))`` (Adamic & Adar 2003,
    "Friends and neighbors on the Web") — rare shared neighbors weigh
    more than ubiquitous ones. The link-prediction /
    candidate-generation staple (who-to-connect, related-items).

    Scale design: candidate pairs materialize only WITHIN a shared
    neighbor (self-equi-join keyed on the right node — the
    ``co_occurrence_edges`` shape), so work is Σ_n deg(n)², never an
    all-pairs product. That sum is exactly where a hot neighbor
    explodes quadratically, so ``max_degree`` prunes right-nodes with
    more than that many neighbors BEFORE the join — the standard recipe
    (a neighbor shared by thousands contributes ~1/ln(deg) ≈ nothing to
    ranking while dominating the join; dropping it trades negligible
    score mass for a hard quadratic bound, mirroring the stop-shingle
    document-frequency cutoff in the Jaccard dedup operator). Degrees
    are computed with one ``groupBy(right)``; a shared neighbor always
    has degree ≥ 2, so ``ln`` never sees 1.

    Returns ``(node_a, node_b, n_common, aa_score)`` with
    ``node_a < node_b``.
    """
    e = edges.select(left, right).distinct()
    deg = e.groupBy(right).agg(F.count(F.lit(1)).alias("__deg"))
    if max_degree is not None:
        deg = deg.filter(F.col("__deg") <= max_degree)
    ed = e.join(deg, right)  # inner join drops pruned hot neighbors
    pairs = (
        ed.select(F.col(left).alias("node_a"), F.col(right).alias("__n"),
                  "__deg")
        .join(
            ed.select(F.col(left).alias("node_b"), F.col(right).alias("__n")),
            "__n",
        )
        .filter(F.col("node_a") < F.col("node_b"))
    )
    return pairs.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(F.lit(1.0) / F.log(F.col("__deg"))).alias("aa_score"),
    )


def bfs_min_hops(edges: DataFrame, seeds: DataFrame, max_hops: int) -> DataFrame:
    """Multi-source breadth-first search over directed ``(src, dst)``
    edges from the ``node`` column of ``seeds`` → ``(node, hop)`` with
    ``hop`` = the MINIMUM number of edges from any seed, limited to
    ``max_hops``. Seeds get hop 0; unreachable nodes are absent.

    Level-synchronous frontier expansion — the scalable BFS shape: each
    level is ONE distributed join (frontier ⋈ edges on src, both
    shuffle-partitioned on the node key) plus an anti-join against the
    visited set to keep the frontier minimal (a node is expanded exactly
    once, at its first — i.e. minimum — hop). ``localCheckpoint``
    truncates lineage each level so plan depth stays O(1); the loop is
    driver-side but bounded by ``max_hops`` levels, and the early-exit
    ``isEmpty`` probe touches only the (already materialized) frontier.
    """
    e = edges.select(F.col("src").alias("__s"), F.col("dst").alias("__d"))
    frontier = seeds.select("node").distinct().localCheckpoint()
    visited = frontier.withColumn("hop", F.lit(0)).localCheckpoint()
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["__s"])
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        old_visited, old_frontier = visited, frontier
        visited = visited.unionByName(
            nxt.withColumn("hop", F.lit(h))
        ).localCheckpoint()
        # the superseded visited/frontier checkpoints (including the
        # hop-0 seed frontier at h == 1) feed nothing once the new
        # visited materializes — release instead of letting max_hops
        # generations accumulate
        release_checkpoint(old_visited)
        release_checkpoint(old_frontier)
        frontier = nxt
    return visited.select("node", F.col("hop").cast("long").alias("hop"))


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation and local clustering coefficient
    ``2·T(v) / (deg(v)·(deg(v)−1))`` — the node-level refinement of
    :func:`triangle_count` (same degree-ordered listing, so the wedge
    join stays O(m^1.5) with no hub blowup). Each closed wedge credits
    ALL THREE corners via a 3-way explode of the triangle's node array —
    one extra bounded shuffle (3 rows per triangle) over the global
    count. Degree-1 nodes report coefficient 0.0.

    Returns ``(node, deg, triangles, coeff)``.
    """
    _, deg, tri = _triangles(edges)
    tri_nodes = (
        tri.select(F.explode(F.array("apex", "a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(tri_nodes, "node", "left").select(
        "node",
        "deg",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("deg") >= 2,
            2.0
            * F.coalesce("triangles", F.lit(0))
            / (F.col("deg") * (F.col("deg") - 1)),
        )
        .otherwise(0.0)
        .alias("coeff"),
    )
