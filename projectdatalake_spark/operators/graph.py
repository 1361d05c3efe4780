"""Graph analytics over co-occurrence edge sets.

The reference has no graph layer (its one pipeline is a star-schema ETL,
reference etl.py:176-190); this is engine-added surface for the
relationship-shaped questions a lakehouse gets asked (co-purchase
affinity, fraud rings via the connected-components ladder in
operators/dedup.py, triangle-based clustering coefficients).

Two rungs, the engine's usual ladder shape:
- ``triangle_counts`` — EXACT, degree-oriented (Suri & Vassilvitskii
  WWW'11 / Schank-Wagner): every edge points from its lower-(degree, id)
  endpoint to the higher, bounding wedge generation by Σ min-degree²
  instead of Σ degree² — hub nodes never emit |hub|² wedges. Each
  triangle has exactly one vertex owning both out-edges, so it is found
  once.
- ``triangle_count_estimate`` — DOULION (Tsourakakis et al., KDD'09):
  keep each edge with probability p via a DETERMINISTIC hash coin
  (reproducible across runs/engines), exact-count the sparsified graph,
  scale by 1/p³. Unbiased; relative error shrinks with triangle count.
  The 100 TB rung: p² fewer wedges for a p-fraction edge pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from projectdatalake_spark.session import local_frame


# r13 NOTE: the r12 serialized-storage checkpoint experiment for the
# k-core loop was REVERTED after the clean-host A/B the r12 verdict asked
# for (#4): on identical inputs, serialized MEMORY_AND_DISK read 17.9 s vs
# 11.0 s for the default deserialized store (every-3 cadence, same rows).
# The decode-per-read cost outweighed the smaller blob at every cadence
# measured; k-core now checkpoints EVERY round (see kcore) in default
# storage, which removes lineage recompute entirely (8.6 s in the same
# A/B session — tools/ab evidence in OPTIMIZATION_r13.md §graph_kcore).

# Cap on the per-node sorted fold array the order-pinned pagerank proof
# rung materializes (one struct per incoming contribution): ~100k structs
# ≈ tens of MB in one aggregation buffer — past it the provable form
# refuses with a sizing instruction rather than risking a single-task OOM
# on a hub node. The production F.sum path is unaffected.
_PINNED_MAX_DEGREE = 100_000


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected distinct edge set (u < v): parts sharing an order are
    adjacent. One self-join on the order key (bounded per-order fan-out)
    + one distinct shuffle."""
    li = lineitem.select("l_orderkey", "l_partkey")
    return (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )


def _oriented(edges: DataFrame) -> DataFrame:
    """Degree orientation: src = lower-(degree, id) endpoint."""
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        edges.join(
            deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u"
        )
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v"
        )
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
            )
            .otherwise(F.struct(F.col("v").alias("src"), F.col("u").alias("dst")))
            .alias("o")
        )
        .select("o.src", "o.dst")
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Every triangle exactly once as (a, b, c) with b < c: oriented
    wedges self-joined on the source, closed by a semi join against the
    canonically-keyed undirected edge set.

    The edge set and its orientation are MATERIALIZED once
    (``localCheckpoint``) before the self-join: the plan references each
    three times (wedge x, wedge y, closure), and without the pin Catalyst
    re-executes the whole edge-derivation subtree (often a join+distinct
    itself) per reference — measured 2× wall on the sf0.1 co-purchase
    graph. Same lineage-truncation pattern as the connected-components
    loop (operators/dedup.py)."""
    edges = edges.localCheckpoint(eager=True)
    oriented = _oriented(edges).localCheckpoint(eager=True)
    wedges = (
        oriented.alias("x")
        .join(oriented.alias("y"), "src")
        .filter(F.col("x.dst") < F.col("y.dst"))
        .select(
            F.col("src").alias("a"),
            F.col("x.dst").alias("b"),
            F.col("y.dst").alias("c"),
        )
    )
    return wedges.join(
        edges, (F.col("b") == F.col("u")) & (F.col("c") == F.col("v")), "left_semi"
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts (node, n_triangles)."""
    return (
        triangles(edges)
        .select(F.explode(F.array("a", "b", "c")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def triangle_count_estimate(
    edges: DataFrame, p: float = 0.5, seed: int = 41
) -> DataFrame:
    """DOULION global triangle-count estimate: deterministic hash-coin
    edge sparsification (keep iff xxhash64(u, v, seed) mod M < p·M) +
    exact count of the survivor graph, scaled by 1/p³. One row:
    (n_edges_kept, triangles_sampled, est_triangles). Accuracy gate:
    tests/test_accuracy_gates.py::test_doulion_triangle_estimate."""
    m = 1_000_000
    kept = edges.filter(
        F.pmod(F.xxhash64(F.col("u"), F.col("v"), F.lit(seed)), F.lit(m))
        < int(p * m)
    )
    return (
        triangles(kept)
        .agg(F.count(F.lit(1)).alias("triangles_sampled"))
        .crossJoin(kept.agg(F.count(F.lit(1)).alias("n_edges_kept")))
        .select(
            "n_edges_kept",
            "triangles_sampled",
            (F.col("triangles_sampled") / F.lit(p**3)).alias("est_triangles"),
        )
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node: 2·Δ(v) / (deg(v)·(deg(v)−1))
    for deg ≥ 2 — how close each node's neighborhood is to a clique, the
    community-structure signal triangle counts exist to feed. Reuses the
    exact triangle pass; one extra degree aggregate + join."""
    edges = edges.localCheckpoint(eager=True)  # shared by deg + triangles
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangle_counts(edges).withColumnRenamed("part", "node")
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            (
                2.0
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1))
            ).alias("coefficient"),
        )
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    order_pinned: bool = False,
) -> DataFrame:
    """PageRank over the undirected graph (each edge walks both ways),
    uniform teleport, fixed iteration count — returns (node, rank).

    Scale shape: the link table (src, dst, outdeg) is static — built
    once, persisted, and re-joined each round; every iteration is ONE
    hash join + ONE aggregate on the node key (co-partitioned after the
    first round, AQE reuses the exchange). Lineage is truncated with an
    eager localCheckpoint every third round — the same guard the
    connected-components loop uses against plan blowup. No dangling-node
    term: an undirected graph has outdeg ≥ 1 everywhere.

    ``order_pinned``: fold each node's incoming contributions in src
    order (sorted-struct left fold) instead of F.sum — bitwise-
    reproducible across engines (fixed iterations of IEEE ops in a
    fixed order), which is what lets the driver replay N iterations in
    DuckDB and hash-match (the queries.py float-fold discipline). The
    per-node fold list is DEGREE-bounded, so the pinned form keeps the
    distributed shape; the default F.sum form stays the production path
    (map-side partials, no per-node arrays).

    SIMPLE-GRAPH CONTRACT (order_pinned only): ``edges`` must carry no
    duplicate (u, v) rows. The running-sum fold resolves each node's
    total as ``max_by(run, src)``, which is only well-defined when src
    is unique per node — a multi-edge would make the pick among tied
    src rows unspecified and the intra-tie add order diverge from the
    sorted-struct fold. Deliberately NOT enforced with a distinct here
    (it would add a full edge shuffle per call to pay for input this
    operator's callers already guarantee — copurchase_edges ends in
    .distinct()); callers with possibly-multi-edge input must
    de-duplicate first or use order_pinned=False, whose F.sum is
    order-free. The uniqueness contract is pinned in
    tests/test_r12_optimizations.py.

    Accuracy gate: tests/test_accuracy_gates.py::test_pagerank_matches_
    power_iteration (exact-formula numpy reference).
    """
    from pyspark.sql import Window

    directed = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).localCheckpoint(eager=True)  # copurchase pipeline runs ONCE, not per consumer
    outdeg = (
        directed.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).persist()
    )
    # ONE driver probe for hub degree + node count (was two jobs, each
    # recomputing the whole co-purchase edge pipeline from scratch)
    stats = outdeg.agg(
        F.max("outdeg").alias("hub"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    hub, n = stats["hub"] or 0, stats["n"]
    if order_pinned and hub > _PINNED_MAX_DEGREE:
        # the pinned fold streams ONE sorted run per node, sized by that
        # node's in-degree — bounded by the hub, not globally. Past
        # _PINNED_MAX_DEGREE a hub's run becomes a single-task window
        # spike, so the provable form refuses loudly with the fix (the
        # Theil-Sen guard discipline) instead of OOMing; the production
        # F.sum form has no such limit.
        raise ValueError(
            f"pagerank(order_pinned=True): hub degree {hub:,} > "
            f"{_PINNED_MAX_DEGREE:,} — the per-node src-ordered fold "
            f"would single-task that hub's contributions; "
            f"use the default F.sum form (order_pinned=False), or "
            f"split hub folds into degree-bounded chunks before "
            f"raising the cap"
        )
    # links is the static loop table: partition it by the join key ONCE
    # so each of the `iterations` joins reuses the cached layout and only
    # the (node, rank) vector — not the edge table — moves per round
    # (spark_optimization_guide §2.4: establish the partitioning once).
    npart = edges.sparkSession.sparkContext.defaultParallelism
    links = (
        directed.join(outdeg, "src").repartition(npart, "src").persist()
    )
    ranks = outdeg.select(
        F.col("src").alias("node"), F.lit(1.0 / n).alias("rank")
    )
    for i in range(iterations):
        contribs = links.join(
            ranks.withColumnRenamed("node", "src"), "src"
        ).select(
            F.col("dst").alias("node"),
            F.col("src"),
            (F.col("rank") / F.col("outdeg")).alias("c"),
        )
        if order_pinned:
            # src-ascending left fold per node, as a running-sum window:
            # an UnboundedPreceding sum frame accumulates row-by-row in
            # sort order — the same IEEE add sequence as the previous
            # sorted-struct aggregate() fold, but through the JVM window
            # processor instead of an interpreted per-element lambda
            # (ArrayAggregate is CodegenFallback). The trailing + 0.0
            # reproduces the fold's 0.0 seed exactly (it differs only in
            # the sign of an all-zero sum, which the seed normalizes).
            w = (
                Window.partitionBy("node")
                .orderBy("src")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            merged = (
                contribs.withColumn("run", F.sum("c").over(w))
                .groupBy("node")
                .agg((F.max_by(F.col("run"), F.col("src")) + F.lit(0.0)).alias("m"))
            )
        else:
            merged = contribs.groupBy("node").agg(F.sum("c").alias("m"))
        ranks = merged.select(
            "node",
            (
                F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("m")
            ).alias("rank"),
        )
        if (i + 1) % 3 == 0:
            ranks = ranks.localCheckpoint(eager=True)
    links.unpersist()
    outdeg.unpersist()
    return ranks


def kcore(edges: DataFrame, k: int, max_iterations: int = 50) -> DataFrame:
    """k-CORE decomposition by iterative peeling: repeatedly remove
    nodes with degree < k (and their edges) until the fixpoint — what
    remains is the maximal subgraph where EVERY node keeps >= k
    neighbors, the standard cohesion filter (spam/bot rings, dense
    community seeds, fraud cliques survive; tendrils fall away).
    Returns (node, core_degree) for k-core members.

    Scale shape: each round is one degree aggregate + two semi joins on
    the node key (the weak set is usually tiny after round 1 and
    broadcasts); the live edge set checkpoints EVERY round (r13: the
    measured optimum — each round's degree scan and the next round's
    anti-joins then read materialized partitions instead of re-running
    up to N rounds of anti-join lineage; every-3 cadence measured 1.7x
    slower, every-5 3x slower, serialized storage slower at every
    cadence — see OPTIMIZATION_r13.md §graph_kcore). Rounds needed =
    the graph's degeneracy peel depth, not its size; ``max_iterations``
    bounds pathological chains. Exactness vs naive peeling is gated in
    tests/test_accuracy_gates.py."""
    directed = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    live = directed.localCheckpoint(eager=True)
    for i in range(max_iterations):
        deg = live.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        weak = deg.filter(F.col("d") < k).select("src").persist()
        n_weak = weak.count()  # scalar loop condition, not data
        if n_weak == 0:
            weak.unpersist()
            return deg.select(
                F.col("src").alias("node"), F.col("d").cast("int").alias("core_degree")
            )
        live = (
            live.join(F.broadcast(weak), "src", "left_anti")
            .join(
                F.broadcast(weak.withColumnRenamed("src", "dst")),
                "dst",
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
        weak.unpersist()
    raise RuntimeError(
        f"k-core peeling did not converge in {max_iterations} rounds"
    )


def bfs_distances(
    edges: DataFrame, source: int, max_hops: int = 5
) -> DataFrame:
    """Unweighted shortest-path distances from ``source`` by
    LEVEL-SYNCHRONOUS BFS (the Pregel/GraphX frontier form): each round
    joins the current frontier against the adjacency list, anti-joins
    out already-visited nodes, and stamps the hop count — a node's
    recorded distance is minimal by construction (it is found at the
    first level that reaches it). Returns (node, dist) for every node
    within ``max_hops`` of the source, source included at dist 0.

    Hash-provable: distances are exact integers and the algorithm is
    deterministic, so a SQL engine can replay it with a recursive CTE
    (UNION-deduped) + MIN(dist) — the oracle for `graph_bfs_distances`,
    the engine's one driver-proven ITERATIVE query.

    Scale shape: each level is ONE equi-join on the frontier key + one
    anti-join against the visited set (both shuffle on node id); rounds
    = graph diameter capped by ``max_hops``, never graph size. The
    frontier localCheckpoints eagerly each level — the CC/k-core loop
    guard — so plans stay flat however deep the graph."""
    adj = (
        edges.select(F.col("u").alias("s"), F.col("v").alias("d"))
        .unionAll(edges.select(F.col("v").alias("s"), F.col("u").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    dist = local_frame(
        spark,
        [(int(source), 0)], "node long, dist int"
    ).localCheckpoint(eager=True)
    frontier = dist
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return dist
