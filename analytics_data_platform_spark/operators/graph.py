"""Iterative graph algorithms on DataFrames: PageRank, BFS hop distance.

The reference engine has no graph operators; this fills the "iterative
algorithm" slot of the brief (the same driver-side loop pattern as
dedup.cluster_duplicates_star). Each iteration is one
shuffle join (ranks ⋈ edges on src) + one shuffled aggregation (sum of
contributions per dst) — both keyed on node ids, so an iteration is a
linear pass at any scale. No per-iteration driver action: the dangling
mass folds in as a broadcast 1-row aggregate, so the whole power
iteration is one lazy plan, lineage-truncated with localCheckpoint every
few rounds (the same guard dedup.cluster_duplicates_star uses).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

CHECKPOINT_EVERY = 4


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Power-iteration PageRank over an edge list (``iters`` fixed rounds).

    Nodes are taken from the union of both endpoint columns. Dangling
    nodes (no out-edges) redistribute their mass uniformly each round —
    the standard stochastic-matrix fixup — as one scalar aggregate
    broadcast into the update, never a driver collect. Returns
    (node, rank) with ranks summing to 1.
    """
    # every iteration joins against the edge list; materialize it once so
    # an expensive upstream build (e.g. a distinct'd self-join) is not
    # re-evaluated per round. Pre-partition by dst: with the (small) rank
    # table broadcast into the per-round join, the groupBy(dst) then
    # satisfies its clustering from this one upfront shuffle — the five
    # iteration rounds move no edge data at all
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition("dst")
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    # node table with out-degree (null deg => dangling); checkpointed: reused every round
    topo = nodes.join(deg, "node", "left").localCheckpoint(eager=True)
    n = topo.count()
    if n == 0:
        return topo.select("node", F.lit(0.0).alias("rank"))

    ranks = topo.select("node", "deg", F.lit(1.0 / n).alias("rank"))
    for i in range(iters):
        dangling = ranks.where(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling")
        )
        contribs = (
            e.join(F.broadcast(ranks), ranks.node == e.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        ranks = (
            topo.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "deg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * (F.col("dangling") / n + F.coalesce("contrib", F.lit(0.0)))
                ).alias("rank"),
            )
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", "rank")


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Breadth-first hop distance from a seed set over a directed edge list.

    Returns (node, hops) for every node reachable within ``max_hops``,
    where hops is the MINIMUM edge count from any seed (seeds are hop 0).
    ``seeds`` is a 1-column DataFrame of node ids.

    Frontier expansion: each round joins only the newly-reached frontier
    against the edge list (one shuffle keyed on node id), anti-joins the
    visited set, and folds survivors in. Work per round is proportional to
    the frontier's out-edges — the textbook Pregel BFS — so a 1000-executor
    run is bounded by the true BFS work, not |V|·rounds. The visited set is
    localCheckpointed per round to truncate the iterative lineage.
    """
    # every round joins against the edge list; materialize it once so an
    # expensive upstream build (a distinct'd co-order self-join) is not
    # re-evaluated per round (same fix as pagerank — the edge list was
    # recomputed max_hops times before)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .localCheckpoint(eager=False)
    )
    visited = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct().withColumn(
        "hops", F.lit(0)
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = visited.where(F.col("hops") == h)
        if frontier.isEmpty():
            break
    return visited


def sssp_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Single-source shortest path cost within ``max_hops`` edges —
    bounded Bellman-Ford over a weighted edge list.

    Returns (node, cost) where cost is the minimum path weight from any
    seed using at most ``max_hops`` edges. Each round is one shuffle join
    (dist ⋈ edges on the node id) + one shuffled min-aggregation — the
    Pregel relaxation step — so a round is a linear pass at any scale and
    the whole run is ``max_hops`` rounds regardless of cluster size.
    Integer weights keep costs engine-portable (no float path-sum ties).
    """
    # materialized once — each relaxation round reuses the checkpointed
    # edge list instead of re-running its upstream build (pagerank's fix)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    ).localCheckpoint(eager=False)
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
    )
    for _ in range(max_hops):
        relaxed = (
            dist.join(e, dist.node == e.src)
            .select(F.col("dst").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
    return dist
