"""Iterative connected components on DataFrames (large-star / small-star).

Stage C of the north-star pipeline: collapse owl:sameAs edge sets into
canonical clusters. GraphFrames is unavailable in this sandbox, so this is
the alternating large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) expressed directly as
DataFrame programs — the same plan GraphFrames produces:

  large-star: for each node u, attach every neighbor v > u to min(N(u)∪{u})
  small-star: for each node u, attach every neighbor v <= u to the minimum

Each round is two shuffles on the node id; convergence is detected by a
star-forest test on the round's own output (every member has one parent
and is no parent itself — the algorithm's fixed point, checked without
re-running a confirm round);
``localCheckpoint`` every round truncates the plan/lineage (an iterative
algorithm would otherwise compound the DAG). Deterministic: ids are
longs, min-based, no randomness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    return e.where(F.col("u") != F.col("v")).select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    # no trailing distinct: the only consumer is _small_star, whose
    # groupBy-min is duplicate-insensitive and whose own distinct
    # canonicalizes the round's output — dropping it removes one
    # exchange per round (duplicate inflation here is bounded by node
    # degree, and round boundaries stay distinct via _small_star)
    nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    return (
        nbrs.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    # orient edges high -> low, group by the high node
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    attach = (
        oriented.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(m.select(F.col("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    return attach


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """Edge list -> (node, component) with component = min node id of the
    cluster. Converges in O(log n) alternating rounds."""
    e = _canonical_edges(edges, src, dst).localCheckpoint()
    for _ in range(max_iterations):
        e = _small_star(_large_star(e)).localCheckpoint()
        # convergence = the edge set is a STAR FOREST: every member (v)
        # has exactly one parent (u) and is not itself a parent. LS/SS
        # preserve per-component connectivity and canonical edges keep
        # u < v, so that means one root per component — exactly the
        # algorithm's fixed point. "No member is a parent" alone is not
        # enough: a member with two parents passes it while its two
        # roots still name one component twice. Both conditions are one
        # grouped count per node: a node seen as a member (m >= 1) in
        # two or more edges (as member or parent) breaks the forest.
        # Testing the round's OWN output saves the +1 confirm round a
        # checksum-equality test needs; isEmpty's limit-1 short-circuits
        # non-converged rounds.
        seen = e.select(F.col("v").alias("n"), F.lit(1).alias("m")).unionByName(
            e.select(F.col("u").alias("n"), F.lit(0).alias("m"))
        )
        broken = seen.groupBy("n").agg(
            F.sum("m").alias("m"), F.count(F.lit(1)).alias("c")
        ).where((F.col("m") >= 1) & (F.col("c") >= 2))
        if broken.isEmpty():
            break
    else:
        raise RuntimeError(f"connected components did not converge in {max_iterations} rounds")
    # converged edges are canonical (u = cluster minimum = root, v = member)
    members = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return members.unionByName(roots).distinct()
