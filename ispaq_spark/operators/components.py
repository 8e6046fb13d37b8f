"""Connected components over edge DataFrames — the dedup-clustering endgame.

Two algorithms over (a, b) edge pairs:

* ``label_propagation_components`` — simple min-label propagation, one
  shuffle round per graph-diameter step. Right for near-dup graphs (dense
  clusters, tiny diameters).

* ``alternating_star_components`` — the large-star/small-star alternation
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14): each round rewires every node toward the minimum of its
  neighborhood, converging in O(log d) rounds instead of O(d). This is the
  10^12-edge path: web-graph-scale components with long chains (URL
  redirect chains, citation paths) where diameter-bound propagation would
  take hundreds of rounds. The `neardup_components` driver query runs it
  against a recursive-CTE oracle.

Both cut per-round lineage with eager localCheckpoint — unpersist cascades
to dependent cached plans, so a persist/unpersist loop silently recomputes
its whole history each round.

Graft slot: the reference's channel-set grouping into equivalence classes
(ispaq/simple_metrics.py:103-151).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _sym(edges: DataFrame) -> DataFrame:
    """Both directions, self-loops dropped."""
    e = edges.toDF("a", "b").where(F.col("a") != F.col("b"))
    return e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))


def _signature(e: DataFrame) -> tuple:
    """Order-insensitive fingerprint of an edge set (convergence check)."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(a, b))").alias("h"),  # overflow-free
    ).first()
    return (row["n"], row["h"])


def label_propagation_components(
    edges: DataFrame,
    max_iter: int = 50,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """(a, b) edges -> (node, comp) where comp is the component's min node.

    One round per diameter step; convergence detected via the label-sum
    invariant (labels only ever decrease). ``shuffle_partitions`` sizes the
    per-round shuffle width to the edge count — iterating a tiny label
    table across a cluster-wide default width spends more time scheduling
    empty tasks than propagating labels."""

    def cut(df: DataFrame) -> DataFrame:
        if shuffle_partitions:
            df = df.repartition(shuffle_partitions, df.columns[0])
        return df.localCheckpoint(eager=True)

    e = cut(_sym(edges).distinct())
    labels = cut(
        e.select(F.col("a").alias("n"))
        .distinct()
        .withColumn("c", F.col("n"))
    )
    prev_sum = None
    converged = False
    # max_iter + 1 rounds run in the worst case: detecting the fixed point
    # costs one full extra propagation round whose labels don't change, so
    # a graph needing exactly max_iter productive rounds must not exhaust
    # the budget on that detection round.
    for _ in range(max_iter + 1):
        neighbor_min = (
            labels.join(e, labels.n == e.a)
            .groupBy(F.col("b").alias("n"))
            .agg(F.min("c").alias("nc"))
        )
        labels = cut(
            labels.join(neighbor_min, "n", "left")
            .select("n", F.least("c", "nc").alias("c"))
        )
        cur = labels.agg(F.sum("c")).first()[0]
        if cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        # Diameter > max_iter would silently yield split components;
        # surface it instead of returning wrong labels.
        raise RuntimeError(
            f"label propagation did not converge in {max_iter + 1} rounds "
            f"(max_iter={max_iter} productive + 1 detection; graph "
            "diameter exceeds max_iter); raise max_iter or use "
            "alternating_star_components (O(log d) rounds)"
        )
    return labels.select(F.col("n").alias("node"), F.col("c").alias("comp"))


def _large_star(e_undirected: DataFrame) -> DataFrame:
    """For each node u, connect every LARGER neighbor to the minimum of
    u's closed neighborhood. Map-reduce step 1 of the alternation."""
    sym = _sym(e_undirected)
    mins = sym.groupBy(F.col("a").alias("u")).agg(F.min("b").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    return (
        sym.join(mins, sym.a == mins.u)
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), m.alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e_undirected: DataFrame) -> DataFrame:
    """Orient each edge toward its larger endpoint; for each center u,
    connect u and all its smaller neighbors to the minimum neighbor.
    Map-reduce step 2 of the alternation."""
    d = e_undirected.toDF("x", "y").where(F.col("x") != F.col("y"))
    directed = d.select(
        F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
    )
    mins = directed.groupBy(F.col("u").alias("uu")).agg(
        F.min("v").alias("m")
    )
    j = directed.join(mins, directed.u == mins.uu)
    to_neighbors = j.select(F.col("v").alias("a"), F.col("m").alias("b"))
    to_center = j.select(F.col("u").alias("a"), F.col("m").alias("b")).distinct()
    return (
        to_neighbors.unionByName(to_center)
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def alternating_star_components(
    edges: DataFrame, max_iter: int = 30,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """(a, b) edges -> (node, comp) via large-star/small-star alternation.

    Converges in O(log d) rounds; at the fixed point the edge set is a
    union of stars (node -> component minimum). ``shuffle_partitions``
    sizes each round's exchange to the edge count, as in
    ``label_propagation_components``."""

    def cut(df: DataFrame) -> DataFrame:
        if shuffle_partitions:
            df = df.repartition(shuffle_partitions, df.columns[0])
        return df.localCheckpoint(eager=True)

    e = cut(
        edges.toDF("a", "b")
        .where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
    )
    nodes = _sym(e).select(F.col("a").alias("node")).distinct()
    prev_sig = None
    converged = False
    # max_iter + 1 observations for max_iter productive rounds (see
    # label_propagation_components).
    for _ in range(max_iter + 1):
        e = cut(_large_star(e))
        e = cut(_small_star(e))
        sig = _signature(e)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"star alternation did not converge in {max_iter + 1} rounds "
            f"(max_iter={max_iter} productive + 1 detection)"
        )
    # Fixed point: e holds (member, root) star edges. Roots map to
    # themselves; nodes that lost all edges along the way (possible only
    # for roots) are re-attached via the node list.
    stars = e.select(F.col("a").alias("node"), F.col("b").alias("comp"))
    roots = nodes.join(stars, "node", "left_anti").select(
        "node", F.col("node").alias("comp")
    )
    return stars.unionByName(roots)
