"""Connected components via alternating large-star / small-star joins.

The canonicalization kernel of the ER stage (north_rule names the algorithm
explicitly).  Replaces the reference's driver-side BFS over a Python
adjacency dict (server.py:1982-2022) with the Kiveris et al. MapReduce
formulation: each round is two groupBy-aggregations over the edge list, the
edge list shrinks toward star graphs, and convergence is O(log n) rounds.
Determinism: component representative is the lexicographic MIN node id, so
output is identical at any partition count (required for the N vs 4N
scaling-efficiency comparison to be purely about performance).

Every round ends in ``localCheckpoint()`` to truncate lineage (iterative
plans otherwise grow exponentially under Catalyst).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

MAX_ITERATIONS = 50


def _large_star(edges: DataFrame) -> DataFrame:
    """Emit (v, min(N(u) ∪ {u})) for every neighbor v > u."""
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    grouped = sym.groupBy("a").agg(
        F.least(F.min("b"), F.first("a")).alias("m"),
        F.collect_set("b").alias("nbrs"))
    return (grouped
            .select(F.explode("nbrs").alias("v"), "a", "m")
            .filter(F.col("v") > F.col("a"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high→low, attach each group to its minimum."""
    directed = edges.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
    grouped = directed.groupBy("u").agg(
        F.min("v").alias("m"), F.collect_set("v").alias("nbrs"))
    out = (grouped
           .select(F.explode(F.array_union("nbrs", F.array("u"))).alias("v"),
                   "m")
           .filter(F.col("v") != F.col("m"))
           .select(F.col("v").alias("a"), F.col("m").alias("b"))
           .distinct())
    return out


def _observed_checkpoint(edges: DataFrame):
    """localCheckpoint + convergence signature (row count, order-free hash
    of the frame's columns) in ONE job: the Observation is filled by the
    checkpoint action itself."""
    obs = Observation()
    h = f"bit_xor(xxhash64({', '.join(edges.columns)}))"
    ck = edges.observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr(h), F.lit(0)).alias("h")).localCheckpoint()
    return ck, (obs.get["n"], obs.get["h"])


def connected_components(pairs: DataFrame, max_iterations: int = MAX_ITERATIONS) -> DataFrame:
    """(a, b) match pairs → (node, component) with component = min node id.

    Nodes appearing in no pair are not returned — callers left-join and
    coalesce to the node's own id (singleton components).
    """
    edges = (pairs.select(F.col(pairs.columns[0]).alias("a"),
                          F.col(pairs.columns[1]).alias("b"))
             .filter(F.col("a") != F.col("b"))
             .distinct()
             .localCheckpoint())
    if edges.isEmpty():
        return edges.select(F.col("a").alias("node"), F.col("b").alias("component"))

    prev_sig = None
    for _ in range(max_iterations):
        edges, sig = _observed_checkpoint(_small_star(_large_star(edges)))
        if sig == prev_sig:
            break
        prev_sig = sig

    # Converged star graph: every edge points node → its component minimum;
    # add representatives mapping to themselves.
    mapping = edges.select(F.col("a").alias("node"), F.col("b").alias("component"))
    reps = edges.select(F.col("b").alias("node"),
                        F.col("b").alias("component")).distinct()
    return mapping.union(reps).groupBy("node").agg(
        F.min("component").alias("component"))
