"""Connected components vs a driver-side union-find oracle on random graphs,
plus determinism across partition counts (SURVEY.md §5 item 6 precondition).
"""
import random

import pytest
from pyspark.sql import functions as F

from knowledgegraphsiqidis_spark.operators.components import connected_components


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative per component
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


@pytest.mark.parametrize("n_nodes,n_edges,seed", [(30, 25, 1), (200, 180, 2),
                                                  (500, 900, 3), (50, 0, 4)])
def test_cc_matches_union_find(spark, n_nodes, n_edges, seed):
    rng = random.Random(seed)
    nodes = [f"n{i:05d}" for i in range(n_nodes)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(n_edges)]
    edges = [(a, b) for a, b in edges if a != b]

    expected = _union_find(edges, nodes)
    # keep only nodes that participate in an edge (CC contract)
    touched = {a for a, _ in edges} | {b for _, b in edges}
    expected = {n: c for n, c in expected.items() if n in touched}

    if not edges:
        df = spark.createDataFrame([("x", "x")], "a string, b string").filter("a != a")
    else:
        df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == expected


def test_cc_deterministic_across_partitioning(spark):
    rng = random.Random(7)
    nodes = [f"n{i:05d}" for i in range(300)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(400)]
    edges = [(a, b) for a, b in edges if a != b]
    r1 = sorted(map(tuple, connected_components(
        spark.createDataFrame(edges, "a string, b string").repartition(2)).collect()))
    r2 = sorted(map(tuple, connected_components(
        spark.createDataFrame(edges, "a string, b string").repartition(16)).collect()))
    assert r1 == r2


def test_forest_components_matches_general_cc(spark):
    """The ER-path forest shortcut must agree with the general
    large-star/small-star kernel on an argmax forest (later -> earlier,
    unique child)."""
    from knowledgegraphsiqidis_spark.operators.resolve import forest_components
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "d"), ("x", "y")],
        "key_a string, key_b string")
    fc = {(r["node"], r["component"])
          for r in forest_components(edges).collect()}
    cc = {(r["node"], r["component"])
          for r in connected_components(
              edges.select(F.col("key_a").alias("a"),
                           F.col("key_b").alias("b"))).collect()}
    # same mapping for every non-root node; CC also returns root self-rows
    assert fc == {(n, c) for n, c in cc if n != c}
    assert fc == {("b", "a"), ("c", "a"), ("d", "a"), ("y", "x")}


def test_forest_roots_deep_chain_guard(spark):
    """A chain deeper than max_chain+1 must RAISE (no silent non-root
    canonical), per the no-silent-caps principle."""
    import pytest as _pytest
    from knowledgegraphsiqidis_spark.operators.resolve import _forest_roots
    deep = [(f"k{i:02d}", f"k{i+1:02d}") for i in range(10)]
    edges = spark.createDataFrame(deep, "key_a string, key_b string")
    ok = _forest_roots(edges, max_chain=9)
    assert {r["canon_key"] for r in ok.collect()} == {"k00"}
    with _pytest.raises(Exception, match="forest_roots"):
        _forest_roots(edges, max_chain=3).collect()


def test_deep_chain_guard_survives_each_consumer(spark):
    """ADVICE r3: Catalyst column pruning elides the in-plan assert_true for
    any consumer that drops canon_key unconsumed — so pin the invariant at
    every CURRENT consumer: (a) forest_components (form_components /
    incremental node rebuild), (b) the match_edges-style relabel join,
    (c) the incremental relabel path.  Each must raise on a >max_chain+1
    chain, not silently map forms to a non-root ancestor."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from knowledgegraphsiqidis_spark.operators.resolve import (
        _forest_roots, forest_components)
    deep = [(f"k{i:02d}", f"k{i+1:02d}") for i in range(9)]  # depth 9 > 7
    edges = spark.createDataFrame(deep, "key_a string, key_b string")

    # (a) forest_components consumer
    with _pytest.raises(Exception, match="forest_roots"):
        forest_components(edges).collect()

    # (b) match_edges-style relabel: canon_of joined on canon_key (the join
    # key consumes the guarded column — pruning must not drop it)
    canon_of = _forest_roots(edges)
    names = spark.createDataFrame([(f"k{i:02d}", f"n{i}") for i in range(11)],
                                  "canon_key string, canon_name string")
    with _pytest.raises(Exception, match="forest_roots"):
        (canon_of.join(names, "canon_key")
         .select("form_key", "canon_name").collect())

    # (c) incremental relabel shape: coalesce over a left join
    with _pytest.raises(Exception, match="forest_roots"):
        pairs = spark.createDataFrame([("k09", "x")],
                                      "key_a string, key_b string")
        (pairs.join(canon_of.withColumnRenamed("form_key", "key_a"),
                    "key_a", "left")
         .withColumn("canon_key", F.coalesce("canon_key", F.col("key_a")))
         .select("key_b", "canon_key").collect())
