"""The connected-components operator vs a union-find reference on
randomized graphs: the star alternation must produce the exact min-id
labeling."""

from __future__ import annotations

import random

import pytest

from ispaq_spark.operators.components import alternating_star_components


def _union_find(n_nodes: set[int], edges: list[tuple[int, int]]) -> dict:
    parent = {n: n for n in n_nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: every node -> min of its component
    comp_min: dict[int, int] = {}
    for n in n_nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in n_nodes}


def _random_graph(seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    n = rng.randint(2, 40)
    m = rng.randint(1, 60)
    return [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(m)
    ]


def _spark_labels(df) -> dict:
    return {r["node"]: r["comp"] for r in df.collect()}


@pytest.mark.parametrize("seed", range(8))
def test_star_matches_union_find(spark, seed):
    edges = [(a, b) for a, b in _random_graph(seed) if a != b]
    if not edges:
        pytest.skip("degenerate draw")
    nodes = {x for e in edges for x in e}
    expected = _union_find(nodes, edges)
    edf = spark.createDataFrame(edges, "a long, b long")
    assert _spark_labels(alternating_star_components(edf)) == expected


def test_long_chain_converges_fast(spark):
    """A 32-node path graph: diameter 31, but the star alternation must
    finish inside its 30-round budget (O(log d) motivates the algorithm)."""
    edges = [(i, i + 1) for i in range(31)]
    edf = spark.createDataFrame(edges, "a long, b long")
    labels = _spark_labels(alternating_star_components(edf))
    assert set(labels.values()) == {0}
    assert len(labels) == 32


def test_two_components_and_self_loops(spark):
    edges = [(1, 2), (2, 3), (7, 7), (8, 9)]
    edf = spark.createDataFrame(edges, "a long, b long")
    labels = _spark_labels(alternating_star_components(edf))
    # self-loop-only node 7 drops out (no real edge); two components remain
    assert labels == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def test_non_convergence_raises(spark):
    # Regression (ADVICE r2): exhausting max_iter used to silently return
    # split components; it must surface instead.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a int, b int"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        alternating_star_components(chain, max_iter=0)
