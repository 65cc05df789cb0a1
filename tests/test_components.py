"""Connected components (iterative joins)."""

from __future__ import annotations

from pdf_knowledge_extractor_spark.operators.components import (
    connected_components,
)


def test_connected_components_two_chains(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "z"), ("p", "q")],
        "src string, dst string",
    )
    labels = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert labels["a"] == labels["b"] == labels["c"] == labels["d"] == "a"
    assert labels["x"] == labels["y"] == labels["z"] == "x"
    assert labels["p"] == labels["q"] == "p"


def test_connected_components_long_chain_converges(spark):
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)],
        "src string, dst string",
    )
    labels = connected_components(edges, max_iterations=50).collect()
    comps = {r["component"] for r in labels}
    assert comps == {"n000"}


def _union_find(pairs):
    """Plain-Python oracle: node -> min node id of its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def test_connected_components_matches_union_find(spark):
    """Min-id labels equal a union-find oracle's on a chain, a star, a
    cycle and a random graph."""
    import random

    rng = random.Random(7)
    cases = {
        "chain": [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(12)],
        "star": [("h", f"s{i}") for i in range(8)],
        "cycle": [(f"c{i}", f"c{(i + 1) % 7}") for i in range(7)],
        "random": [
            (f"r{rng.randrange(24):02d}", f"r{rng.randrange(24):02d}")
            for _ in range(36)
        ],
    }
    for name, pairs in cases.items():
        pairs = [(a, b) for a, b in pairs if a != b]
        edges = spark.createDataFrame(pairs, "src string, dst string")
        got = {
            r["node"]: r["component"]
            for r in connected_components(edges, max_iterations=30).collect()
        }
        assert got == _union_find(pairs), name


def test_connected_components_selfloop_singletons(spark):
    """A node whose only edge is a self-loop is its own component."""
    edges = spark.createDataFrame(
        [("a", "b"), ("s", "s"), ("t", "t")], "src string, dst string"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {"a": "a", "b": "a", "s": "s", "t": "t"}


def test_connected_components_reports_convergence(spark):
    """Propagation needs about one round per chain link: a 50-link
    chain converges within a budget of 60 rounds and reports that it
    did not within 10."""
    n = 50
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)],
        "src string, dst string",
    )
    full, stats = connected_components(
        edges, max_iterations=60, return_stats=True
    )
    assert stats["converged"] and stats["iterations"] > 10
    assert {r["component"] for r in full.collect()} == {"n000"}
    _, short = connected_components(edges, max_iterations=10,
                                    return_stats=True)
    assert short == {"iterations": 10, "converged": False}
