from __future__ import annotations

import random

import pytest

from phenoscape_owl_tools_spark.operators import components
from phenoscape_owl_tools_spark.oracle import pyoracle


def test_connected_components_random_graph(spark, both_routes):
    rng = random.Random(11)
    edges = set()
    # several clusters of varying size + a long chain (worst case for hash-to-min)
    for c in range(8):
        members = [f"c{c}_n{i}" for i in range(rng.randrange(2, 6))]
        for i in range(len(members) - 1):
            edges.add((members[i], members[i + 1]))
    chain = [f"chain{i}" for i in range(12)]
    for i in range(11):
        edges.add((chain[i], chain[i + 1]))

    df = spark.createDataFrame(list(edges), ["a", "b"])

    @both_routes
    def _():
        got = {r["node"]: r["component"] for r in components.connected_components(df).collect()}
        assert got == pyoracle.connected_components(edges)


def test_canonicalize_triples(spark):
    comp = spark.createDataFrame([("b", "a"), ("a", "a")], ["node", "component"])
    triples = spark.createDataFrame(
        [("b", "p", "x"), ("x", "p", "b"), ("a", "p", "x")], ["subj", "pred", "obj"]
    )
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in components.canonicalize_triples(triples, comp).collect()
    }
    assert got == {("a", "p", "x"), ("x", "p", "a")}


def test_long_chain_converges_logarithmically(spark, both_routes):
    """A 2000-node path graph: one-hop propagation would need ~2000 rounds;
    pointer doubling must finish within ~16."""
    n = 2000
    edges = [(f"v{i:05d}", f"v{i+1:05d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, ["a", "b"])
    from phenoscape_owl_tools_spark.operators.components import connected_components

    @both_routes
    def _():
        labels = connected_components(df, max_iterations=16)
        got = {r["node"]: r["component"] for r in labels.collect()}
        assert len(got) == n
        assert set(got.values()) == {"v00000"}


def test_unconverged_raises(spark, both_routes):
    n = 300
    edges = [(f"v{i:05d}", f"v{i+1:05d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, ["a", "b"])
    from phenoscape_owl_tools_spark.operators.components import connected_components

    import pytest as _pytest

    @both_routes
    def _():
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_iterations=2)


@pytest.mark.parametrize("threshold,route", [(6, "driver"), (5, "spark")])
def test_route_seed_at_and_over_threshold(spark, monkeypatch, threshold, route):
    """Three edges give 6 undirected seed rows: at a threshold of 6 they run
    on the driver, at 5 (one row over) in the Spark loop."""
    from phenoscape_owl_tools_spark import iterbarrier

    monkeypatch.setattr(iterbarrier, "TARGET_ROWS_PER_PARTITION", threshold)
    calls = []
    driver = components._driver_hash_to_min
    monkeypatch.setattr(
        components, "_driver_hash_to_min", lambda *a: calls.append(1) or driver(*a)
    )
    edges = {("b", "a"), ("c", "b"), ("y", "x")}
    df = spark.createDataFrame(list(edges), ["a", "b"])
    got = {r["node"]: r["component"] for r in components.connected_components(df).collect()}
    assert got == pyoracle.connected_components(edges)
    assert calls == ([1] if route == "driver" else [])


def test_route_degenerate_seeds(spark, both_routes):
    """Empty, self-loop-only and NULL-endpoint edge sets, on both routes."""
    schema = "a string, b string"
    empty = spark.createDataFrame([], schema)
    loops = spark.createDataFrame([("a", "a"), ("b", "b")], schema)
    nulls = spark.createDataFrame(
        [("a", None), (None, "b"), (None, None), ("c", "b"), ("b", "a")], schema
    )

    def labels(df):
        return {r["node"]: r["component"] for r in components.connected_components(df).collect()}

    @both_routes
    def _():
        out = components.connected_components(empty)
        assert out.collect() == []
        assert out.schema.simpleString() == "struct<node:string,component:string>"
        assert labels(loops) == pyoracle.connected_components({("a", "a"), ("b", "b")})
        assert labels(nulls) == pyoracle.connected_components({("c", "b"), ("b", "a")})
