"""The fixpoint operators leave the session's shuffle width alone: none
writes it, and two fixpoints on two threads of one session both answer
correctly and leave the width as the caller set it."""

from __future__ import annotations

import random
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql.conf import RuntimeConfig

from phenoscape_owl_tools_spark import iterbarrier
from phenoscape_owl_tools_spark.operators import closure, components, profiles
from phenoscape_owl_tools_spark.oracle import pyoracle

WIDTH = "spark.sql.shuffle.partitions"


def _edges_df(spark, edges):
    return spark.createDataFrame(sorted(edges), "sub string, sup string")


def _random_graph(seed: int, n: int = 30, m: int = 25):
    rng = random.Random(seed)
    return {(f"n{rng.randrange(n)}", f"n{rng.randrange(n)}") for _ in range(m)}


def test_no_operator_writes_shuffle_width(spark, monkeypatch):
    """Every fixpoint and level loop runs at the session's width: no
    ``RuntimeConfig.set`` of the shuffle width, on the Spark route."""
    monkeypatch.setattr(iterbarrier, "TARGET_ROWS_PER_PARTITION", 0)
    # no Fitch table fits the driver fold: the level loop runs
    monkeypatch.setattr(profiles, "DRIVER_FITCH_MAX_ROWS", 0)

    chain = {(f"c{i}", f"c{i + 1}") for i in range(6)}
    restr = spark.createDataFrame(
        [(f"r_{n}", "P", n) for n in ("c0", "c1", "c2")], ["iri", "prop", "filler"]
    )
    asserted = _edges_df(spark, chain)
    before = closure.transitive_closure(asserted).localCheckpoint(eager=True)
    taxonomy = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "b"), ("e", "a")], ["child", "parent"]
    )
    states = spark.createDataFrame(
        [("c", "ch", "s0"), ("d", "ch", "s1"), ("e", "ch", "s1")],
        ["taxon", "character", "state"],
    )
    runs = {
        "transitive_closure": lambda: closure.transitive_closure(asserted),
        "transitive_closure+restrictions": lambda: closure.transitive_closure(asserted, restr),
        "property_chain_closure": lambda: closure.property_chain_closure(
            spark.createDataFrame(
                [("p", "a", "b"), ("p", "b", "c"), ("q", "c", "d")], ["p", "s", "o"]
            ),
            [("p", "p", "p"), ("p", "q", "q")],
        ),
        "incremental_closure_apply": lambda: closure.incremental_closure_apply(
            before, asserted, _edges_df(spark, {("c2", "c3")}), _edges_df(spark, {("c6", "c7")})
        ),
        "connected_components": lambda: components.connected_components(
            spark.createDataFrame(sorted(_random_graph(1)), ["a", "b"])
        ),
        "taxonomy_depths": lambda: profiles.taxonomy_depths(taxonomy),
        "evolutionary_profiles": lambda: profiles.evolutionary_profiles(taxonomy, states),
    }
    writes: list[str] = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        if key == WIDTH:
            writes.append(current)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    for current, run in runs.items():
        out = run()
        for df in out if isinstance(out, tuple) else (out,):
            df.collect()
    assert writes == []


def test_two_fixpoints_on_two_threads_keep_session_width(spark, monkeypatch):
    """A closure and a connected-components run share one session from two
    threads, on the Spark route: both match ``pyoracle`` and the session's
    shuffle width reads as the caller set it afterwards."""
    monkeypatch.setattr(iterbarrier, "TARGET_ROWS_PER_PARTITION", 0)
    chain = {(f"c{i:02d}", f"c{i + 1:02d}") for i in range(12)}
    graph = _random_graph(7, n=40, m=30)
    old = spark.conf.get(WIDTH)
    spark.conf.set(WIDTH, "16")
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            tc = pool.submit(
                lambda: {tuple(r) for r in closure.transitive_closure(_edges_df(spark, chain)).collect()}
            )
            cc = pool.submit(
                lambda: {
                    r["node"]: r["component"]
                    for r in components.connected_components(
                        spark.createDataFrame(sorted(graph), ["a", "b"])
                    ).collect()
                }
            )
            got_tc, got_cc = tc.result(timeout=600), cc.result(timeout=600)
        assert got_tc == pyoracle.transitive_closure(chain)
        assert got_cc == pyoracle.connected_components(graph)
        assert spark.conf.get(WIDTH) == "16"
    finally:
        spark.conf.set(WIDTH, old)
