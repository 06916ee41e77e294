from __future__ import annotations

import random

from phenoscape_owl_tools_spark import vocab
from phenoscape_owl_tools_spark.operators import profiles
from phenoscape_owl_tools_spark.oracle import pyoracle


def _random_tree_case(seed: int, n_nodes: int = 25, n_chars: int = 4, n_states: int = 5):
    rng = random.Random(seed)
    nodes = [f"t{i}" for i in range(n_nodes)]
    children_of: dict[str, list[str]] = {}
    edges = []
    for i in range(1, n_nodes):
        parent = nodes[rng.randrange(i)]
        children_of.setdefault(parent, []).append(nodes[i])
        edges.append((nodes[i], parent))
    node_states: dict[str, dict[str, set[str]]] = {}
    assoc_rows = []
    for n in nodes:
        # leaf-heavy: leaves usually annotated, internals sometimes
        p = 0.8 if n not in children_of else 0.2
        if rng.random() < p:
            per = {}
            for c in range(n_chars):
                if rng.random() < 0.6:
                    st = {f"s{rng.randrange(n_states)}" for _ in range(rng.randrange(1, 3))}
                    per[f"ch{c}"] = st
                    for s in st:
                        assoc_rows.append((n, f"ch{c}", s))
            if per:
                node_states[n] = per
    return edges, children_of, node_states, assoc_rows, nodes[0]


def test_taxonomy_depths(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "b")], ["child", "parent"]
    )
    got = {r["n"]: r["depth"] for r in profiles.taxonomy_depths(edges).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 2}


def test_evolutionary_profiles_vs_oracle(spark):
    for seed in (3, 17):
        edges, children_of, node_states, assoc_rows, root = _random_tree_case(seed)
        if not assoc_rows:
            continue
        e_df = spark.createDataFrame(edges, ["child", "parent"])
        a_df = spark.createDataFrame(assoc_rows, ["taxon", "character", "state"])
        assoc, prof = profiles.evolutionary_profiles(e_df, a_df)

        exp_assoc, exp_prof = pyoracle.fitch_postorder(children_of, root, node_states)

        got_assoc = {
            (r["node"], r["character"]): set(r["states"]) for r in assoc.collect()
        }
        exp_assoc_flat = {
            (n, c): set(s) for n, per in exp_assoc.items() for c, s in per.items() if s
        }
        assert got_assoc == exp_assoc_flat, f"seed={seed}"

        got_prof = {
            (r["node"], r["character"]): set(r["states"]) for r in prof.collect()
        }
        exp_prof_flat = {
            (n, c): set(s) for n, per in exp_prof.items() for c, s in per.items() if s
        }
        assert got_prof == exp_prof_flat, f"seed={seed}"


def test_profile_triples(spark):
    prof = spark.createDataFrame(
        [("taxon1", "ch0", ["s1", "s2"])], "node string, character string, states array<string>"
    )
    sp = spark.createDataFrame(
        [("s1", "ph1"), ("s2", "ph2")], ["state", "phenotype"]
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in profiles.profile_triples(prof, sp).collect()}
    assert ("taxon1#profile", vocab.RDF_TYPE, "ph1") in got
    assert ("taxon1#profile", vocab.RDF_TYPE, "ph2") in got
    assert ("taxon1", vocab.HAS_PHENOTYPIC_PROFILE, "taxon1#profile") in got


def test_gene_profiles(spark):
    ann = spark.createDataFrame(
        [("a1", "g1", "p1"), ("a2", "g1", "p2"), ("a3", "g2", "p1")],
        ["annotation", "gene", "phenotype_class"],
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in profiles.gene_profiles(ann).collect()}
    assert ("g1#profile", vocab.RDF_TYPE, "p1") in got
    assert ("g1#profile", vocab.RDF_TYPE, "p2") in got
    assert ("g2", vocab.HAS_PHENOTYPIC_PROFILE, "g2#profile") in got
    assert len([t for t in got if t[1] == vocab.RDF_TYPE]) == 3


def test_evolutionary_profiles_deep_taxonomy(spark):
    """Depth-40 caterpillar tree: regression for the checkpoint-chain
    task-time-doubling pathology (BENCH.md §5) — under bare per-level
    localCheckpoint this blows up past depth ~13; with IterationBarrier
    it must finish promptly and still match the sequential oracle."""
    depth = 40
    edges, children_of, node_states, assoc_rows = [], {}, {}, []
    rng = random.Random(7)
    for i in range(1, depth + 1):
        spine_child, spine_parent = f"n{i}", f"n{i-1}"
        edges.append((spine_child, spine_parent))
        children_of.setdefault(spine_parent, []).append(spine_child)
        leaf = f"leaf{i}"
        edges.append((leaf, spine_parent))
        children_of.setdefault(spine_parent, []).append(leaf)
        st = {f"s{rng.randrange(4)}"}
        node_states[leaf] = {"ch0": st}
        for s in st:
            assoc_rows.append((leaf, "ch0", s))
    # annotate the chain tip so every level participates
    node_states[f"n{depth}"] = {"ch0": {"s0"}}
    assoc_rows.append((f"n{depth}", "ch0", "s0"))

    e_df = spark.createDataFrame(edges, ["child", "parent"])
    a_df = spark.createDataFrame(assoc_rows, ["taxon", "character", "state"])
    assoc, prof = profiles.evolutionary_profiles(e_df, a_df)

    exp_assoc, exp_prof = pyoracle.fitch_postorder(children_of, "n0", node_states)
    got_assoc = {(r["node"], r["character"]): set(r["states"]) for r in assoc.collect()}
    exp_assoc_flat = {(n, c): set(s) for n, per in exp_assoc.items() for c, s in per.items() if s}
    assert got_assoc == exp_assoc_flat
    got_prof = {(r["node"], r["character"]): set(r["states"]) for r in prof.collect()}
    exp_prof_flat = {(n, c): set(s) for n, per in exp_prof.items() for c, s in per.items() if s}
    assert got_prof == exp_prof_flat


def test_fitch_strategies_agree(spark, corpus, monkeypatch):
    """Driver fold and distributed level loop produce identical rows on the
    fixture taxonomy (and the bench tree shape: own-asserted internals,
    multi-child intersections, union events). The row cap picks the route."""
    c, paths = corpus
    taxonomy = spark.read.parquet(paths["taxonomy_edges"])
    assoc = spark.read.parquet(paths["state_associations"])
    folds = []
    fitch_driver = profiles._fitch_driver
    monkeypatch.setattr(
        profiles, "_fitch_driver", lambda *a: folds.append(1) or fitch_driver(*a)
    )

    def run(max_rows):
        monkeypatch.setattr(profiles, "DRIVER_FITCH_MAX_ROWS", max_rows)
        return profiles.evolutionary_profiles(taxonomy, assoc)

    a_assoc, a_prof = run(10**12)  # driver fold
    b_assoc, b_prof = run(0)  # level loop
    assert folds == [1]

    def rows(df):
        return {(r["node"], r["character"], tuple(r["states"])) for r in df.collect()}

    assert rows(a_assoc) == rows(b_assoc)
    assert rows(a_prof) == rows(b_prof)
