from __future__ import annotations

import random

import pytest

from phenoscape_owl_tools_spark.operators import closure
from phenoscape_owl_tools_spark.oracle import pyoracle


def _edges_df(spark, edges):
    return spark.createDataFrame([(a, b) for a, b in edges], ["sub", "sup"])


def _no_edges(spark):
    return spark.createDataFrame([], "sub string, sup string")


def test_transitive_closure_random_dag(spark, both_routes):
    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(60)]
    edges = set()
    for i in range(1, 60):
        for _ in range(rng.randrange(1, 3)):
            edges.add((nodes[i], nodes[rng.randrange(i)]))

    @both_routes
    def _():
        got = {
            (r["sub"], r["sup"])
            for r in closure.transitive_closure(_edges_df(spark, edges)).collect()
        }
        assert got == pyoracle.transitive_closure(edges)


def test_transitive_closure_reflexive_chain(spark, both_routes):
    edges = {("a", "b"), ("b", "c"), ("c", "d")}

    @both_routes
    def _():
        got = {
            (r["sub"], r["sup"])
            for r in closure.transitive_closure(_edges_df(spark, edges), reflexive=True).collect()
        }
        assert got == pyoracle.transitive_closure(edges, reflexive=True)


def test_el_closure_with_equiv(spark, both_routes):
    sub = _edges_df(spark, {("b", "a"), ("c", "b")})
    eq = spark.createDataFrame([("b", "d")], ["a", "b"])

    @both_routes
    def _():
        got = {
            (r["sub"], r["sup"])
            for r in closure.el_closure(sub, equiv_edges=eq).collect()
        }
        # d == b => d subclass a, c subclass d, etc.
        assert ("d", "a") in got
        assert ("c", "d") in got
        assert ("c", "a") in got
        assert ("b", "d") in got and ("d", "b") in got


def test_restriction_monotonicity_inside_fixpoint(spark, both_routes):
    """X<Y must propagate to (P some X) < (P some Y), and those new edges
    must feed further transitive steps (ELK-saturation parity)."""
    sub = _edges_df(spark, {("x", "y"), ("y", "z")})
    restr = spark.createDataFrame(
        [("rx", "P", "x"), ("ry", "P", "y"), ("rz", "P", "z"), ("top", "Q", "z")],
        ["iri", "prop", "filler"],
    )

    @both_routes
    def _():
        got = {
            (r["sub"], r["sup"])
            for r in closure.transitive_closure(_edges_df(spark, {("x", "y"), ("y", "z")}), restrictions=restr).collect()
        }
        assert ("rx", "ry") in got
        assert ("ry", "rz") in got
        assert ("rx", "rz") in got  # via transitivity over derived edges
        assert ("x", "z") in got
        assert not any(s == "top" or p == "top" for s, p in got)


def test_direct_hierarchy(spark):
    edges = {("c", "b"), ("b", "a"), ("c", "a")}  # c->a is redundant
    c = closure.transitive_closure(_edges_df(spark, edges))
    direct = {(r["sub"], r["sup"]) for r in closure.direct_hierarchy(c).collect()}
    assert direct == {("c", "b"), ("b", "a")}


def test_instance_closure(spark):
    types = spark.createDataFrame([("i1", "c")], ["individual", "cls"])
    cl = closure.transitive_closure(_edges_df(spark, {("c", "b"), ("b", "a")}))
    got = {(r["individual"], r["cls"]) for r in closure.instance_closure(types, cl).collect()}
    assert got == {("i1", "c"), ("i1", "b"), ("i1", "a")}


def _py_chain_closure(assertions, chains, subprops=()):
    """Sequential oracle: naive fixpoint over typed edges."""
    full = set(assertions)
    while True:
        new = set()
        for (p1, p2, r) in chains:
            left = [(s, o) for (p, s, o) in full if p == p1]
            right = {}
            for (p, s, o) in full:
                if p == p2:
                    right.setdefault(s, []).append(o)
            for s, m in left:
                for o in right.get(m, []):
                    if s != o:
                        new.add((r, s, o))
        for (sp, qp) in subprops:
            for (p, s, o) in list(full):
                if p == sp:
                    new.add((qp, s, o))
        if new <= full:
            return full
        full |= new


def test_property_chain_closure_vahm(spark):
    # VAHM-style: homologous_to ∘ part_of, plus part_of transitivity
    assertions = [
        ("part_of", "digit", "hand"), ("part_of", "hand", "arm"),
        ("part_of", "arm", "body"),
        ("hom", "fin", "hand"),
    ]
    chains = [("part_of", "part_of", "part_of"), ("hom", "part_of", "hom")]
    df = spark.createDataFrame(assertions, ["p", "s", "o"])
    got = {
        (r["p"], r["s"], r["o"])
        for r in closure.property_chain_closure(df, chains).collect()
    }
    assert got == _py_chain_closure(assertions, chains)
    assert ("hom", "fin", "body") in got  # needs derived∘derived composition
    assert ("part_of", "digit", "body") in got


def test_property_chain_closure_random_with_subprops(spark):
    rng = random.Random(11)
    nodes = [f"x{i}" for i in range(25)]
    assertions = set()
    for _ in range(60):
        p = rng.choice(["p", "q"])
        a, b = rng.sample(nodes, 2)
        assertions.add((p, a, b))
    chains = [("p", "p", "p"), ("q", "p", "q")]
    subprops = [("q", "p")]
    df = spark.createDataFrame(sorted(assertions), ["p", "s", "o"])
    sp = spark.createDataFrame(subprops, ["sub_p", "sup_p"])
    got = {
        (r["p"], r["s"], r["o"])
        for r in closure.property_chain_closure(df, chains, subprops=sp).collect()
    }
    assert got == _py_chain_closure(assertions, chains, subprops)


def test_property_chain_closure_subprops_only(spark):
    assertions = [("q", "a", "b"), ("q", "b", "c")]
    df = spark.createDataFrame(assertions, ["p", "s", "o"])
    sp = spark.createDataFrame([("q", "p")], ["sub_p", "sup_p"])
    got = {
        (r["p"], r["s"], r["o"])
        for r in closure.property_chain_closure(df, chains=[], subprops=sp).collect()
    }
    assert got == set(assertions) | {("p", "a", "b"), ("p", "b", "c")}


def test_derived_restriction_edges_compose_with_asserted_facts(spark, both_routes):
    """ELK parity gap (found in review): rx < ry is DERIVED by monotonicity
    from x < y; an asserted a < rx must then compose to a < ry. Linear
    semi-naive against the base edge set misses this."""
    edges = _edges_df(spark, {("x", "y"), ("a", "rx")})
    restrictions = spark.createDataFrame(
        [("rx", "P", "x"), ("ry", "P", "y")], ["iri", "prop", "filler"]
    )

    @both_routes
    def _():
        got = {
            (r["sub"], r["sup"])
            for r in closure.transitive_closure(edges, restrictions=restrictions).collect()
        }
        assert ("rx", "ry") in got  # monotonicity
        assert ("a", "ry") in got  # composition through the DERIVED edge


def test_incremental_closure_matches_full_recompute(spark):
    """Insert a batch of edges into a materialized closure; result must
    equal transitive_closure over the unioned edge set."""
    base_edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q")], ["sub", "sup"]
    )
    base = closure.transitive_closure(base_edges)
    # new batch: bridges two old regions (c->x) and adds a fresh chain
    new = spark.createDataFrame([("c", "x"), ("y", "z"), ("m", "n")], ["sub", "sup"])
    inc = closure.incremental_closure_apply(base, base_edges, _no_edges(spark), new)
    full = closure.transitive_closure(base_edges.unionByName(new))
    a = {(r["sub"], r["sup"]) for r in inc.collect()}
    b = {(r["sub"], r["sup"]) for r in full.collect()}
    assert a == b
    # the bridge must have closed old∘new∘old paths: a ->* z
    assert ("a", "z") in a


def test_incremental_closure_with_restrictions(spark):
    """Monotonicity fires on newly inserted subclass facts."""
    base_edges = spark.createDataFrame([("a", "b")], ["sub", "sup"])
    restrictions = spark.createDataFrame(
        [("r_a", "p", "a"), ("r_b", "p", "b"), ("r_c", "p", "c")],
        ["iri", "prop", "filler"],
    )
    base = closure.transitive_closure(base_edges, restrictions=restrictions)
    new = spark.createDataFrame([("b", "c")], ["sub", "sup"])
    inc = closure.incremental_closure_apply(
        base, base_edges, _no_edges(spark), new, restrictions=restrictions
    )
    full = closure.transitive_closure(
        base_edges.unionByName(new), restrictions=restrictions
    )
    assert {tuple(r) for r in inc.collect()} == {tuple(r) for r in full.collect()}
    got = {(r["sub"], r["sup"]) for r in inc.collect()}
    # monotonicity entailments through the new edge
    assert ("r_b", "r_c") in got and ("r_a", "r_c") in got


def test_incremental_closure_empty_batch_is_identity(spark):
    base_edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["sub", "sup"])
    base = closure.transitive_closure(base_edges)
    empty = _no_edges(spark)
    inc = closure.incremental_closure_apply(base, base_edges, empty, empty)
    assert {tuple(r) for r in inc.collect()} == {tuple(r) for r in base.collect()}


def test_chain_saturation_derives_reflexive_entailments_with_self_loops(spark):
    """keep_self_loops must keep DERIVED self-loops too: role1 ∘ Top lands
    on (x, x) before extending — a self-homologous rolification row."""
    r1, top, r2, prop = "r1", "owl:Top", "r2", "hom"
    facts = spark.createDataFrame(
        [(r1, "x", "x"), (top, "x", "x"), (r2, "x", "x")],
        "p string, s string, o string",
    )
    chains = [(r1, top, "aux"), ("aux", r2, prop)]
    sat = closure.property_chain_closure(facts, chains, keep_self_loops=True)
    got = {(r["p"], r["s"], r["o"]) for r in sat.collect()}
    assert ("aux", "x", "x") in got       # derived reflexive intermediate
    assert (prop, "x", "x") in got        # self-homology entailed


def test_dred_deletion_matches_full_recompute(spark):
    """Diamond: a->b->d and a->c->d; deleting a->b must keep a->d alive
    (alternative derivation) while dropping a->b and facts only via it."""
    edges = [("a", "b"), ("b", "d"), ("a", "c"), ("c", "d"), ("d", "e"), ("b", "x")]
    asserted = spark.createDataFrame(edges, ["sub", "sup"])
    full_before = closure.transitive_closure(asserted)
    deleted = spark.createDataFrame([("a", "b")], ["sub", "sup"])
    got = closure.incremental_closure_apply(
        full_before, asserted, deleted, _no_edges(spark)
    )
    expect = closure.transitive_closure(
        spark.createDataFrame(edges[1:], ["sub", "sup"])
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in expect.collect()}
    assert a == b
    assert ("a", "d") in a      # rederived through c
    assert ("a", "x") not in a  # only derivable via the deleted edge
    assert ("a", "b") not in a


def test_dred_deletion_with_restrictions(spark):
    edges = [("a", "b"), ("b", "c")]
    restrictions = spark.createDataFrame(
        [("r_a", "p", "a"), ("r_b", "p", "b"), ("r_c", "p", "c")],
        ["iri", "prop", "filler"],
    )
    asserted = spark.createDataFrame(edges, ["sub", "sup"])
    before = closure.transitive_closure(asserted, restrictions=restrictions)
    deleted = spark.createDataFrame([("b", "c")], ["sub", "sup"])
    got = closure.incremental_closure_apply(
        before, asserted, deleted, _no_edges(spark), restrictions=restrictions
    )
    expect = closure.transitive_closure(
        spark.createDataFrame([("a", "b")], ["sub", "sup"]),
        restrictions=restrictions,
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in expect.collect()}
    # monotonicity entailments via the deleted edge are gone
    assert ("r_b", "r_c") not in {(r["sub"], r["sup"]) for r in got.collect()}


def test_dred_delete_then_insert_roundtrip(spark):
    """delete e then re-insert e returns exactly the original closure."""
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    asserted = spark.createDataFrame(edges, ["sub", "sup"])
    before = closure.transitive_closure(asserted)
    e = spark.createDataFrame([("b", "c")], ["sub", "sup"])
    after_del = closure.incremental_closure_apply(before, asserted, e, _no_edges(spark))
    mid = _edges_df(spark, edges[:1] + edges[2:])
    after_ins = closure.incremental_closure_apply(after_del, mid, _no_edges(spark), e)
    assert ({tuple(r) for r in after_ins.collect()}
            == {tuple(r) for r in before.collect()})


def test_mixed_batch_randomized_equals_scratch(spark):
    """Randomized mixed batch (VERDICT r2 item 6): delete k existing edges
    AND insert k' fresh edges in two calls (a delete-only batch, then an
    insert-only one) == from-scratch closure of the mutated graph.
    Seeded DAG, edges always point to lower indices (acyclic by
    construction); the inserted edges reuse and bridge existing regions."""
    for seed in (3, 11):
        rng = random.Random(seed)
        nodes = [f"m{i}" for i in range(40)]
        edges = set()
        for i in range(1, 40):
            for _ in range(rng.randrange(1, 3)):
                edges.add((nodes[i], nodes[rng.randrange(i)]))
        edges = sorted(edges)
        deleted = set(rng.sample(edges, 5))
        inserted = set()
        while len(inserted) < 5:
            i = rng.randrange(1, 40)
            cand = (nodes[i], nodes[rng.randrange(i)])
            if cand not in edges or cand in deleted:
                inserted.add(cand)
        asserted = _edges_df(spark, edges)
        before = closure.transitive_closure(asserted)
        after_del = closure.incremental_closure_apply(
            before, asserted, _edges_df(spark, deleted), _no_edges(spark)
        )
        got = closure.incremental_closure_apply(
            after_del, _edges_df(spark, set(edges) - deleted), _no_edges(spark),
            _edges_df(spark, inserted),
        )
        final_edges = (set(edges) - deleted) | inserted
        want = pyoracle.transitive_closure(final_edges)
        assert {(r["sub"], r["sup"]) for r in got.collect()} == want, seed


def test_fused_apply_randomized_equals_scratch(spark):
    """incremental_closure_apply on a mixed batch in ONE call (one
    overdelete pass + one combined rederive/insert loop) == from-scratch
    closure of the mutated graph, on seeded random DAGs."""
    for seed in (5, 23):
        rng = random.Random(seed)
        nodes = [f"f{i}" for i in range(40)]
        edges = set()
        for i in range(1, 40):
            for _ in range(rng.randrange(1, 3)):
                edges.add((nodes[i], nodes[rng.randrange(i)]))
        edges = sorted(edges)
        deleted = set(rng.sample(edges, 5))
        inserted = set()
        while len(inserted) < 5:
            i = rng.randrange(1, 40)
            cand = (nodes[i], nodes[rng.randrange(i)])
            if cand not in edges or cand in deleted:
                inserted.add(cand)
        asserted = _edges_df(spark, edges)
        before = closure.transitive_closure(asserted)
        got = closure.incremental_closure_apply(
            before, asserted, _edges_df(spark, deleted), _edges_df(spark, inserted)
        )
        final_edges = (set(edges) - deleted) | inserted
        want = pyoracle.transitive_closure(final_edges)
        assert {(r["sub"], r["sup"]) for r in got.collect()} == want, seed


def test_fused_apply_with_restrictions(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    restrictions = spark.createDataFrame(
        [(f"r_{x}", "p", x) for x in "abcd"], ["iri", "prop", "filler"]
    )
    asserted = spark.createDataFrame(edges, ["sub", "sup"])
    before = closure.transitive_closure(asserted, restrictions=restrictions)
    got = closure.incremental_closure_apply(
        before, asserted,
        spark.createDataFrame([("b", "c")], ["sub", "sup"]),      # delete
        spark.createDataFrame([("b", "d")], ["sub", "sup"]),      # insert
        restrictions=restrictions,
    )
    want = closure.transitive_closure(
        spark.createDataFrame([("a", "b"), ("c", "d"), ("b", "d")], ["sub", "sup"]),
        restrictions=restrictions,
    )
    assert ({tuple(r) for r in got.collect()}
            == {tuple(r) for r in want.collect()})


def test_fused_apply_insert_only_and_delete_only(spark):
    """Degenerate batches: empty delete == pure insert semantics; empty
    insert == pure DRed semantics."""
    edges = [("a", "b"), ("b", "c")]
    asserted = _edges_df(spark, edges)
    before = closure.transitive_closure(asserted)
    empty = spark.createDataFrame([], "sub string, sup string")
    ins = closure.incremental_closure_apply(
        before, asserted, empty, _edges_df(spark, [("c", "d")])
    )
    assert {tuple(r) for r in ins.collect()} == pyoracle.transitive_closure(
        set(edges) | {("c", "d")}
    )
    dele = closure.incremental_closure_apply(
        before, asserted, _edges_df(spark, [("b", "c")]), empty
    )
    assert {tuple(r) for r in dele.collect()} == pyoracle.transitive_closure(
        {("a", "b")}
    )


def _count_barriers(monkeypatch):
    """Count ``IterationBarrier`` calls and explicit ``materialize`` calls
    (a round-trip made inside a call counts once, as that call)."""
    from phenoscape_owl_tools_spark.iterbarrier import IterationBarrier

    calls = []
    depth = [0]

    def counted(fn):
        def wrapper(self, *args, **kwargs):
            if depth[0] == 0:
                calls.append(fn.__name__)
            depth[0] += 1
            try:
                return fn(self, *args, **kwargs)
            finally:
                depth[0] -= 1
        return wrapper

    monkeypatch.setattr(IterationBarrier, "__call__", counted(IterationBarrier.__call__))
    monkeypatch.setattr(IterationBarrier, "materialize", counted(IterationBarrier.materialize))
    return calls


def test_apply_degenerate_batches_barrier_counts(spark, monkeypatch):
    """An insert-only batch pays no overdelete pass and a delete-only batch
    no insertion rounds: apply costs no more barriers than the dedicated
    insert (4) and DRed delete (9) loops it replaced, on a 60-node chain."""
    chain = [(f"c{i}", f"c{i + 1}") for i in range(59)]
    asserted = _edges_df(spark, chain)
    before = closure.transitive_closure(asserted).localCheckpoint(eager=True)
    inserted, deleted = [("c59", "c60")], [("c29", "c30")]
    calls = _count_barriers(monkeypatch)

    ins = closure.incremental_closure_apply(
        before, asserted, _no_edges(spark), _edges_df(spark, inserted)
    )
    assert len(calls) <= 4, calls
    assert _closure_set(ins) == pyoracle.transitive_closure(set(chain) | set(inserted))

    calls.clear()
    dele = closure.incremental_closure_apply(
        before, asserted, _edges_df(spark, deleted), _no_edges(spark)
    )
    assert len(calls) <= 9, calls
    assert _closure_set(dele) == pyoracle.transitive_closure(set(chain) - set(deleted))


def test_apply_compacts_long_cascades(spark, monkeypatch):
    """Nested restrictions (x_k = P some x_k-1, ten deep) stretch deleting
    a ⊑ b over 12 overdelete rounds and, through the surviving path
    a ⊑ m ⊑ b, as many rederive rounds: both loops compact mid-cascade
    (every 8 rounds) and the result equals the from-scratch closure."""
    edges = {("a", "m"), ("m", "b"), ("a", "b"), ("b", "c")}
    restr = spark.createDataFrame(
        [(f"{x}{k}", "P", f"{x}{k - 1}" if k > 1 else x) for x in "abc" for k in range(1, 11)],
        ["iri", "prop", "filler"],
    )
    asserted = _edges_df(spark, edges)
    before = closure.transitive_closure(asserted, restr).localCheckpoint(eager=True)
    calls = _count_barriers(monkeypatch)
    overdelete, over_compactions = closure._overdelete, []

    def spy(*args):
        out = overdelete(*args)
        over_compactions.append(calls.count("materialize"))
        return out

    monkeypatch.setattr(closure, "_overdelete", spy)
    got = closure.incremental_closure_apply(
        before, asserted, _edges_df(spark, [("a", "b")]), _no_edges(spark), restr
    )
    want = closure.transitive_closure(_edges_df(spark, edges - {("a", "b")}), restr)
    assert _closure_set(got) == _closure_set(want)
    assert over_compactions[0] >= 2
    assert calls.count("materialize") > over_compactions[0]


_DEEP = {"width": 8, "layers": 60}
_deep_closure_cache: dict[int, object] = {}


def _deep_graph():
    """Layered DAG: node (l, w) -> parent (l-1, w). Depth = layers,
    independent of width — the BENCH §9.2 'deep' shape at test scale
    (avg ancestors/node ~= layers/2 = 30 >= the 20 threshold)."""
    return [
        (f"d{l}_{w}", f"d{l - 1}_{w}")
        for l in range(1, _DEEP["layers"])
        for w in range(_DEEP["width"])
    ]


def _deep_closure(spark):
    """The deep graph's closure, computed once per session (two chooser
    tests probe the same frame; the fixpoint is the expensive part)."""
    key = id(spark)
    if key not in _deep_closure_cache:
        df = closure.transitive_closure(_edges_df(spark, _deep_graph()))
        _deep_closure_cache[key] = df.localCheckpoint(eager=True)
    return _deep_closure_cache[key]


def test_choose_strategy_bary_picks_scratch(spark):
    """Shallow branching DAG (avg ancestors ~3 << 20): recompute wins
    (BENCH §9.2 measured 0.38-0.47x for incremental) — chooser says so."""
    edges = [(f"b{i}", f"b{i // 10}") for i in range(1, 600)]
    before = closure.transitive_closure(_edges_df(spark, edges))
    deleted = _edges_df(spark, [("b599", "b59")])
    got = closure.choose_maintenance_strategy(before, deleted)
    assert got["strategy"] == "scratch"
    assert got["depth_proxy"] < closure.MAINTAIN_DEPTH_THRESHOLD


def test_choose_strategy_deep_recent_picks_incremental(spark):
    """Deep layered DAG + bottom-layer retraction (the continuous-ingest
    shape, BENCH §9.2 measured 1.72x win): chooser picks incremental."""
    last = _DEEP["layers"] - 1
    deleted = _edges_df(spark, [(f"d{last}_0", f"d{last - 1}_0")])  # no cone
    got = closure.choose_maintenance_strategy(_deep_closure(spark), deleted)
    assert got["strategy"] == "incremental", got
    assert got["depth_proxy"] >= closure.MAINTAIN_DEPTH_THRESHOLD
    assert got["cone_fraction"] <= closure.MAINTAIN_CONE_FRACTION_THRESHOLD


def test_choose_strategy_deep_structural_picks_scratch(spark):
    """Same deep graph, but MID-GRAPH structural deletes drag a whole
    descendant cone through overdelete/rederive (measured 0.67x): the
    cone probe overrides the depth signal."""
    mid = _DEEP["layers"] // 2
    deleted = _edges_df(
        spark, [(f"d{mid}_{w}", f"d{mid - 1}_{w}") for w in range(_DEEP["width"])]
    )
    got = closure.choose_maintenance_strategy(_deep_closure(spark), deleted)
    assert got["strategy"] == "scratch", got
    assert got["cone_fraction"] > closure.MAINTAIN_CONE_FRACTION_THRESHOLD


def test_maintain_closure_auto_randomized_equals_scratch(spark, monkeypatch):
    """The auto entry point == from-scratch closure of the mutated graph
    on seeded random DAGs, whatever strategy it picks — and both FORCED
    strategies agree too (bit-identical maintenance guarantee). The
    decision thresholds force a strategy."""
    forced = {
        None: {},
        "incremental": {
            "MAINTAIN_DEPTH_THRESHOLD": 0.0,
            "MAINTAIN_CONE_FRACTION_THRESHOLD": float("inf"),
        },
        "scratch": {"MAINTAIN_DEPTH_THRESHOLD": float("inf")},
    }
    applied = []
    apply = closure.incremental_closure_apply
    monkeypatch.setattr(
        closure,
        "incremental_closure_apply",
        lambda *a, **kw: applied.append(1) or apply(*a, **kw),
    )
    for seed in (7, 31):
        rng = random.Random(seed)
        nodes = [f"a{i}" for i in range(40)]
        edges = set()
        for i in range(1, 40):
            for _ in range(rng.randrange(1, 3)):
                edges.add((nodes[i], nodes[rng.randrange(i)]))
        edges = sorted(edges)
        deleted = set(rng.sample(edges, 5))
        inserted = set()
        while len(inserted) < 5:
            i = rng.randrange(1, 40)
            cand = (nodes[i], nodes[rng.randrange(i)])
            if cand not in edges or cand in deleted:
                inserted.add(cand)
        asserted = _edges_df(spark, edges)
        before = closure.transitive_closure(asserted)
        want = pyoracle.transitive_closure((set(edges) - deleted) | inserted)
        for strategy, thresholds in forced.items():
            applied.clear()
            with monkeypatch.context() as m:
                for name, value in thresholds.items():
                    m.setattr(closure, name, value)
                got = closure.maintain_closure(
                    before,
                    asserted,
                    _edges_df(spark, deleted),
                    _edges_df(spark, inserted),
                )
                assert {(r["sub"], r["sup"]) for r in got.collect()} == want, (
                    seed,
                    strategy,
                )
            if strategy is not None:
                assert applied == ([1] if strategy == "incremental" else []), strategy


def test_maintain_closure_empty_batch_is_identity(spark):
    edges = [("a", "b"), ("b", "c")]
    before = closure.transitive_closure(_edges_df(spark, edges))
    got = closure.maintain_closure(before, _edges_df(spark, edges))
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in before.collect()
    }


def test_maintain_closure_with_restrictions_auto(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    restrictions = spark.createDataFrame(
        [(f"r_{x}", "p", x) for x in "abcd"], ["iri", "prop", "filler"]
    )
    asserted = _edges_df(spark, edges)
    before = closure.transitive_closure(asserted, restrictions=restrictions)
    got = closure.maintain_closure(
        before,
        asserted,
        _edges_df(spark, [("b", "c")]),
        _edges_df(spark, [("b", "d")]),
        restrictions=restrictions,
    )
    want = closure.transitive_closure(
        _edges_df(spark, [("a", "b"), ("c", "d"), ("b", "d")]),
        restrictions=restrictions,
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


# ---------------------------------------------------------------------------
# Driver/Spark routing (iterbarrier.fits_driver) against pyoracle
# ---------------------------------------------------------------------------


def _spy_routes(monkeypatch):
    """Record which rounds ran: driver calls, and the ``start`` round of
    every Spark-loop call (0 = from the seed, > 0 = a driver hand-off)."""
    calls = {"driver": 0, "spark_starts": []}
    driver, spark_rounds = closure._driver_rounds, closure._spark_rounds

    def driver_spy(*args, **kwargs):
        calls["driver"] += 1
        return driver(*args, **kwargs)

    def spark_spy(barrier, edges, r1, cl, delta, start, max_iterations):
        calls["spark_starts"].append(start)
        return spark_rounds(barrier, edges, r1, cl, delta, start, max_iterations)

    monkeypatch.setattr(closure, "_driver_rounds", driver_spy)
    monkeypatch.setattr(closure, "_spark_rounds", spark_spy)
    return calls


def _el_oracle(edges, restrictions):
    """Transitivity plus EL monotonicity to a fixpoint, naively."""
    facts = set(edges)
    while True:
        tc = pyoracle.transitive_closure(facts)
        mono = {
            (r1, r2)
            for x, y in tc
            for r1, p1, f1 in restrictions
            for r2, p2, f2 in restrictions
            if p1 == p2 and f1 == x and f2 == y
        }
        if tc | mono == facts:
            return facts
        facts = tc | mono


def _closure_set(df):
    return {(r["sub"], r["sup"]) for r in df.collect()}


def _patch_threshold(monkeypatch, rows):
    from phenoscape_owl_tools_spark import iterbarrier

    monkeypatch.setattr(iterbarrier, "TARGET_ROWS_PER_PARTITION", rows)


@pytest.mark.parametrize("leaves,route", [(6, "driver"), (7, "spark")])
def test_route_seed_at_and_over_threshold(spark, monkeypatch, leaves, route):
    """A star closes to itself: 6 seed rows (= the threshold) stay on the
    driver throughout, 7 go to the Spark loop from the seed."""
    _patch_threshold(monkeypatch, 6)
    calls = _spy_routes(monkeypatch)
    edges = {(f"leaf{i}", "root") for i in range(leaves)}
    got = _closure_set(closure.transitive_closure(_edges_df(spark, edges)))
    assert got == pyoracle.transitive_closure(edges)
    if route == "driver":
        assert calls == {"driver": 1, "spark_starts": []}
    else:
        assert calls == {"driver": 0, "spark_starts": [0]}


def test_route_chain_hands_off_mid_fixpoint(spark, monkeypatch):
    """An 11-edge chain closes to 66 rows; with a 15-row threshold the
    driver hands its state to the Spark loop after one round."""
    _patch_threshold(monkeypatch, 15)
    calls = _spy_routes(monkeypatch)
    edges = {(f"c{i:02d}", f"c{i + 1:02d}") for i in range(11)}
    got = _closure_set(closure.transitive_closure(_edges_df(spark, edges)))
    assert got == pyoracle.transitive_closure(edges)
    assert calls == {"driver": 1, "spark_starts": [1]}


def test_route_chain_with_restrictions_hands_off_mid_fixpoint(spark, monkeypatch):
    """Same hand-off under the non-linear rounds: monotonicity mirrors the
    chain onto its restriction classes (2 x 28 closure rows)."""
    _patch_threshold(monkeypatch, 20)
    calls = _spy_routes(monkeypatch)
    nodes = [f"c{i}" for i in range(8)]
    edges = {(nodes[i], nodes[i + 1]) for i in range(7)}
    restr = [(f"r_{n}", "P", n) for n in nodes]
    restr_df = spark.createDataFrame(restr, ["iri", "prop", "filler"])
    got = _closure_set(
        closure.transitive_closure(_edges_df(spark, edges), restrictions=restr_df)
    )
    assert got == _el_oracle(edges, restr)
    assert calls["driver"] == 1
    assert len(calls["spark_starts"]) == 1 and calls["spark_starts"][0] > 0


@pytest.mark.parametrize("threshold", [0, 15, 1000])
def test_route_max_iterations_counts_rounds_across_routes(spark, monkeypatch, threshold):
    """An 11-edge chain needs 11 linear rounds (the last finds nothing new)
    in the Spark loop, on the driver, or split by a hand-off after one."""
    _patch_threshold(monkeypatch, threshold)
    edges = {(f"c{i:02d}", f"c{i + 1:02d}") for i in range(11)}
    got = _closure_set(closure.transitive_closure(_edges_df(spark, edges), max_iterations=11))
    assert got == pyoracle.transitive_closure(edges)
    with pytest.raises(RuntimeError, match="did not converge in 10 iterations"):
        closure.transitive_closure(_edges_df(spark, edges), max_iterations=10)


def test_route_degenerate_seeds(spark, both_routes):
    """Empty, self-loop-only and NULL-endpoint seeds, on both routes."""
    schema = "sub string, sup string"
    empty = spark.createDataFrame([], schema)
    loops = spark.createDataFrame([("a", "a"), ("b", "b")], schema)
    nulls = spark.createDataFrame(
        [("a", None), (None, "b"), (None, None), ("a", "b"), ("b", "c")], schema
    )
    restr = spark.createDataFrame([("ra", "P", "a"), ("rc", "P", "c")], ["iri", "prop", "filler"])

    @both_routes
    def _():
        for restrictions in (None, restr):
            assert _closure_set(closure.transitive_closure(empty, restrictions)) == set()
            assert _closure_set(closure.transitive_closure(loops, restrictions)) == set()
            assert _closure_set(closure.transitive_closure(loops, restrictions, reflexive=True)) == set()
        assert _closure_set(closure.transitive_closure(nulls)) == pyoracle.transitive_closure(
            {("a", "b"), ("b", "c")}
        )
        assert _closure_set(closure.transitive_closure(nulls, restr)) == _el_oracle(
            {("a", "b"), ("b", "c")}, [("ra", "P", "a"), ("rc", "P", "c")]
        )
        out = closure.transitive_closure(empty)
        assert out.schema.simpleString() == "struct<sub:string,sup:string>"
