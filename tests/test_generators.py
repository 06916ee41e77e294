from __future__ import annotations

from pyspark.sql import functions as F

from phenoscape_owl_tools_spark import vocab
from phenoscape_owl_tools_spark.operators import closure, generators


def _classes(spark, iris):
    return spark.createDataFrame([(i,) for i in iris], ["iri"])


def test_named_restrictions_deterministic(spark):
    cls = _classes(spark, ["http://x/a", "http://x/b"])
    out1 = generators.named_restrictions(cls, [vocab.PART_OF])["restrictions"].collect()
    out2 = generators.named_restrictions(cls, [vocab.PART_OF])["restrictions"].collect()
    assert {r["iri"] for r in out1} == {r["iri"] for r in out2}
    assert len(out1) == 2
    trip = generators.named_restrictions(cls, [vocab.PART_OF])["triples"].collect()
    assert all(t["pred"] == vocab.PART_OF + "_some" for t in trip)


def test_absence_classes(spark):
    cls = _classes(spark, ["http://x/e"])
    out = generators.absence_classes(cls)
    trip = out["triples"].collect()
    assert len(trip) == 1 and trip[0]["pred"] == vocab.ABSENCE_OF
    neg = out["negates"].collect()
    rest = out["restrictions"].collect()
    # absence class negates exactly the presence restriction
    assert neg[0]["c"] == rest[0]["iri"]
    assert neg[0]["n"].startswith(vocab.NOT_PREFIX)


def test_negation_classes(spark):
    cls = _classes(spark, ["http://x/c"])
    out = generators.negation_classes(cls)
    t = out["triples"].collect()[0]
    assert t["subj"] == vocab.NOT_PREFIX + "http://x/c"
    assert t["pred"] == vocab.NEGATES and t["obj"] == "http://x/c"


def test_develops_from_rules_feed_closure(spark):
    """The P5 GCI edges must compose with monotonicity inside the fixpoint:
    entity F develops into E; has_part some (develops_from some E) < has_part
    some E must hold, and with E < E2 asserted the restriction chain must
    reach has_part some E2."""
    ents = _classes(spark, ["http://x/E", "http://x/E2"])
    out = generators.develops_from_rules(ents)
    sub = spark.createDataFrame([("http://x/E", "http://x/E2")], ["sub", "sup"])
    cl = closure.el_closure(
        sub, gci_edges=out["gci_edges"], restrictions=out["restrictions"]
    )
    got = {(r["sub"], r["sup"]) for r in cl.collect()}

    from phenoscape_owl_tools_spark.functions import iri as iri_fn
    hp = lambda e: spark.range(1).select(
        iri_fn.restriction_class_iri(F.lit(vocab.HAS_PART), F.lit(e)).alias("x")
    ).collect()[0]["x"]
    df_inner = lambda e: spark.range(1).select(
        iri_fn.restriction_class_iri(F.lit(vocab.DEVELOPS_FROM), F.lit(e)).alias("x")
    ).collect()[0]["x"]
    hp_df = lambda e: spark.range(1).select(
        iri_fn.restriction_class_iri(
            F.lit(vocab.HAS_PART),
            iri_fn.restriction_class_iri(F.lit(vocab.DEVELOPS_FROM), F.lit(e)),
        ).alias("x")
    ).collect()[0]["x"]

    assert (hp_df("http://x/E"), hp("http://x/E")) in got          # the GCI itself
    assert (hp("http://x/E"), hp("http://x/E2")) in got            # monotonicity
    assert (hp_df("http://x/E"), hp("http://x/E2")) in got         # composed


def test_taxonomy_converter(spark):
    edges = spark.createDataFrame([("t2", "t1")], ["child", "parent"])
    got = {(r["subj"], r["pred"], r["obj"]) for r in generators.taxonomy_converter(edges).collect()}
    assert ("t2", vocab.SUBCLADE_OF, "t1") in got
    assert ("t2", vocab.RDF_TYPE, vocab.TAXON) in got
    assert ("t1", vocab.RDF_TYPE, vocab.TAXON) in got


def test_defined_by(spark):
    cls = _classes(spark, [vocab.OBO_PREFIX + "UBERON_0001062", "http://other/x"])
    got = generators.defined_by(cls).collect()
    assert len(got) == 1
    assert got[0]["obj"] == vocab.OBO_PREFIX + "uberon.owl"


def test_normalize_properties(spark):
    t = spark.createDataFrame(
        [("s", "http://purl.obolibrary.org/obo/uberon/core#part_of", "o"), ("s", "keep", "o")],
        ["subj", "pred", "obj"],
    )
    got = {r["pred"] for r in generators.normalize_properties(t).collect()}
    assert got == {vocab.PART_OF, "keep"}


def _reachable_defs(assertions, defs):
    """Naive reachability: def triples of every class reachable from an
    asserted class through def objects."""
    seen, todo = set(), [cls for _, cls in assertions]
    while todo:
        c = todo.pop()
        if c not in seen:
            seen.add(c)
            todo.extend(o for s, _, o in defs if s == c)
    return {t for t in defs if t[0] in seen}


def test_expand_profile_semantics(spark):
    """Only def triples of classes reachable from an asserted one survive,
    also when the definition graph has a cycle or a NULL object."""
    from phenoscape_owl_tools_spark.operators.generators import (
        expand_profile_semantics,
    )

    cases = {
        "flat": (
            [("ind1", "expr:A"), ("ind2", "cls:plain")],
            [
                ("expr:A", "rdfs:subClassOf", "cls:S"),
                ("expr:A", "in_taxon", "t:1"),
                ("expr:B", "rdfs:subClassOf", "cls:T"),  # unreferenced
            ],
        ),
        "cyclic": (
            [("i1", "expr:X")],
            [
                ("expr:X", "has_part", "expr:Y"),
                ("expr:Y", "part_of", "expr:Z"),
                ("expr:Z", "develops_from", "expr:X"),  # back to the start
                ("expr:Z", "in_taxon", "t:2"),
                ("expr:Y", "label", None),  # a NULL object names no class
                ("expr:W", "part_of", "expr:X"),  # points in, unreachable
            ],
        ),
    }
    for name, (assertions, defs) in cases.items():
        got = {
            tuple(r)
            for r in expand_profile_semantics(
                spark.createDataFrame(assertions, ["individual", "cls"]),
                spark.createDataFrame(defs, "subj string, pred string, obj string"),
            ).collect()
        }
        assert got == _reachable_defs(assertions, defs), name
    assert _reachable_defs(*cases["flat"]) == {
        ("expr:A", "rdfs:subClassOf", "cls:S"),
        ("expr:A", "in_taxon", "t:1"),
    }


def test_expand_profile_semantics_nested(spark):
    """Nested expression defs are pulled in transitively (fixpoint)."""
    from phenoscape_owl_tools_spark.operators.generators import (
        expand_profile_semantics,
    )

    assertions = spark.createDataFrame([("i1", "expr:outer")], ["individual", "cls"])
    defs = spark.createDataFrame(
        [
            ("expr:outer", "has_part", "expr:inner"),
            ("expr:inner", "develops_from", "cls:E"),
            ("expr:other", "part_of", "cls:F"),  # unreachable
        ],
        ["subj", "pred", "obj"],
    )
    got = {tuple(r) for r in expand_profile_semantics(assertions, defs).collect()}
    assert got == {
        ("expr:outer", "has_part", "expr:inner"),
        ("expr:inner", "develops_from", "cls:E"),
    }
