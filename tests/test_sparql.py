from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from phenoscape_owl_tools_spark import sparql, vocab

QDIR = os.path.join(
    os.path.dirname(sparql.__file__), "sparql_queries"
)

RDFS_SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
OWL_CLASS = "http://www.w3.org/2002/07/owl#Class"


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_parse_select():
    q = sparql.parse(open(os.path.join(QDIR, "scores.rq")).read())
    assert q.form == "select"
    assert q.projection == ["match", "score", "query", "corpusprofile"]
    assert len(q.patterns) == 3
    assert all(
        isinstance(p.path, sparql.PathNode) and p.path.op == "iri"
        for p in q.patterns
    )


def test_parse_construct_paths():
    q = sparql.parse(open(os.path.join(QDIR, "instance_closure.rq")).read())
    assert q.form == "construct"
    assert q.template == [
        (
            sparql.Term("var", "ind"),
            sparql.Term("iri", sparql.RDF_TYPE),
            sparql.Term("var", "cls"),
        )
    ]
    seq = q.patterns[0].path
    assert seq.op == "seq"
    first, second = seq.kids
    assert (first.op, first.iri) == ("iri", sparql.RDF_TYPE)
    assert second.op == "star" and second.kids[0].iri == RDFS_SUB
    assert q.iri_filters == ["cls"]


def test_select_bgp_join(spark):
    t = _triples(
        spark,
        [
            ("m1", vocab.COMBINED_SCORE, "0.5"),
            ("m1", vocab.FOR_QUERY_PROFILE, "http://x/q1"),
            ("m1", vocab.FOR_CORPUS_PROFILE, "http://x/c1"),
            ("m2", vocab.COMBINED_SCORE, "0.9"),  # missing profile links
        ],
    )
    got = sparql.run_file(t, os.path.join(QDIR, "scores.rq")).collect()
    assert [tuple(r) for r in got] == [("m1", "0.5", "http://x/q1", "http://x/c1")]


def test_construct_bare_star(spark):
    t = _triples(
        spark,
        [
            ("http://x/a", RDFS_SUB, "http://x/b"),
            ("http://x/b", RDFS_SUB, "http://x/c"),
            ("http://x/lit", RDFS_SUB, "not an iri"),
        ],
    )
    got = {
        (r.subj, r.obj)
        for r in sparql.run_file(t, os.path.join(QDIR, "subclass_closure.rq")).collect()
    }
    # transitive pairs, no trivial reflexive rows, literal object filtered
    assert got == {
        ("http://x/a", "http://x/b"),
        ("http://x/b", "http://x/c"),
        ("http://x/a", "http://x/c"),
    }


def test_construct_sequence_star_and_typed_class(spark):
    rows = [
        ("http://x/i1", sparql.RDF_TYPE, "http://x/A"),
        ("http://x/A", RDFS_SUB, "http://x/B"),
        ("http://x/A", sparql.RDF_TYPE, OWL_CLASS),
        ("http://x/B", sparql.RDF_TYPE, OWL_CLASS),
        ("http://x/h", vocab.HAS_PHENOTYPIC_PROFILE, "http://x/i1"),
        # i2 typed but has no profile link -> excluded
        ("http://x/i2", sparql.RDF_TYPE, "http://x/A"),
    ]
    got = {
        (r.subj, r.obj)
        for r in sparql.run_file(
            _triples(spark, rows), os.path.join(QDIR, "instance_closure.rq")
        ).collect()
    }
    # zero-length hop: direct type kept; one-hop closure adds B
    assert got == {("http://x/i1", "http://x/A"), ("http://x/i1", "http://x/B")}


def test_variable_predicate(spark):
    t = _triples(spark, [("http://x/s", "http://x/p", "http://x/o")])
    got = sparql.evaluate(
        t,
        "SELECT ?p WHERE { <http://x/s> ?p <http://x/o> . }",
    ).collect()
    assert [r.p for r in got] == ["http://x/p"]


def test_sparql_subclass_closure_matches_hand_built(spark):
    """The shipped .rq over the KG's subclass edges must produce exactly the
    hand-built q_subclass_closure rows (VERDICT round-1 item 8 'done'
    criterion)."""
    import __spark_entry__ as entrymod
    from phenoscape_owl_tools_spark.sources import tpch_kg as KG

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    t = KG.subclass_edges(docs).select(
        F.col("sub").alias("subj"), F.lit(RDFS_SUB).alias("pred"), F.col("sup").alias("obj")
    )
    got = {
        (r.subj, r.obj)
        for r in sparql.run_file(t, os.path.join(QDIR, "subclass_closure.rq")).collect()
    }
    want = {
        (r.sub, r.sup)
        for r in entrymod.queries()["subclass_closure"](spark, sf).collect()
    }
    assert got == want and len(want) > 0


# ---------------------------------------------------------------------------
# SPARQL 1.1 Update (RunSPARQLUpdate surface)
# ---------------------------------------------------------------------------

EX = "http://example.org/"


def _g(spark):
    return _triples(
        spark,
        [
            (EX + "a", RDFS_SUB, EX + "b"),
            (EX + "b", RDFS_SUB, EX + "c"),
            (EX + "x", sparql.RDF_TYPE, EX + "a"),
        ],
    )


def test_update_insert_data(spark):
    out = sparql.update(
        _g(spark),
        f"INSERT DATA {{ <{EX}c> <{RDFS_SUB}> <{EX}d> . }}",
    )
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert (EX + "c", RDFS_SUB, EX + "d") in rows
    assert len(rows) == 4


def test_update_delete_data(spark):
    out = sparql.update(
        _g(spark),
        f"DELETE DATA {{ <{EX}a> <{RDFS_SUB}> <{EX}b> . }}",
    )
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert (EX + "a", RDFS_SUB, EX + "b") not in rows
    assert len(rows) == 2


def test_update_delete_where_shorthand(spark):
    out = sparql.update(
        _g(spark),
        f"PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>\n"
        f"DELETE WHERE {{ ?s rdfs:subClassOf ?o . }}",
    )
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert rows == {(EX + "x", sparql.RDF_TYPE, EX + "a")}


def test_update_delete_insert_where(spark):
    # rewrite every subclass edge to a custom predicate
    stmt = (
        f"PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>\n"
        f"PREFIX ex: <{EX}>\n"
        "DELETE { ?s rdfs:subClassOf ?o . }\n"
        "INSERT { ?s ex:under ?o . }\n"
        "WHERE { ?s rdfs:subClassOf ?o . }"
    )
    out = sparql.update(_g(spark), stmt)
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert rows == {
        (EX + "a", EX + "under", EX + "b"),
        (EX + "b", EX + "under", EX + "c"),
        (EX + "x", sparql.RDF_TYPE, EX + "a"),
    }


def test_update_insert_where_with_path(spark):
    # materialize the subclass closure into explicit triples via update
    stmt = (
        f"PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>\n"
        f"PREFIX ex: <{EX}>\n"
        "INSERT { ?s ex:ancestor ?o . }\n"
        "WHERE { ?s rdfs:subClassOf* ?o . }"
    )
    out = sparql.update(_g(spark), stmt)
    anc = {(r.subj, r.obj) for r in out.collect() if r.pred == EX + "ancestor"}
    assert anc == {(EX + "a", EX + "b"), (EX + "b", EX + "c"), (EX + "a", EX + "c")}


def test_update_rejects_query_form(spark):
    import pytest

    with pytest.raises(ValueError):
        sparql.update(_g(spark), "SELECT ?s WHERE { ?s ?p ?o . }")
    with pytest.raises(ValueError):
        sparql.evaluate(_g(spark), f"DELETE DATA {{ <{EX}a> <{RDFS_SUB}> <{EX}b> . }}")


def test_path_alternation_inverse_plus(spark):
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "b"),
            (EX + "b", EX + "q", EX + "c"),
            (EX + "c", EX + "p", EX + "d"),
        ],
    )
    # alternation: p|q covers the whole chain
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?s ?o WHERE { ?s ex:p|ex:q ?o . }")
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "a", EX + "b"), (EX + "b", EX + "c"), (EX + "c", EX + "d")}

    # (p|q)+ = transitive closure over the union relation (spec grouping —
    # bare ex:p|ex:q+ now reads p|(q+) per SPARQL 1.1 precedence)
    qplus = (f"PREFIX ex: <{EX}>\n"
             "SELECT ?s ?o WHERE { ?s (ex:p|ex:q)+ ?o . }")
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, qplus).collect()}
    assert (EX + "a", EX + "d") in got and len(got) == 6

    # inverse: ^p
    qinv = (f"PREFIX ex: <{EX}>\n"
            "SELECT ?s ?o WHERE { ?s ^ex:p ?o . }")
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, qinv).collect()}
    assert got == {(EX + "b", EX + "a"), (EX + "d", EX + "c")}

    # sequence with inverse segment: p/^q finds nothing; p/q then ^q/^p
    qseq = (f"PREFIX ex: <{EX}>\n"
            "SELECT ?s ?o WHERE { ?s ^ex:q/^ex:p ?o . }")
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, qseq).collect()}
    assert got == {(EX + "c", EX + "a")}


def test_optional_left_join(spark):
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "b"),
            (EX + "c", EX + "p", EX + "d"),
            (EX + "b", EX + "label", "B!"),
        ],
    )
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?s ?o ?lab WHERE { ?s ex:p ?o . "
         "OPTIONAL { ?o ex:label ?lab . } }")
    got = {(r["s"], r["o"], r["lab"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {
        (EX + "a", EX + "b", "B!"),
        (EX + "c", EX + "d", None),  # unbound optional -> null
    }


def test_union_blocks(spark):
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "b"),
            (EX + "c", EX + "q", EX + "d"),
        ],
    )
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?s ?o WHERE { { ?s ex:p ?o . } UNION { ?s ex:q ?o . } }")
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "a", EX + "b"), (EX + "c", EX + "d")}


def test_union_joined_with_main_pattern(spark):
    t = _triples(
        spark,
        [
            (EX + "a", EX + "type", EX + "T"),
            (EX + "c", EX + "type", EX + "T"),
            (EX + "a", EX + "p", EX + "b"),
            (EX + "c", EX + "q", EX + "d"),
            (EX + "z", EX + "q", EX + "w"),  # not typed T -> excluded
        ],
    )
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?s ?o WHERE { ?s ex:type ex:T . "
         "{ ?s ex:p ?o . } UNION { ?s ex:q ?o . } }")
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "a", EX + "b"), (EX + "c", EX + "d")}


def test_union_arm_with_unshared_var(spark):
    """An arm that doesn't bind the main pattern's var still contributes
    (join distributes over union; no null-key equi-join)."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "type", EX + "T"),
            (EX + "a", EX + "p", EX + "b"),
            (EX + "k", EX + "q", EX + "w"),
        ],
    )
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?s ?o WHERE { ?s ex:type ex:T . "
         f"{{ ?s ex:p ?o . }} UNION {{ <{EX}k> ex:q ?o . }} }}")
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    # arm 2 binds only ?o; it joins compatibly with every ?s binding
    assert got == {(EX + "a", EX + "b"), (EX + "a", EX + "w")}


def test_optional_filter_scope(spark):
    """A FILTER inside OPTIONAL applies to the group's own solutions; outer
    rows survive with the var unbound."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "b"),
            (EX + "b", EX + "label", "literal label"),  # not an IRI
        ],
    )
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?s ?lab WHERE { ?s ex:p ?o . "
         "OPTIONAL { ?o ex:label ?lab . FILTER(isIRI(?lab)) } }")
    got = {(r["s"], r["lab"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "a", None)}  # row kept, lab unbound


def test_empty_optional_group_rejected(spark):
    import pytest

    with pytest.raises(ValueError):
        sparql.parse("SELECT ?s WHERE { ?s ?p ?o . OPTIONAL { } }")


def test_update_delete_with_union_where(spark):
    stmt = (
        f"PREFIX ex: <{EX}>\n"
        f"PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>\n"
        "DELETE { ?s rdfs:subClassOf ?o . }\n"
        "WHERE { { ?s rdfs:subClassOf ?o . } UNION { ?o rdfs:subClassOf ?s . } }"
    )
    out = sparql.update(_g(spark), stmt)
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert rows == {(EX + "x", sparql.RDF_TYPE, EX + "a")}


# --- SPARQL 1.1 path precedence / grouping parens / FILTER expressions ---


def test_path_spec_precedence_alt_looser_than_mod():
    """``p|q+`` is ``p | (q+)`` per SPARQL 1.1 (the r2 deviation is gone)."""
    q = sparql.parse(
        f"PREFIX ex: <{EX}>\nSELECT ?s ?o WHERE {{ ?s ex:p|ex:q+ ?o . }}"
    )
    path = q.patterns[0].path
    assert path.op == "alt"
    left, right = path.kids
    assert (left.op, left.iri) == ("iri", EX + "p")
    assert right.op == "plus" and right.kids[0].iri == EX + "q"


def test_path_parens_group_closure(spark):
    """``(p/q)+`` closes over the two-hop composition."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "m1"),
            (EX + "m1", EX + "q", EX + "b"),
            (EX + "b", EX + "p", EX + "m2"),
            (EX + "m2", EX + "q", EX + "c"),
        ],
    )
    q = f"PREFIX ex: <{EX}>\nSELECT ?s ?o WHERE {{ ?s (ex:p/ex:q)+ ?o . }}"
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {
        (EX + "a", EX + "b"), (EX + "b", EX + "c"), (EX + "a", EX + "c"),
    }


def test_path_alt_of_sequences(spark):
    """``p/q|r`` groups as ``(p/q)|r`` — sequence binds tighter."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "m"),
            (EX + "m", EX + "q", EX + "b"),
            (EX + "x", EX + "r", EX + "y"),
        ],
    )
    q = f"PREFIX ex: <{EX}>\nSELECT ?s ?o WHERE {{ ?s ex:p/ex:q|ex:r ?o . }}"
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "a", EX + "b"), (EX + "x", EX + "y")}


def test_path_zero_or_one_mid_sequence(spark):
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "b"),
            (EX + "b", EX + "q", EX + "c"),
        ],
    )
    q = f"PREFIX ex: <{EX}>\nSELECT ?s ?o WHERE {{ ?s ex:p/ex:q? ?o . }}"
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "a", EX + "b"), (EX + "a", EX + "c")}


def test_path_bare_zero_or_one_convention(spark):
    """Bare p? drops its zero-length arm (= R_p) — the same KB-build
    convention as bare p* dropping reflexive pairs."""
    t = _triples(spark, [(EX + "a", EX + "p", EX + "b")])
    got = {(r["s"], r["o"]) for r in sparql.evaluate(
        t, f"PREFIX ex: <{EX}>\nSELECT ?s ?o WHERE {{ ?s ex:p? ?o . }}"
    ).collect()}
    assert got == {(EX + "a", EX + "b")}


def test_path_negated_property_set_forward(spark):
    """``!ex:p`` matches forward triples with any predicate except ex:p."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "b"),
            (EX + "a", EX + "q", EX + "c"),
            (EX + "d", EX + "r", EX + "e"),
        ],
    )
    q = f"PREFIX ex: <{EX}>\nSELECT ?s ?o WHERE {{ ?s !ex:p ?o . }}"
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "a", EX + "c"), (EX + "d", EX + "e")}


def test_path_negated_property_set_mixed(spark):
    """``!(p|^q)`` = forward-not-p UNION inverse-not-q (SPARQL 1.1 §9.1)."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "b"),  # excluded forward, inverse arm ok
            (EX + "a", EX + "q", EX + "c"),  # forward arm ok, excl. inverse
            (EX + "x", EX + "r", EX + "y"),  # both arms
        ],
    )
    q = f"PREFIX ex: <{EX}>\nSELECT ?s ?o WHERE {{ ?s !(ex:p|^ex:q) ?o . }}"
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {
        (EX + "a", EX + "c"),  # forward q (not p)
        (EX + "x", EX + "y"),  # forward r
        (EX + "b", EX + "a"),  # inverse of p (not q)
        (EX + "y", EX + "x"),  # inverse of r
    }


def test_path_negated_property_set_inverse_only_and_a(spark):
    """``!(^a)`` is inverse-only: inverted triples whose predicate is not
    rdf:type; no forward arm exists."""
    t = _triples(
        spark,
        [
            (EX + "i", sparql.RDF_TYPE, EX + "C"),
            (EX + "a", EX + "p", EX + "b"),
        ],
    )
    q = f"PREFIX ex: <{EX}>\nSELECT ?s ?o WHERE {{ ?s !(^a) ?o . }}"
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "b", EX + "a")}


def test_path_negated_property_set_in_sequence(spark):
    """NPS composes inside a sequence like any other path element."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "q", EX + "m"),
            (EX + "m", EX + "s", EX + "b"),
            (EX + "a", EX + "p", EX + "n"),  # first hop excluded
            (EX + "n", EX + "s", EX + "c"),
        ],
    )
    q = f"PREFIX ex: <{EX}>\nSELECT ?s ?o WHERE {{ ?s !ex:p/ex:s ?o . }}"
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "a", EX + "b")}


def test_path_negated_property_set_rejects_var():
    try:
        sparql.parse("SELECT ?s ?o WHERE { ?s !(?v) ?o . }")
    except ValueError as e:
        assert "negated property sets" in str(e) or "variables" in str(e)
    else:  # pragma: no cover
        raise AssertionError("expected parse error")


def test_construct_drops_incomplete_triples(spark):
    """A template triple whose variable an OPTIONAL left unbound emits
    nothing — not a null-component triple (spec CONSTRUCT semantics)."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "b"),
            (EX + "c", EX + "p", EX + "d"),
            (EX + "b", EX + "q", EX + "x"),
        ],
    )
    q = (f"PREFIX ex: <{EX}>\nCONSTRUCT {{ ?s ex:made ?y }} WHERE "
         f"{{ ?s ex:p ?o . OPTIONAL {{ ?o ex:q ?y }} }}")
    got = {(r["subj"], r["pred"], r["obj"])
           for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "a", EX + "made", EX + "x")}


def test_pattern_repeated_variable_self_loop(spark):
    """``?a ex:p ?a`` binds both positions to the SAME term (self-loop);
    previously crashed with COLUMN_ALREADY_EXISTS (differential find)."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "a"),
            (EX + "a", EX + "p", EX + "b"),
            (EX + "c", EX + "q", EX + "c"),
        ],
    )
    q = f"PREFIX ex: <{EX}>\nSELECT ?a WHERE {{ ?a ex:p ?a . }}"
    got = {r["a"] for r in sparql.evaluate(t, q).collect()}
    assert got == {EX + "a"}
    # repeated var across a path relation too
    q2 = f"PREFIX ex: <{EX}>\nSELECT ?a WHERE {{ ?a ex:p|ex:q ?a . }}"
    got2 = {r["a"] for r in sparql.evaluate(t, q2).collect()}
    assert got2 == {EX + "a", EX + "c"}


def test_filter_not_equal(spark):
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "b"),
            (EX + "b", EX + "p", EX + "b"),
        ],
    )
    q = f"PREFIX ex: <{EX}>\nSELECT ?s ?o WHERE {{ ?s ex:p ?o . FILTER(?s != ?o) }}"
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "a", EX + "b")}


def test_filter_numeric_comparison_and_conjunction(spark):
    t = _triples(
        spark,
        [
            ("m1", EX + "score", "0.5"),
            ("m2", EX + "score", "0.9"),
            ("m3", EX + "score", "0.10"),  # numerically 0.1, lexically > "0.5"
        ],
    )
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?m WHERE { ?m ex:score ?v . FILTER(?v >= 0.5 && ?v < 0.9) }")
    got = {r["m"] for r in sparql.evaluate(t, q).collect()}
    assert got == {"m1"}


def test_filter_regex_and_negation(spark):
    t = _triples(
        spark,
        [
            (EX + "a", EX + "label", "Pelvic fin"),
            (EX + "b", EX + "label", "dorsal fin"),
            (EX + "c", EX + "label", "eye"),
        ],
    )
    q = (f"PREFIX ex: <{EX}>\n"
         'SELECT ?s WHERE { ?s ex:label ?l . FILTER regex(?l, "^pelvic", "i") }')
    got = {r["s"] for r in sparql.evaluate(t, q).collect()}
    assert got == {EX + "a"}
    q2 = (f"PREFIX ex: <{EX}>\n"
          'SELECT ?s WHERE { ?s ex:label ?l . FILTER(!regex(?l, "fin")) }')
    got2 = {r["s"] for r in sparql.evaluate(t, q2).collect()}
    assert got2 == {EX + "c"}


def test_filter_iri_comparison(spark):
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "b"),
            (EX + "c", EX + "p", EX + "d"),
        ],
    )
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?s WHERE { ?s ex:p ?o . FILTER(?o = ex:b) }")
    assert {r["s"] for r in sparql.evaluate(t, q).collect()} == {EX + "a"}


def test_filter_or(spark):
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", "x"),
            (EX + "b", EX + "p", "y"),
            (EX + "c", EX + "p", "z"),
        ],
    )
    q = 'SELECT ?s WHERE { ?s ?p ?o . FILTER(?o = "x" || ?o = "y") }'
    got = {r["s"] for r in sparql.evaluate(t, q).collect()}
    assert got == {EX + "a", EX + "b"}


def test_filter_and_or_precedence(spark):
    """&& binds tighter than || (SPARQL grammar): a && b || c == (a&&b) || c."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", "x"),   # matches (?o = "x" && ?s != c)
            (EX + "c", EX + "p", "x"),   # fails the && arm, fails ?o = "z"
            (EX + "d", EX + "p", "z"),   # matches ?o = "z"
        ],
    )
    q = (f'SELECT ?s WHERE {{ ?s ?p ?o . '
         f'FILTER(?o = "x" && ?s != <{EX}c> || ?o = "z") }}')
    got = {r["s"] for r in sparql.evaluate(t, q).collect()}
    assert got == {EX + "a", EX + "d"}


def test_filter_negated_or_parens(spark):
    """!(a || b) = De Morgan conjunction of negations."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", "x"),
            (EX + "b", EX + "p", "y"),
            (EX + "c", EX + "p", "z"),
        ],
    )
    q = 'SELECT ?s WHERE { ?s ?p ?o . FILTER(!(?o = "x" || ?o = "y")) }'
    got = {r["s"] for r in sparql.evaluate(t, q).collect()}
    assert got == {EX + "c"}


def test_filter_parenthesized_or_within_and(spark):
    """(a || b) && c — parens override precedence."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", "x"),
            (EX + "b", EX + "p", "y"),
            (EX + "a", EX + "q", "y"),
        ],
    )
    q = (f'SELECT ?s ?o WHERE {{ ?s <{EX}p> ?o . '
         f'FILTER((?o = "x" || ?o = "y") && ?s = <{EX}a>) }}')
    got = {(r["s"], r["o"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {(EX + "a", "x")}


def test_filter_unbound_var_raises(spark):
    """A FILTER naming a variable no pattern binds is a query bug — raise,
    never silently return unfiltered rows (ADVICE r3)."""
    import pytest

    t = _triples(spark, [(EX + "a", EX + "p", "x")])
    q = 'SELECT ?s WHERE { ?s ?p ?o . FILTER(?typo = "x") }'
    with pytest.raises(ValueError, match=r"\?typo"):
        sparql.evaluate(t, q).collect()


def test_multiple_union_blocks(spark):
    """Two UNION blocks in one group: join distributes over the arm
    product — every combination contributes, no null-key joins."""
    t = _triples(
        spark,
        [
            (EX + "s1", EX + "p", EX + "o1"),
            (EX + "s1", EX + "q", EX + "o2"),
            (EX + "s1", EX + "r", EX + "o3"),
            (EX + "s1", EX + "t", EX + "o4"),
            (EX + "s2", EX + "p", EX + "o5"),
            (EX + "s2", EX + "r", EX + "o6"),
        ],
    )
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?s ?a ?b WHERE { "
         "{ ?s ex:p ?a . } UNION { ?s ex:q ?a . } "
         "{ ?s ex:r ?b . } UNION { ?s ex:t ?b . } }")
    got = {(r["s"], r["a"], r["b"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {
        (EX + "s1", EX + "o1", EX + "o3"),
        (EX + "s1", EX + "o1", EX + "o4"),
        (EX + "s1", EX + "o2", EX + "o3"),
        (EX + "s1", EX + "o2", EX + "o4"),
        (EX + "s2", EX + "o5", EX + "o6"),
    }


def test_nested_optional(spark):
    """OPTIONAL { A OPTIONAL { B } }: inner optional extends the outer
    group's solutions without removing them; rows missing the outer group
    keep both vars unbound."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "b"),
            (EX + "c", EX + "p", EX + "d"),
            (EX + "e", EX + "p", EX + "f"),
            (EX + "b", EX + "label", "B"),
            (EX + "d", EX + "label", "D"),
            (EX + "b", EX + "note", "nb"),
        ],
    )
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?s ?lab ?note WHERE { ?s ex:p ?o . "
         "OPTIONAL { ?o ex:label ?lab . OPTIONAL { ?o ex:note ?note . } } }")
    got = {(r["s"], r["lab"], r["note"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {
        (EX + "a", "B", "nb"),        # both levels bound
        (EX + "c", "D", None),        # outer bound, inner unbound
        (EX + "e", None, None),       # outer group itself unbound
    }


def test_union_inside_union_arm_flattens():
    """A UNION inside a UNION arm DNF-expands at parse time: the arm with
    its own 2-arm block contributes 2 merged arms, plus the sibling = 3."""
    q = sparql.parse(
        "SELECT ?s WHERE { { ?s ?p ?o . { ?s ?p ?x . } UNION "
        "{ ?s ?q ?x . } } UNION { ?s ?r ?o . } }"
    )
    assert len(q.unions) == 1 and len(q.unions[0]) == 3
    assert all(not arm.unions for arm in q.unions[0])
    # the merged arms carry the outer arm's pattern plus one inner arm's
    assert [len(arm.patterns) for arm in q.unions[0]] == [2, 2, 1]


def test_comment_hash_inside_regex_string():
    q = sparql.parse(
        'SELECT ?s WHERE { ?s ?p ?o . FILTER regex(?o, "tag#[0-9]+") }'
    )
    assert q.filters[0].rhs == "tag#[0-9]+"


def test_optional_inside_union_arm(spark):
    """A UNION arm may carry its own OPTIONAL group: the optional extends
    that arm's solutions only; the other arm is unaffected."""
    t = _triples(
        spark,
        [
            (EX + "a", EX + "p", EX + "o1"),
            (EX + "b", EX + "q", EX + "o2"),
            (EX + "o1", EX + "label", "O1"),
        ],
    )
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?s ?o ?lab WHERE { "
         "{ ?s ex:p ?o . OPTIONAL { ?o ex:label ?lab . } } "
         "UNION { ?s ex:q ?o . } }")
    got = {(r["s"], r["o"], r["lab"]) for r in sparql.evaluate(t, q).collect()}
    assert got == {
        (EX + "a", EX + "o1", "O1"),
        (EX + "b", EX + "o2", None),
    }


# ---------------------------------------------------------------------------
# SELECT-clause algebra + solution modifiers (aggregates, DISTINCT, ORDER BY,
# LIMIT/OFFSET) and top-level group extensions (BIND, VALUES, MINUS, EXISTS).
# ---------------------------------------------------------------------------


def _scores_graph(spark):
    rows = []
    for m, g, sc in [
        ("m1", "a", "3"), ("m2", "a", "5"), ("m3", "b", "7"),
        ("m4", "b", "1"), ("m5", "c", "9"), ("m6", "c", "10"),
    ]:
        rows.append((EX + m, EX + "group", g))
        rows.append((EX + m, EX + "score", sc))
    return _triples(spark, rows)


def test_select_distinct_honored(spark):
    """DISTINCT used to be consumed by the parser and silently ignored —
    projecting a duplicated column must now dedupe."""
    t = _triples(spark, [(EX + "m1", EX + "p", "x"), (EX + "m2", EX + "p", "x")])
    q = f'PREFIX ex: <{EX}> SELECT DISTINCT ?o WHERE {{ ?s ex:p ?o }}'
    assert sparql.evaluate(t, q).count() == 1
    q_plain = f'PREFIX ex: <{EX}> SELECT ?o WHERE {{ ?s ex:p ?o }}'
    assert sparql.evaluate(t, q_plain).count() == 2


def test_select_star(spark):
    t = _triples(spark, [(EX + "m1", EX + "p", "x")])
    q = f'PREFIX ex: <{EX}> SELECT * WHERE {{ ?s ex:p ?o }}'
    got = sparql.evaluate(t, q)
    assert sorted(got.columns) == ["o", "s"]
    assert got.count() == 1


def test_group_by_aggregates(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?g (COUNT(*) AS ?n) (SUM(?sc) AS ?total) (MIN(?sc) AS ?lo)"
         " (MAX(?sc) AS ?hi) (AVG(?sc) AS ?mean)"
         ' (GROUP_CONCAT(?sc; SEPARATOR="|") AS ?all)\n'
         "WHERE { ?m ex:group ?g . ?m ex:score ?sc } GROUP BY ?g ORDER BY ?g")
    got = [tuple(r) for r in sparql.evaluate(t, q).collect()]
    assert got == [
        ("a", 2, 8.0, "3", "5", 4.0, "3|5"),
        ("b", 2, 8.0, "1", "7", 4.0, "1|7"),
        ("c", 2, 19.0, "10", "9", 9.5, "10|9"),  # MIN/MAX lexicographic
    ]


def test_global_aggregate_and_count_distinct(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT (COUNT(DISTINCT ?g) AS ?ng) (COUNT(?m) AS ?nm)\n"
         "WHERE { ?m ex:group ?g }")
    assert [tuple(r) for r in sparql.evaluate(t, q).collect()] == [(3, 6)]


def test_having(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?g (SUM(?sc) AS ?total) WHERE { ?m ex:group ?g . "
         "?m ex:score ?sc } GROUP BY ?g HAVING (?total > 10) ORDER BY ?g")
    assert [tuple(r) for r in sparql.evaluate(t, q).collect()] == [("c", 19.0)]


def test_order_by_numeric_vs_lexicographic(spark):
    t = _scores_graph(spark)
    base = (f"PREFIX ex: <{EX}> PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"
            "SELECT ?m ?sc WHERE { ?m ex:score ?sc } ")
    lex = sparql.evaluate(t, base + "ORDER BY ?sc").collect()
    assert [r["sc"] for r in lex] == ["1", "10", "3", "5", "7", "9"]
    num = sparql.evaluate(t, base + "ORDER BY DESC(xsd:double(?sc))").collect()
    assert [r["sc"] for r in num] == ["10", "9", "7", "5", "3", "1"]


def test_limit_offset(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g }} "
         "ORDER BY ?m LIMIT 2 OFFSET 1")
    assert [r["m"] for r in sparql.evaluate(t, q).collect()] == [
        EX + "m2", EX + "m3"]


def test_bind_arithmetic_and_concat(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?m ?twice ?tag WHERE { ?m ex:score ?sc . "
         'BIND(?sc * 2 + 1 AS ?twice) BIND(CONCAT("g:", ?sc) AS ?tag) '
         "FILTER(?twice > 18) } ORDER BY ?m")
    got = [tuple(r) for r in sparql.evaluate(t, q).collect()]
    assert got == [(EX + "m5", "19.0", "g:9"), (EX + "m6", "21.0", "g:10")]


def test_bind_rebind_raises(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:score ?sc . "
         "BIND(?sc AS ?sc) }")
    import pytest
    with pytest.raises(ValueError, match="already bound"):
        sparql.evaluate(t, q)


def test_values_single_var(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g . "
         'VALUES ?g { "a" "c" } } ORDER BY ?m')
    assert [r["m"] for r in sparql.evaluate(t, q).collect()] == [
        EX + "m1", EX + "m2", EX + "m5", EX + "m6"]


def test_values_multi_var(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g . "
         "?m ex:score ?sc . "
         'VALUES (?g ?sc) { ("a" "3") ("b" "7") } } ORDER BY ?m')
    assert [r["m"] for r in sparql.evaluate(t, q).collect()] == [
        EX + "m1", EX + "m3"]


def test_values_undef_wildcard(spark):
    """UNDEF joins on the row's defined columns only: (UNDEF "7") matches
    any ?g with score 7; ("a" UNDEF) matches group a with any score."""
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g . "
         "?m ex:score ?sc . "
         'VALUES (?g ?sc) { (UNDEF "7") ("a" UNDEF) } } ORDER BY ?m')
    assert [r["m"] for r in sparql.evaluate(t, q).collect()] == [
        EX + "m1", EX + "m2", EX + "m3"]


def test_values_undef_unbound_column(spark):
    """A VALUES var the pattern does not bind stays unbound (null) for
    UNDEF rows and bound for defined rows — per SPARQL inline data."""
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m ?tag WHERE {{ "
         f'?m ex:group "a" . VALUES (?m ?tag) {{ (ex:m1 "one") '
         f"(UNDEF UNDEF) }} }} ORDER BY ?m ?tag")
    got = [(r["m"], r["tag"]) for r in sparql.evaluate(t, q).collect()]
    # m1 matches the specific row (tag bound) AND the all-UNDEF row
    # (tag unbound); m2 matches only the all-UNDEF row
    assert (EX + "m1", "one") in got
    assert (EX + "m1", None) in got
    assert (EX + "m2", None) in got
    assert len(got) == 3


def test_minus(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g "
         'MINUS { ?m ex:group "c" } } ORDER BY ?m')
    assert [r["m"] for r in sparql.evaluate(t, q).collect()] == [
        EX + "m1", EX + "m2", EX + "m3", EX + "m4"]


def test_minus_disjoint_domain_removes_nothing(spark):
    """SPARQL spec: MINUS with no shared variables removes nothing."""
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g "
         "MINUS { ?other ex:score ?sc } }")
    assert sparql.evaluate(t, q).count() == 6


def test_exists_and_not_exists(spark):
    rows = [(EX + "m1", EX + "p", "x"), (EX + "m2", EX + "p", "y"),
            (EX + "m1", EX + "flag", "1")]
    t = _triples(spark, rows)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:p ?o . "
         "FILTER EXISTS { ?m ex:flag ?f } }")
    assert [r["m"] for r in sparql.evaluate(t, q).collect()] == [EX + "m1"]
    q2 = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:p ?o . "
          "FILTER NOT EXISTS { ?m ex:flag ?f } }")
    assert [r["m"] for r in sparql.evaluate(t, q2).collect()] == [EX + "m2"]


def test_uncorrelated_not_exists(spark):
    """NOT EXISTS sharing no variables: keeps all rows iff group is empty."""
    t = _triples(spark, [(EX + "m1", EX + "p", "x")])
    empty = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:p ?o . "
             "FILTER NOT EXISTS { ?z ex:absent ?w } }")
    assert sparql.evaluate(t, empty).count() == 1
    nonempty = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:p ?o . "
                "FILTER NOT EXISTS { ?z ex:p ?w } }")
    assert sparql.evaluate(t, nonempty).count() == 0


def test_projected_expression(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m (?sc / 2 AS ?half) "
         "WHERE { ?m ex:score ?sc } ORDER BY ?m LIMIT 1")
    assert [tuple(r) for r in sparql.evaluate(t, q).collect()] == [
        (EX + "m1", 1.5)]


def test_literal_object_pattern(spark):
    t = _scores_graph(spark)
    q = f'PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group "b" }} ORDER BY ?m'
    assert [r["m"] for r in sparql.evaluate(t, q).collect()] == [
        EX + "m3", EX + "m4"]


def test_projected_var_not_grouped_raises(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m (COUNT(*) AS ?n) "
         "WHERE { ?m ex:group ?g } GROUP BY ?g")
    import pytest
    with pytest.raises(ValueError, match="GROUP BY"):
        sparql.evaluate(t, q)


def test_having_without_aggregation_raises(spark):
    t = _scores_graph(spark)
    import pytest
    with pytest.raises(ValueError, match="HAVING"):
        sparql.evaluate(
            t,
            f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g }} "
            "HAVING (?g > 1)",
        )


def test_bind_inside_optional(spark):
    """BIND is group-scoped: inside an OPTIONAL it extends the optional's
    solutions (rows the optional does not match keep the var unbound)."""
    t = _triples(spark, [
        (EX + "m1", EX + "p", "x"), (EX + "m2", EX + "p", "y"),
        (EX + "m1", EX + "q", "5"),
    ])
    q = (f"PREFIX ex: <{EX}> SELECT ?s ?twice WHERE {{ ?s ex:p ?o . "
         "OPTIONAL { ?s ex:q ?n . BIND((?n + ?n) AS ?twice) } } ORDER BY ?s")
    got = [(r["s"], r["twice"]) for r in sparql.evaluate(t, q).collect()]
    assert got == [(EX + "m1", "10.0"), (EX + "m2", None)]


def test_bind_inside_union_arm(spark):
    t = _triples(spark, [
        (EX + "m1", EX + "p", "x"), (EX + "m2", EX + "q", "y"),
    ])
    q = (f"PREFIX ex: <{EX}> SELECT ?s ?kind WHERE {{ "
         '{ ?s ex:p ?o . BIND("P" AS ?kind) } UNION '
         '{ ?s ex:q ?o . BIND("Q" AS ?kind) } } ORDER BY ?s')
    got = [(r["s"], r["kind"]) for r in sparql.evaluate(t, q).collect()]
    assert got == [(EX + "m1", "P"), (EX + "m2", "Q")]


def test_construct_limit(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> CONSTRUCT {{ ?m ex:kept ?g }} "
         "WHERE { ?m ex:group ?g } LIMIT 2")
    assert sparql.evaluate(t, q).count() == 2


def test_sample_aggregate_deterministic(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?g (SAMPLE(?m) AS ?pick) "
         "WHERE { ?m ex:group ?g } GROUP BY ?g ORDER BY ?g")
    got = [tuple(r) for r in sparql.evaluate(t, q).collect()]
    assert got == [("a", EX + "m1"), ("b", EX + "m3"), ("c", EX + "m5")]


def test_ask(spark):
    t = _scores_graph(spark)
    yes = f'PREFIX ex: <{EX}> ASK {{ ?m ex:group "b" }}'
    assert [r["ask"] for r in sparql.evaluate(t, yes).collect()] == [True]
    no = f'PREFIX ex: <{EX}> ASK WHERE {{ ?m ex:group "zzz" }}'
    assert [r["ask"] for r in sparql.evaluate(t, no).collect()] == [False]


def test_describe_iri(spark):
    t = _scores_graph(spark)
    got = sparql.evaluate(t, f"DESCRIBE <{EX}m1>").collect()
    assert {(r.subj, r.pred, r.obj) for r in got} == {
        (EX + "m1", EX + "group", "a"),
        (EX + "m1", EX + "score", "3"),
    }


def test_describe_var_where(spark):
    t = _scores_graph(spark)
    q = f'PREFIX ex: <{EX}> DESCRIBE ?m WHERE {{ ?m ex:group "c" }}'
    got = sparql.evaluate(t, q).collect()
    assert {(r.subj, r.pred, r.obj) for r in got} == {
        (EX + "m5", EX + "group", "c"), (EX + "m5", EX + "score", "9"),
        (EX + "m6", EX + "group", "c"), (EX + "m6", EX + "score", "10"),
    }


def test_describe_object_position(spark):
    """DESCRIBE includes triples where the resource is the OBJECT too."""
    t = _triples(spark, [
        (EX + "a", EX + "p", EX + "b"),
        (EX + "b", EX + "q", EX + "c"),
    ])
    got = sparql.evaluate(t, f"DESCRIBE <{EX}b>").collect()
    assert {(r.subj, r.pred, r.obj) for r in got} == {
        (EX + "a", EX + "p", EX + "b"),
        (EX + "b", EX + "q", EX + "c"),
    }


def test_ask_rejects_modifiers():
    import pytest
    with pytest.raises(ValueError, match="modifier"):
        sparql.parse("ASK { ?s ?p ?o } LIMIT 1")


def test_subquery_nested_aggregation(spark):
    """{ SELECT ... } subquery: members of groups whose total score
    exceeds 10 — the inner aggregation runs first, its projected vars
    join the outer BGP."""
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?m ?g ?total WHERE { ?m ex:group ?g . "
         "{ SELECT ?g (SUM(?sc) AS ?total) WHERE { ?x ex:group ?g . "
         "?x ex:score ?sc } GROUP BY ?g HAVING (?total > 10) } } ORDER BY ?m")
    got = [tuple(r) for r in sparql.evaluate(t, q).collect()]
    assert got == [(EX + "m5", "c", "19.0"), (EX + "m6", "c", "19.0")]


def test_subquery_only_group(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?g WHERE {{ "
         "{ SELECT ?g (COUNT(*) AS ?n) WHERE { ?m ex:group ?g } GROUP BY ?g }"
         " } ORDER BY ?g LIMIT 2")
    assert [r["g"] for r in sparql.evaluate(t, q).collect()] == ["a", "b"]


def test_subquery_projection_scoping(spark):
    """Only the subquery's PROJECTED variables are visible outside —
    referencing its internal ?sc var must raise unbound."""
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?sc WHERE {{ "
         "{ SELECT ?g WHERE { ?x ex:group ?g . ?x ex:score ?sc } } }")
    import pytest
    with pytest.raises(ValueError, match="not bound"):
        sparql.evaluate(t, q)


def test_subquery_bind_scope_stays_inner(spark):
    """A BIND inside the subquery belongs to the subquery, not the outer
    group — the outer query must not see ?half unless projected."""
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?g ?half WHERE {{ "
         "{ SELECT ?g (?sc / 2 AS ?half) WHERE { ?x ex:group ?g . "
         "?x ex:score ?sc . BIND(?sc AS ?raw) } } } ORDER BY ?g ?half LIMIT 2")
    got = [tuple(r) for r in sparql.evaluate(t, q).collect()]
    assert got == [("a", "1.5"), ("a", "2.5")]


def test_subquery_inside_union_arm(spark):
    """Subqueries are group-scoped: a UNION arm may be a { SELECT }
    block — its projected vars become that arm's solutions."""
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?g WHERE {{ "
         "{ { SELECT ?g WHERE { ?m ex:group ?g . ?m ex:score \"3\" } } } "
         'UNION { ?x ex:group ?g . ?x ex:score "9" } } ORDER BY ?g')
    got = [r["g"] for r in sparql.evaluate(t, q).collect()]
    assert got == ["a", "c"]


def test_subquery_inside_optional(spark):
    """An OPTIONAL body may be a subquery: the aggregate extends groups
    that have scores; groups without stay unbound (none here — so make
    one memberless via a group triple on a non-scored member)."""
    t = _scores_graph(spark)
    extra = _triples(spark, [(EX + "m7", EX + "group", "d")])
    t = t.unionByName(extra)
    q = (f"PREFIX ex: <{EX}> SELECT ?m ?total WHERE {{ ?m ex:group ?g . "
         "OPTIONAL { { SELECT ?g (SUM(?sc) AS ?total) WHERE { "
         "?x ex:group ?g . ?x ex:score ?sc } GROUP BY ?g } } }"
         " ORDER BY ?m")
    got = {(r["m"], r["total"]) for r in sparql.evaluate(t, q).collect()}
    assert (EX + "m7", None) in got
    assert (EX + "m1", "8.0") in got and (EX + "m5", "19.0") in got


def test_subquery_inside_exists_body(spark):
    """FILTER EXISTS body holding a subquery: keep members of groups
    whose total exceeds 10 — semi-join against the aggregated frame."""
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g . "
         "FILTER EXISTS { { SELECT ?g (SUM(?sc) AS ?total) WHERE { "
         "?x ex:group ?g . ?x ex:score ?sc } GROUP BY ?g "
         "HAVING (?total > 10) } } } ORDER BY ?m")
    got = [r["m"] for r in sparql.evaluate(t, q).collect()]
    assert got == [EX + "m5", EX + "m6"]


def test_subquery_nested_in_subquery(spark):
    """Subqueries nest: inner per-group totals, middle selects groups
    over the threshold, outer joins members."""
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g . "
         "{ SELECT ?g WHERE { "
         "  { SELECT ?g (SUM(?sc) AS ?total) WHERE { ?x ex:group ?g . "
         "    ?x ex:score ?sc } GROUP BY ?g } FILTER (?total > 10) } } }"
         " ORDER BY ?m")
    got = [r["m"] for r in sparql.evaluate(t, q).collect()]
    assert got == [EX + "m5", EX + "m6"]


# -- recursive group algebra (round 4) --------------------------------------


def test_union_nested_in_union_arm(spark):
    """A UNION inside a UNION arm flattens into the arm product at parse
    time — three leaf arms, each a plain equi-join against the base."""
    t = _triples(spark, [
        (EX + "m1", EX + "p", "x"), (EX + "m2", EX + "q", "y"),
        (EX + "m3", EX + "r", "z"), (EX + "m4", EX + "s", "w"),
    ])
    q = (f"PREFIX ex: <{EX}> SELECT ?s WHERE {{ "
         "{ ?s ex:p ?o } UNION { { ?s ex:q ?o } UNION { ?s ex:r ?o } } }"
         " ORDER BY ?s")
    got = [r["s"] for r in sparql.evaluate(t, q).collect()]
    assert got == [EX + "m1", EX + "m2", EX + "m3"]
    # the parse produced one block of three union-free arms
    parsed = sparql.parse(q)
    assert len(parsed.unions) == 1 and len(parsed.unions[0]) == 3
    assert all(not arm.unions for arm in parsed.unions[0])


def test_union_three_deep(spark):
    t = _triples(spark, [
        (EX + "m1", EX + "a", "1"), (EX + "m2", EX + "b", "1"),
        (EX + "m3", EX + "c", "1"), (EX + "m4", EX + "d", "1"),
    ])
    q = (f"PREFIX ex: <{EX}> SELECT ?s WHERE {{ "
         "{ ?s ex:a ?o } UNION { { ?s ex:b ?o } UNION "
         "{ { ?s ex:c ?o } UNION { ?s ex:d ?o } } } } ORDER BY ?s")
    got = [r["s"] for r in sparql.evaluate(t, q).collect()]
    assert got == [EX + "m1", EX + "m2", EX + "m3", EX + "m4"]


def test_union_blocks_inside_arm_product(spark):
    """An arm carrying TWO of its own UNION blocks expands to their
    product (2x2 = 4 leaf arms plus the sibling arm = 5)."""
    rows = [(EX + "m1", EX + p, "1") for p in ("a", "c")]
    rows += [(EX + "m2", EX + p, "1") for p in ("b", "d")]
    rows += [(EX + "m3", EX + p, "1") for p in ("a", "d")]
    rows += [(EX + "m9", EX + "z", "1")]
    t = _triples(spark, rows)
    q = (f"PREFIX ex: <{EX}> SELECT ?s WHERE {{ "
         "{ { ?s ex:a ?x } UNION { ?s ex:b ?x } "
         "  { ?s ex:c ?y } UNION { ?s ex:d ?y } } "
         "UNION { ?s ex:z ?x } } ORDER BY ?s")
    parsed = sparql.parse(q)
    assert len(parsed.unions) == 1 and len(parsed.unions[0]) == 5
    got = [r["s"] for r in sparql.evaluate(t, q).collect()]
    assert got == [EX + "m1", EX + "m2", EX + "m3", EX + "m9"]


def test_union_inside_optional(spark):
    """OPTIONAL { A UNION B }: the union materializes INSIDE the optional
    (left join does not distribute over union)."""
    t = _triples(spark, [
        (EX + "m1", EX + "p", "x"), (EX + "m2", EX + "p", "y"),
        (EX + "m3", EX + "p", "z"),
        (EX + "m1", EX + "q", "Q1"), (EX + "m2", EX + "r", "R2"),
    ])
    q = (f"PREFIX ex: <{EX}> SELECT ?s ?v WHERE {{ ?s ex:p ?o . "
         "OPTIONAL { { ?s ex:q ?v } UNION { ?s ex:r ?v } } } ORDER BY ?s")
    got = [(r["s"], r["v"]) for r in sparql.evaluate(t, q).collect()]
    assert got == [(EX + "m1", "Q1"), (EX + "m2", "R2"), (EX + "m3", None)]


def test_optional_union_partial_shared_var_raises(spark):
    """A var shared with the outer group but bound by only ONE union arm
    inside the OPTIONAL would be a null join key — must raise, not
    silently drop solutions."""
    import pytest
    t = _triples(spark, [(EX + "m1", EX + "p", "x")])
    q = (f"PREFIX ex: <{EX}> SELECT ?s WHERE {{ ?s ex:p ?o . ?s ex:t ?v . "
         "OPTIONAL { { ?s ex:q ?v } UNION { ?s ex:r ?w } } }")
    with pytest.raises(ValueError, match="partially bound"):
        sparql.evaluate(t, q).collect()


def test_minus_with_union_inside(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g "
         'MINUS { { ?m ex:group "c" } UNION { ?m ex:score "3" } } } '
         "ORDER BY ?m")
    got = [r["m"] for r in sparql.evaluate(t, q).collect()]
    assert got == [EX + "m2", EX + "m3", EX + "m4"]


def test_minus_with_optional_inside(spark):
    """The OPTIONAL part of a MINUS group extends but never removes the
    group's solutions — the anti-join keys stay the definite vars."""
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g "
         'MINUS { ?m ex:group "c" . OPTIONAL { ?m ex:score ?sc } } } '
         "ORDER BY ?m")
    got = [r["m"] for r in sparql.evaluate(t, q).collect()]
    assert got == [EX + "m1", EX + "m2", EX + "m3", EX + "m4"]


def test_exists_with_union_inside(spark):
    t = _triples(spark, [
        (EX + "m1", EX + "p", "x"), (EX + "m2", EX + "p", "y"),
        (EX + "m3", EX + "p", "z"),
        (EX + "m1", EX + "flag", "1"), (EX + "m2", EX + "mark", "1"),
    ])
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:p ?o . "
         "FILTER EXISTS { { ?m ex:flag ?f } UNION { ?m ex:mark ?f } } }"
         " ORDER BY ?m")
    got = [r["m"] for r in sparql.evaluate(t, q).collect()]
    assert got == [EX + "m1", EX + "m2"]
    q2 = q.replace("FILTER EXISTS", "FILTER NOT EXISTS")
    got2 = [r["m"] for r in sparql.evaluate(t, q2).collect()]
    assert got2 == [EX + "m3"]


def test_values_inside_union_arm(spark):
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ "
         '{ ?m ex:group ?g . VALUES ?g { "a" } } UNION '
         '{ ?m ex:score ?sc . VALUES ?sc { "9" } } } ORDER BY ?m')
    got = [r["m"] for r in sparql.evaluate(t, q).collect()]
    assert got == [EX + "m1", EX + "m2", EX + "m5"]


def test_bare_zero_or_one_path(spark):
    """Bare/leading p? drops its zero-length arm (= R_p), mirroring the
    bare p* convention; mid-sequence p? keeps the zero-length hop."""
    t = _triples(spark, [
        (EX + "a", EX + "p", EX + "b"), (EX + "b", EX + "q", EX + "c"),
        (EX + "x", EX + "q", EX + "y"),
    ])
    bare = (f"PREFIX ex: <{EX}> SELECT ?s ?o WHERE {{ ?s ex:p? ?o }}")
    got = [(r["s"], r["o"]) for r in sparql.evaluate(t, bare).collect()]
    assert got == [(EX + "a", EX + "b")]
    mid = (f"PREFIX ex: <{EX}> SELECT ?s ?o WHERE {{ ?s ex:q/ex:p? ?o }}"
           " ORDER BY ?s")
    got = [(r["s"], r["o"]) for r in sparql.evaluate(t, mid).collect()]
    # q then optionally p: (b,c), (x,y) — c and y have no outgoing p, so
    # only the zero-length arms survive
    assert got == [(EX + "b", EX + "c"), (EX + "x", EX + "y")]


def test_minus_inside_union_arm(spark):
    """MINUS is group-scoped: a MINUS inside one UNION arm filters that
    arm's solutions only; the other arm passes through untouched."""
    t = _scores_graph(spark)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ "
         '{ ?m ex:group "a" . MINUS { ?m ex:score "5" } } UNION '
         '{ ?m ex:group "c" } } ORDER BY ?m')
    got = [r["m"] for r in sparql.evaluate(t, q).collect()]
    # arm 1: group a minus score-5 => m1 only; arm 2: all of group c
    assert got == [EX + "m1", EX + "m5", EX + "m6"]


def test_exists_inside_optional_group(spark):
    """FILTER EXISTS inside an OPTIONAL body restricts which optional
    solutions extend the base — rows failing it stay, but unextended."""
    t = _triples(spark, [
        (EX + "m1", EX + "p", "x"), (EX + "m2", EX + "p", "y"),
        (EX + "m1", EX + "lab", "L1"), (EX + "m2", EX + "lab", "L2"),
        (EX + "m1", EX + "flag", "1"),
    ])
    q = (f"PREFIX ex: <{EX}> SELECT ?m ?l WHERE {{ ?m ex:p ?o . "
         "OPTIONAL { ?m ex:lab ?l . FILTER EXISTS { ?m ex:flag ?f } } }"
         " ORDER BY ?m")
    got = [(r["m"], r["l"]) for r in sparql.evaluate(t, q).collect()]
    assert got == [(EX + "m1", "L1"), (EX + "m2", None)]


def test_minus_inside_optional_group(spark):
    t = _triples(spark, [
        (EX + "m1", EX + "p", "x"), (EX + "m2", EX + "p", "y"),
        (EX + "m1", EX + "lab", "L1"), (EX + "m2", EX + "lab", "L2"),
        (EX + "m2", EX + "skip", "1"),
    ])
    q = (f"PREFIX ex: <{EX}> SELECT ?m ?l WHERE {{ ?m ex:p ?o . "
         "OPTIONAL { ?m ex:lab ?l . MINUS { ?m ex:skip ?z } } }"
         " ORDER BY ?m")
    got = [(r["m"], r["l"]) for r in sparql.evaluate(t, q).collect()]
    assert got == [(EX + "m1", "L1"), (EX + "m2", None)]


def test_nested_exists_inside_minus(spark):
    """MINUS bodies are full groups: an EXISTS inside the MINUS group
    narrows what gets subtracted."""
    t = _scores_graph(spark)
    extra = _triples(spark, [(EX + "m3", EX + "flag", "1")])
    t = t.unionByName(extra)
    q = (f"PREFIX ex: <{EX}> SELECT ?m WHERE {{ ?m ex:group ?g . "
         'MINUS { ?m ex:group "b" . FILTER EXISTS { ?m ex:flag ?f } } }'
         " ORDER BY ?m")
    got = [r["m"] for r in sparql.evaluate(t, q).collect()]
    # only m3 (group b AND flagged) is subtracted; m4 (group b, no flag) stays
    assert got == [EX + m for m in ["m1", "m2", "m4", "m5", "m6"]]


# -- left-join filter semantics (spec LeftJoin(P1, P2, F)) -------------------


def test_optional_filter_references_outer_var(spark):
    """A FILTER inside an OPTIONAL may reference outer vars: it joins the
    left-join condition, so rows failing it survive UNEXTENDED (the spec's
    LeftJoin(P1, P2, F)), never dropped."""
    t = _triples(spark, [
        (EX + "a", EX + "p", "1"), (EX + "b", EX + "p", "5"),
        (EX + "a", EX + "q", "3"), (EX + "b", EX + "q", "3"),
    ])
    q = (f"PREFIX ex: <{EX}> SELECT ?s ?o ?v WHERE {{ ?s ex:p ?o . "
         "OPTIONAL { ?s ex:q ?v . FILTER(?v > ?o) } } ORDER BY ?s")
    got = [(r["s"], r["o"], r["v"]) for r in sparql.evaluate(t, q).collect()]
    # a: q-value 3 > p-value 1 -> extended; b: 3 > 5 false -> kept unextended
    assert got == [(EX + "a", "1", "3"), (EX + "b", "5", None)]


def test_optional_filter_on_own_optional_var(spark):
    """End-of-group filter scope: a group filter may reference the
    group's OWN nested-OPTIONAL var (unbound -> error -> row filtered
    out of the group, so the outer row survives unextended)."""
    t = _triples(spark, [
        (EX + "a", EX + "p", "x"), (EX + "b", EX + "p", "y"),
        (EX + "a", EX + "lab", "L"),
        (EX + "a", EX + "flag", "ok"), (EX + "b", EX + "flag", "ok"),
    ])
    q = (f"PREFIX ex: <{EX}> SELECT ?s ?l WHERE {{ ?s ex:p ?o . "
         "OPTIONAL { ?s ex:flag ?f . OPTIONAL { ?s ex:lab ?l } "
         'FILTER(?l = "L") } } ORDER BY ?s')
    got = [(r["s"], r["l"]) for r in sparql.evaluate(t, q).collect()]
    assert got == [(EX + "a", "L"), (EX + "b", None)]


def test_exists_body_filter_references_outer_var(spark):
    """Correlated FILTER EXISTS: a filter inside the EXISTS body compares
    body vars against outer vars (spec substitution semantics)."""
    t = _triples(spark, [
        (EX + "a", EX + "p", "2"), (EX + "b", EX + "p", "9"),
        (EX + "a", EX + "q", "5"), (EX + "b", EX + "q", "5"),
    ])
    q = (f"PREFIX ex: <{EX}> SELECT ?s WHERE {{ ?s ex:p ?o . "
         "FILTER EXISTS { ?s ex:q ?w . FILTER(?w > ?o) } }")
    got = [r["s"] for r in sparql.evaluate(t, q).collect()]
    assert got == [EX + "a"]
    q2 = q.replace("FILTER EXISTS", "FILTER NOT EXISTS")
    got2 = [r["s"] for r in sparql.evaluate(t, q2).collect()]
    assert got2 == [EX + "b"]


def test_optional_filter_var_bound_nowhere_raises(spark):
    import pytest
    t = _triples(spark, [(EX + "a", EX + "p", "x")])
    q = (f"PREFIX ex: <{EX}> SELECT ?s WHERE {{ ?s ex:p ?o . "
         'OPTIONAL { ?s ex:q ?v . FILTER(?nowhere = "z") } }')
    with pytest.raises(ValueError, match=r"\?nowhere"):
        sparql.evaluate(t, q).collect()


# ------------------- DELETE WHERE rejects property paths


def _pg(spark, edges):
    return spark.createDataFrame(
        [(EX + s, EX + p, EX + o) for s, p, o in edges],
        "subj string, pred string, obj string",
    )


def test_delete_where_rejects_property_path(spark):
    """SPARQL 1.1 quad patterns take no property path, so DELETE WHERE
    with one is rejected at parse; the same path in the WHERE block of
    DELETE { .. } WHERE { .. } stays legal and deletes what it matches."""
    for path in ("ex:p+", "^ex:p", "ex:p/ex:q"):
        with pytest.raises(ValueError, match="DELETE WHERE takes no property path"):
            sparql.parse(f"PREFIX ex: <{EX}> DELETE WHERE {{ ?s {path} ?o }}")
    g = _pg(spark, [("a", "p", "b"), ("b", "p", "c"), ("a", "q", "b")])
    out = sparql.update(
        g, f"PREFIX ex: <{EX}> DELETE {{ ?s ex:p ?o }} WHERE {{ ?s ex:p+ ?o }}")
    assert {(r.subj, r.pred, r.obj) for r in out.collect()} == {
        (EX + "a", EX + "q", EX + "b")
    }
