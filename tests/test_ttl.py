"""Turtle / N-Triples reader tests.

The parity test takes the REFERENCE'S OWN negation fixture
(``src/test/resources/NegationHierarchyAsserterTest.ofn``), renders its
axiom frame to Turtle, and asserts the Turtle reader reproduces the
IDENTICAL normalized axiom rows as the OFN reader — so every downstream
extractor is serialization-agnostic (closes the RDF-dump ingestion gap vs
``KnowledgeBaseBuilder.scala:56-68``).
"""

from __future__ import annotations

import os

import pytest

from phenoscape_owl_tools_spark.sources import ofn, rdfxml, ttl

REF_OFN = "/root/reference/src/test/resources/NegationHierarchyAsserterTest.ofn"

EX = "http://example.org/onto#"
X = "http://example.org/x#"
RDFS = ttl.RDFS

OWN_TTL = """
@prefix : <http://example.org/onto#> .
@prefix ex: <http://example.org/x#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
# a comment line
:Fin a owl:Class .
ex:part_of a owl:ObjectProperty .
:Fin rdfs:subClassOf [ a owl:Restriction ; owl:onProperty ex:part_of ;
                       owl:someValuesFrom :Body ] ;
     rdfs:subClassOf :Appendage .
:FinPart owl:equivalentClass
    [ owl:intersectionOf ( :Fin
        [ a owl:Restriction ; owl:onProperty ex:part_of ; owl:someValuesFrom :Body ] ) ] .
ex:part_of owl:propertyChainAxiom ( ex:part_of ex:part_of ) .
ex:part_of rdfs:subPropertyOf ex:overlaps .
:Fin rdfs:label "the fin"@en ;
     rdfs:comment "n=1"^^<http://www.w3.org/2001/XMLSchema#string> .
ex:fin1 a :Fin .
ex:fin1 ex:part_of ex:body1 .
:Fin owl:disjointWith :Body .
"""


def test_turtle_parse_axiom_shapes():
    rows = ttl.parse_document(OWN_TTL, src="own")
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r[1], []).append(r)

    assert ("own", "declaration", EX + "Fin", None, "Class") in rows
    assert ("own", "declaration", X + "part_of", None, "ObjectProperty") in rows
    subs = {(r[2], r[4]) for r in by_kind["subclass_of"]}
    assert (
        EX + "Fin",
        f"ObjectSomeValuesFrom({X}part_of {EX}Body)",
    ) in subs
    assert (EX + "Fin", EX + "Appendage") in subs
    # intersection operands are sorted (set semantics, same as OFN reader)
    eq = by_kind["equivalent_classes"][0]
    inner = eq[4]
    assert inner.startswith("ObjectIntersectionOf(")
    args = inner[len("ObjectIntersectionOf("):-1]
    from phenoscape_owl_tools_spark.sources.ofn import _split_args
    parts = _split_args(args)
    assert parts == sorted(parts)
    chain = by_kind["property_chain"][0]
    assert chain[2] == f"{X}part_of {X}part_of" and chain[4] == X + "part_of"
    # language tag / datatype dropped from canonical value (OFN parity)
    anns = {(r[3], r[4]) for r in by_kind["annotation"]}
    assert (RDFS + "label", "the fin") in anns
    assert (RDFS + "comment", "n=1") in anns
    assert ("own", "class_assertion", X + "fin1", None, EX + "Fin") in rows
    assert (
        "own", "object_property_assertion", X + "fin1", X + "part_of", X + "body1"
    ) in rows
    assert ("own", "disjoint_classes", EX + "Fin", None, EX + "Body") in rows


def test_turtle_gci_subject_not_dropped():
    doc = """
@prefix : <http://example.org/o#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
[ owl:intersectionOf ( :B [ a owl:Restriction ; owl:onProperty :p ;
    owl:someValuesFrom :A ] ) ] rdfs:subClassOf :C .
"""
    rows = ttl.parse_document(doc, src="g")
    subs = [r for r in rows if r[1] == "subclass_of"]
    assert len(subs) == 1
    s = subs[0][2]
    assert s.startswith("ObjectIntersectionOf(") and subs[0][4] == "http://example.org/o#C"


def test_turtle_roundtrip_own_doc():
    rows = ttl.parse_document(OWN_TTL, src="x")
    text = ttl.render_turtle_document(rows)
    again = ttl.parse_document(text, src="x")
    assert sorted(rows) == sorted(again)


@pytest.mark.skipif(not os.path.exists(REF_OFN), reason="reference fixture absent")
def test_ofn_fixture_turtle_parity():
    """OFN reader rows == Turtle reader rows on the reference's own fixture."""
    with open(REF_OFN, encoding="utf-8") as fh:
        ofn_rows = ofn.parse_document(fh.read(), src="x", strict=True)
    text = ttl.render_turtle_document(ofn_rows)
    ttl_rows = ttl.parse_document(text, src="x")
    assert sorted(ofn_rows) == sorted(ttl_rows)


def test_ntriples_roundtrip(spark, tmp_path):
    """read_ntriples is the exact inverse of catalog.to_ntriples, including
    the escape corner cases (literal backslash-n, quotes, tabs)."""
    from phenoscape_owl_tools_spark import catalog

    data = [
        ("http://ex.org/a", "http://ex.org/p", "http://ex.org/b"),
        ("http://ex.org/a", "http://ex.org/label", 'say "hi"\nnow'),
        ("http://ex.org/c", "http://ex.org/label", "literal\\nbackslash-n\ttab"),
        ("http://ex.org/c", "http://ex.org/id", "PMID:123"),
    ]
    triples = spark.createDataFrame(data, "subj string, pred string, obj string")
    out = tmp_path / "dump"
    catalog.to_ntriples(triples).write.mode("overwrite").text(str(out))
    back = ttl.read_ntriples(spark, str(out))
    got = {(r["subj"], r["pred"], r["obj"], r["obj_is_iri"]) for r in back.collect()}
    import re as _re
    want = {(s, p, o, bool(_re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", o)))
            for s, p, o in data}
    assert got == want


def test_ntriples_malformed_raises(spark, tmp_path):
    bad = tmp_path / "bad.nt"
    bad.write_text("<http://a> nonsense .\n")
    with pytest.raises(Exception):
        ttl.read_ntriples(spark, str(bad)).collect()


def test_ntriples_numeric_escapes(spark, tmp_path):
    """External ASCII-mode dumps (Jena/rdflib style) encode non-ASCII as
    \\uXXXX / \\UXXXXXXXX UCHARs — required by the N-Triples grammar, never
    emitted by our own to_ntriples. The JVM-side decode must handle: BMP
    \\u, astral \\U (surrogate-pair synthesis), Jena-style surrogate-pair
    \\u\\u, ECHARs \\b \\f \\', and must NOT decode a parked literal
    backslash (\\\\u0041 is backslash + 'u0041')."""
    p = "http://ex.org/p"
    lines = [
        ('<http://ex.org/bmp> <%s> "caf\\u00E9" .' % p, "café"),
        ('<http://ex.org/ast> <%s> "\\U0001F600!" .' % p, "\U0001F600!"),
        ('<http://ex.org/pair> <%s> "\\uD83D\\uDE00!" .' % p, "\U0001F600!"),
        ('<http://ex.org/parked> <%s> "\\\\u0041" .' % p, "\\u0041"),
        ('<http://ex.org/bslash> <%s> "\\u005Cn" .' % p, "\\n"),
        ('<http://ex.org/echar> <%s> "a\\bb\\fc\\\'d" .' % p, "a\bb\fc'd"),
        ('<http://ex.org/mixed> <%s> "t\\tab \\u0041\\u0042" .' % p, "t\tab AB"),
        ('<http://ex.org/bmp4> <%s> "\\U00000041" .' % p, "A"),
    ]
    f = tmp_path / "esc.nt"
    f.write_text("\n".join(line for line, _ in lines) + "\n")
    got = {r["subj"]: r["obj"] for r in ttl.read_ntriples(spark, str(f)).collect()}
    want = {line.split(">", 1)[0][1:]: val for line, val in lines}
    assert got == want


def test_read_turtle_spark(spark, tmp_path):
    d = tmp_path / "ont"
    d.mkdir()
    (d / "one.ttl").write_text(OWN_TTL)
    (d / "two.ttl").write_text(
        "@prefix : <http://example.org/two#> .\n"
        "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
        ":A a owl:Class .\n"
    )
    df = ttl.read_turtle(spark, str(d))
    rows = df.collect()
    assert {r["src"].rsplit("/", 1)[-1] for r in rows} == {"one.ttl", "two.ttl"}
    assert ("http://example.org/two#A", "Class") in {
        (r["s"], r["o"]) for r in rows if r["kind"] == "declaration"
    }
    # blank-node scope is per-document: downstream extractors see the same
    # frame shape as ofn.read_ofn
    assert df.columns == ["src", "kind", "s", "p", "o"]


def test_axioms_from_triples_classification(spark):
    data = [
        ("http://e/A", ttl.RDF + "type", ttl.OWL + "Class", True),
        ("http://e/A", RDFS + "subClassOf", "http://e/B", True),
        ("http://e/A", RDFS + "label", "a label", False),
        ("http://e/i", "http://e/p", "http://e/j", True),
        ("http://e/x", ttl.RDF + "type", ttl.OWL + "Ontology", True),
        ("_:b1", RDFS + "subClassOf", "http://e/B", True),
    ]
    t = spark.createDataFrame(
        data, "subj string, pred string, obj string, obj_is_iri boolean"
    )
    got = {(r["kind"], r["s"], r["p"], r["o"])
           for r in ttl.axioms_from_triples(t, src="nt").collect()}
    assert ("declaration", "http://e/A", None, "Class") in got
    assert ("subclass_of", "http://e/A", None, "http://e/B") in got
    assert ("annotation", "http://e/A", RDFS + "label", "a label") in got
    assert ("object_property_assertion", "http://e/i", "http://e/p", "http://e/j") in got
    # ontology-header and bnode rows are excluded
    assert not any(s == "_:b1" or o == ttl.OWL + "Ontology" for _, s, _, o in got)


def test_iri_valued_annotation_reads_back_as_annotation():
    """An IRI-valued annotation whose predicate the reader cannot tell from
    an object property is written so it still reads back as an annotation;
    a declared annotation property keeps the plain <iri> object."""
    undeclared = [("annotation", "http://ex.org/0", "http://ex.org/0", "A:")]
    text = ttl.render_turtle_document(undeclared)
    assert "<A:>" not in text
    assert [r[1:] for r in ttl.parse_document(text, src="x")] == undeclared

    declared = [
        ("declaration", "http://ex.org/p", None, "AnnotationProperty"),
        ("annotation", "http://ex.org/s", "http://ex.org/p", "http://ex.org/o"),
    ]
    text = ttl.render_turtle_document(declared)
    assert "<http://ex.org/o>" in text
    again = [r[1:] for r in ttl.parse_document(text, src="x")]
    assert sorted(again, key=repr) == sorted(declared, key=repr)

    # the RDF/XML writer asks the same rule before writing rdf:resource
    iri_valued = [
        ("annotation", "http://ex.org/a", "http://ex.org/p", "http://ex.org/b")
    ]
    for rows in (iri_valued, declared):
        text = rdfxml.render_rdfxml_document(rows)
        again = [r[1:] for r in rdfxml.parse_document(text, src="x")]
        assert sorted(again, key=repr) == sorted(rows, key=repr), text
    assert 'resource="http://ex.org/o"' in rdfxml.render_rdfxml_document(declared)


def test_punned_property_declarations_in_either_order():
    """An IRI declared both ObjectProperty and Class keeps both kinds, so
    the reader's answer does not hang on which declaration comes last."""
    decls = [
        "<http://ex.org/p> a owl:ObjectProperty .",
        "<http://ex.org/p> a owl:Class .",
    ]
    rest = (
        "<http://ex.org/s> a owl:NamedIndividual .\n"
        "<http://ex.org/s> <http://ex.org/p> <http://ex.org/o> .\n"
    )
    header = "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
    for order in (decls, decls[::-1]):
        rows = ttl.parse_document(header + "\n".join(order) + "\n" + rest)
        assert ("", "object_property_assertion", "http://ex.org/s",
                "http://ex.org/p", "http://ex.org/o") in rows


def test_ntriples_axioms_match_turtle_reader(spark, tmp_path):
    """The N-Triples path classifies IRI-object triples by the file's
    declarations, the same way parse_document does on the same text."""
    E, T = "http://ex.org/", ttl.RDF + "type"
    lines = [
        f"<{E}p> <{T}> <{ttl.OWL}AnnotationProperty> .",
        f"<{E}s> <{E}p> <{E}o> .",
        f"<{E}C> <{T}> <{ttl.OWL}Class> .",
        f"<{E}C> <{E}q> <{E}D> .",
        f"<{E}r> <{T}> <{ttl.OWL}ObjectProperty> .",
        f"<{E}r> <{T}> <{ttl.OWL}Class> .",
        f"<{E}C> <{E}r> <{E}D> .",
        f"<{E}i> <{E}u> <{E}j> .",
        f"<{E}C> <{RDFS}subClassOf> <{E}D> .",
        f'<{E}C> <{RDFS}label> "see" .',
    ]
    f = tmp_path / "probe.nt"
    f.write_text("\n".join(lines) + "\n")
    got = sorted(
        tuple(r) for r in ttl.axioms_from_triples(
            ttl.read_ntriples(spark, str(f)), src="x").collect()
    )
    want = sorted(ttl.parse_document(f.read_text(), src="x"))
    assert got == want
    assert ("x", "annotation", E + "s", E + "p", E + "o") in got
    assert ("x", "object_property_assertion", E + "C", E + "r", E + "D") in got


def test_object_property_assertion_keeps_its_kind():
    """Both RDF writers declare an object-property assertion's predicate,
    so a declared subject does not turn it into an annotation; through a
    declared annotation property it cannot be written at all."""
    s, p, o = "http://ex.org/s", "http://ex.org/p", "http://ex.org/o"
    rows = [("declaration", s, None, "Class"),
            ("object_property_assertion", s, p, o)]
    want = sorted(rows + [("declaration", p, None, "ObjectProperty")], key=repr)
    clash = [("declaration", p, None, "AnnotationProperty"),
             ("object_property_assertion", s, p, o)]
    for render, parse in ((ttl.render_turtle_document, ttl.parse_document),
                          (rdfxml.render_rdfxml_document, rdfxml.parse_document)):
        assert sorted((r[1:] for r in parse(render(rows))), key=repr) == want
        with pytest.raises(ValueError, match="AnnotationProperty"):
            render(clash)


def test_base_leaves_absolute_iris_of_any_scheme():
    """``@base`` resolves relative IRIs only: an IRI opening with an RFC
    3986 scheme is absolute whether or not it has an authority."""
    doc = """
@base <http://b.org/> .
<http://ex.org/s> <http://ex.org/p> <mailto:x@y.org> .
<http://ex.org/s> <http://ex.org/p> <doi:10.1000/182> .
<http://ex.org/s> <http://ex.org/p> <rel/o> .
"""
    rows = ttl.parse_document(doc, src="b")
    objs = {r[4] for r in rows}
    assert objs == {"mailto:x@y.org", "doi:10.1000/182", "http://b.org/rel/o"}, rows


def test_object_one_of_reads_alike_in_every_format():
    """``ObjectOneOf`` is a set of individuals: OFN, Turtle and RDF/XML
    give one canonical string for it, operands sorted."""
    E, OWL = "http://e/", ttl.OWL
    ofn_doc = (
        "Ontology(<http://e/o>\n"
        f"EquivalentClasses(<{E}C> ObjectOneOf(<{E}b> <{E}a>))\n)"
    )
    ttl_doc = (
        f"<{E}C> <{OWL}equivalentClass> [ <{OWL}oneOf> ( <{E}b> <{E}a> ) ] ."
    )
    rdf_doc = f"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:owl="{OWL}">
  <owl:Class rdf:about="{E}C">
    <owl:equivalentClass>
      <owl:Class>
        <owl:oneOf rdf:parseType="Collection">
          <rdf:Description rdf:about="{E}b"/>
          <rdf:Description rdf:about="{E}a"/>
        </owl:oneOf>
      </owl:Class>
    </owl:equivalentClass>
  </owl:Class>
</rdf:RDF>"""

    def one_of(rows):
        return {x for r in rows if r[1] == "equivalent_classes"
                for x in (r[2], r[4]) if x.startswith("ObjectOneOf(")}

    want = {f"ObjectOneOf({E}a {E}b)"}
    assert one_of(ofn.parse_document(ofn_doc, src="o")) == want
    assert one_of(ttl.parse_document(ttl_doc, src="t")) == want
    assert one_of(rdfxml.parse_document(rdf_doc, src="r")) == want
