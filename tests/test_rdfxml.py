"""RDF/XML reader tests — the third serialization must produce IDENTICAL
normalized axiom rows to the Turtle reader for equivalent content (the
format-agnostic contract; RDF/XML is what OWLAPI actually emits for the
reference's ~25 web ontologies)."""

from __future__ import annotations

import re

import pytest

from phenoscape_owl_tools_spark.sources import rdfxml, ttl

EX = "http://example.org/onto#"
X = "http://example.org/x#"

# OWLAPI-shaped RDF/XML for the same content as test_ttl.OWN_TTL
OWN_RDFXML = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#">
  <owl:Class rdf:about="http://example.org/onto#Fin">
    <rdfs:subClassOf>
      <owl:Restriction>
        <owl:onProperty rdf:resource="http://example.org/x#part_of"/>
        <owl:someValuesFrom rdf:resource="http://example.org/onto#Body"/>
      </owl:Restriction>
    </rdfs:subClassOf>
    <rdfs:subClassOf rdf:resource="http://example.org/onto#Appendage"/>
    <rdfs:label xml:lang="en">the fin</rdfs:label>
    <rdfs:comment rdf:datatype="http://www.w3.org/2001/XMLSchema#string">n=1</rdfs:comment>
    <owl:disjointWith rdf:resource="http://example.org/onto#Body"/>
  </owl:Class>
  <owl:ObjectProperty rdf:about="http://example.org/x#part_of">
    <rdfs:subPropertyOf rdf:resource="http://example.org/x#overlaps"/>
    <owl:propertyChainAxiom rdf:parseType="Collection">
      <rdf:Description rdf:about="http://example.org/x#part_of"/>
      <rdf:Description rdf:about="http://example.org/x#part_of"/>
    </owl:propertyChainAxiom>
  </owl:ObjectProperty>
  <owl:Class rdf:about="http://example.org/onto#FinPart">
    <owl:equivalentClass>
      <rdf:Description>
        <owl:intersectionOf rdf:parseType="Collection">
          <rdf:Description rdf:about="http://example.org/onto#Fin"/>
          <owl:Restriction>
            <owl:onProperty rdf:resource="http://example.org/x#part_of"/>
            <owl:someValuesFrom rdf:resource="http://example.org/onto#Body"/>
          </owl:Restriction>
        </owl:intersectionOf>
      </rdf:Description>
    </owl:equivalentClass>
  </owl:Class>
  <rdf:Description rdf:about="http://example.org/x#fin1">
    <rdf:type rdf:resource="http://example.org/onto#Fin"/>
  </rdf:Description>
  <rdf:Description rdf:about="http://example.org/x#fin1">
    <x:part_of xmlns:x="http://example.org/x#"
               rdf:resource="http://example.org/x#body1"/>
  </rdf:Description>
</rdf:RDF>
"""

TTL_TWIN = """
@prefix : <http://example.org/onto#> .
@prefix ex: <http://example.org/x#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
:Fin a owl:Class ;
     rdfs:subClassOf [ a owl:Restriction ; owl:onProperty ex:part_of ;
                       owl:someValuesFrom :Body ] ;
     rdfs:subClassOf :Appendage ;
     rdfs:label "the fin"@en ;
     rdfs:comment "n=1"^^<http://www.w3.org/2001/XMLSchema#string> ;
     owl:disjointWith :Body .
ex:part_of a owl:ObjectProperty ;
     rdfs:subPropertyOf ex:overlaps ;
     owl:propertyChainAxiom ( ex:part_of ex:part_of ) .
:FinPart a owl:Class ;
     owl:equivalentClass [ owl:intersectionOf ( :Fin
        [ a owl:Restriction ; owl:onProperty ex:part_of ;
          owl:someValuesFrom :Body ] ) ] .
ex:fin1 a :Fin .
ex:fin1 ex:part_of ex:body1 .
"""


def test_rdfxml_matches_turtle_rows():
    got = sorted(r[1:] for r in rdfxml.parse_document(OWN_RDFXML, src="x"))
    want = sorted(r[1:] for r in ttl.parse_document(TTL_TWIN, src="x"))
    assert got == want


def test_rdfxml_axiom_shapes():
    rows = rdfxml.parse_document(OWN_RDFXML, src="r")
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r[1], []).append(r)
    assert ("r", "declaration", EX + "Fin", None, "Class") in rows
    assert ("r", "declaration", X + "part_of", None, "ObjectProperty") in rows
    subs = {(r[2], r[4]) for r in by_kind["subclass_of"]}
    assert (EX + "Fin", f"ObjectSomeValuesFrom({X}part_of {EX}Body)") in subs
    chain = by_kind["property_chain"][0]
    assert chain[2] == f"{X}part_of {X}part_of" and chain[4] == X + "part_of"
    anns = {(r[3], r[4]) for r in by_kind["annotation"]}
    assert ("http://www.w3.org/2000/01/rdf-schema#label", "the fin") in anns
    assert ("http://www.w3.org/2000/01/rdf-schema#comment", "n=1") in anns
    eq = by_kind["equivalent_classes"][0][4]
    assert eq.startswith("ObjectIntersectionOf(")


def test_rdfxml_parse_type_resource_and_base():
    doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xml:base="http://b.org/onto">
  <owl:Class rdf:ID="Local">
    <rdfs:subClassOf rdf:parseType="Resource">
      <owl:onProperty rdf:resource="http://b.org/p"/>
      <owl:someValuesFrom rdf:resource="http://b.org/F"/>
    </rdfs:subClassOf>
  </owl:Class>
</rdf:RDF>
"""
    rows = rdfxml.parse_document(doc, src="b")
    subs = [r for r in rows if r[1] == "subclass_of"]
    assert subs == [(
        "b", "subclass_of", "http://b.org/onto#Local", None,
        "ObjectSomeValuesFrom(http://b.org/p http://b.org/F)",
    )]


def test_rdfxml_malformed_raises():
    with pytest.raises(rdfxml.RdfXmlParseError):
        rdfxml.parse_document("<not closed", src="z")


def test_rdfxml_resolve_relative_refs():
    """_resolve must never emit a non-IRI string: relative refs against a
    path-shaped base RFC3986-resolve (urljoin); a relative ref with no
    usable base raises instead of passing through."""
    assert rdfxml._resolve("http://b.org/a/onto.owl", "Foo") == "http://b.org/a/Foo"
    assert rdfxml._resolve("http://b.org/a/onto.owl", "../Foo") == "http://b.org/Foo"
    assert rdfxml._resolve("http://b.org/onto#", "Foo") == "http://b.org/onto#Foo"
    assert rdfxml._resolve("http://b.org/dir/", "Foo") == "http://b.org/dir/Foo"
    assert rdfxml._resolve("http://b.org/onto", "#f") == "http://b.org/onto#f"
    assert rdfxml._resolve("", "urn:x:y") == "urn:x:y"
    assert rdfxml._resolve("", "http://abs.org/x") == "http://abs.org/x"
    with pytest.raises(rdfxml.RdfXmlParseError):
        rdfxml._resolve("", "Foo")
    with pytest.raises(rdfxml.RdfXmlParseError):
        rdfxml._resolve("relative-base", "Foo")


def test_rdfxml_absolute_iris_without_authority_pass_through():
    """An RFC 3986 scheme makes a reference absolute, with or without an
    authority: ``mailto:`` and ``tag:`` IRIs need no xml:base."""
    assert rdfxml._resolve("", "mailto:x@y.org") == "mailto:x@y.org"
    assert rdfxml._resolve("http://b.org/dir/", "tag:b.org,2024:x") == "tag:b.org,2024:x"
    doc = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xmlns:ex="http://example.org/x#">
  <owl:NamedIndividual rdf:about="http://example.org/onto#Curator">
    <ex:p rdf:resource="mailto:x@y.org"/>
  </owl:NamedIndividual>
</rdf:RDF>
"""
    rows = rdfxml.parse_document(doc, src="m")
    assert any(r[2] == EX + "Curator" and r[4] == "mailto:x@y.org" for r in rows), rows


def test_read_rdfxml_spark(spark, tmp_path):
    d = tmp_path / "owl"
    d.mkdir()
    (d / "one.owl").write_text(OWN_RDFXML)
    df = rdfxml.read_rdfxml(spark, str(d))
    rows = df.collect()
    assert df.columns == ["src", "kind", "s", "p", "o"]
    assert ("declaration", EX + "Fin") in {(r["kind"], r["s"]) for r in rows}


def test_rdfxml_containers_li_expansion():
    """rdf:li expands to rdf:_1, rdf:_2, ... per containing element
    (spec §7.4); rdf:Bag/Seq are ordinary typed nodes. Two containers in
    one document verify the ordinal counter resets per element."""
    RDF = rdfxml.RDF
    doc = rdfxml.parse_rdfxml(
        """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://e.org/">
  <rdf:Bag rdf:about="http://e.org/bag">
    <rdf:li rdf:resource="http://e.org/a"/>
    <rdf:li>two</rdf:li>
  </rdf:Bag>
  <rdf:Seq rdf:about="http://e.org/seq">
    <rdf:li rdf:resource="http://e.org/z"/>
  </rdf:Seq>
</rdf:RDF>
"""
    )
    t = set(doc.triples)
    assert ("http://e.org/bag", RDF + "type", RDF + "Bag", True) in t
    assert ("http://e.org/bag", RDF + "_1", "http://e.org/a", True) in t
    assert ("http://e.org/bag", RDF + "_2", "two", False) in t
    # counter resets: the second container starts again at _1
    assert ("http://e.org/seq", RDF + "_1", "http://e.org/z", True) in t


def _obo_like(n: int = 100):
    """An OWLAPI-shaped ~n-class OBO-style ontology in BOTH serializations
    (RDF/XML as OWLAPI emits it, and OFN): a subclass chain with labels,
    every 5th class an existential restriction over part_of, every 10th an
    equivalent-class intersection — the realistic uberon-fragment shape."""
    O = "http://purl.obolibrary.org/obo/"
    P = O + "BFO_0000050"  # part_of
    xml = [
        '<?xml version="1.0"?>',
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"',
        '         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"',
        '         xmlns:owl="http://www.w3.org/2002/07/owl#">',
        f'  <owl:ObjectProperty rdf:about="{P}"/>',
    ]
    ofn = [
        f"Prefix(:=<{O}>)",
        "Prefix(rdfs:=<http://www.w3.org/2000/01/rdf-schema#>)",
        "Ontology(<http://purl.obolibrary.org/obo/test.owl>",
        f"Declaration(ObjectProperty(<{P}>))",
    ]
    for i in range(n):
        c, parent = f"{O}UBERON_{i:07d}", f"{O}UBERON_{max(0, i - 1):07d}"
        xml.append(f'  <owl:Class rdf:about="{c}">')
        ofn.append(f"Declaration(Class(<{c}>))")
        xml.append(f'    <rdfs:label>structure {i}</rdfs:label>')
        ofn.append(f'AnnotationAssertion(rdfs:label <{c}> "structure {i}")')
        if i > 0:
            xml.append(f'    <rdfs:subClassOf rdf:resource="{parent}"/>')
            ofn.append(f"SubClassOf(<{c}> <{parent}>)")
        if i > 0 and i % 5 == 0:
            host = f"{O}UBERON_{i - 5:07d}"
            xml.append(
                "    <rdfs:subClassOf><owl:Restriction>"
                f'<owl:onProperty rdf:resource="{P}"/>'
                f'<owl:someValuesFrom rdf:resource="{host}"/>'
                "</owl:Restriction></rdfs:subClassOf>"
            )
            ofn.append(
                f"SubClassOf(<{c}> ObjectSomeValuesFrom(<{P}> <{host}>))"
            )
        if i > 0 and i % 10 == 0:
            a, b = f"{O}UBERON_{i - 1:07d}", f"{O}UBERON_{i - 2:07d}"
            xml.append(
                "    <owl:equivalentClass><rdf:Description>"
                '<owl:intersectionOf rdf:parseType="Collection">'
                f'<rdf:Description rdf:about="{a}"/>'
                "<owl:Restriction>"
                f'<owl:onProperty rdf:resource="{P}"/>'
                f'<owl:someValuesFrom rdf:resource="{b}"/>'
                "</owl:Restriction>"
                "</owl:intersectionOf>"
                "</rdf:Description></owl:equivalentClass>"
            )
            ofn.append(
                f"EquivalentClasses(<{c}> ObjectIntersectionOf(<{a}> "
                f"ObjectSomeValuesFrom(<{P}> <{b}>)))"
            )
        xml.append("  </owl:Class>")
    xml.append("</rdf:RDF>")
    ofn.append(")")
    return "\n".join(xml), "\n".join(ofn)


def test_rdfxml_obo_fixture_matches_ofn():
    """~100-class OBO-shaped ontology: the RDF/XML reader and the OFN
    reader produce IDENTICAL normalized axiom rows (the format-agnostic
    contract at a realistic ontology-fragment scale, VERDICT r3 item 8)."""
    from phenoscape_owl_tools_spark.sources import ofn

    xml_text, ofn_text = _obo_like(100)
    got = sorted(r[1:] for r in rdfxml.parse_document(xml_text, src="s"))
    want = sorted(r[1:] for r in ofn.parse_document(ofn_text, src="s"))
    assert len(got) > 300
    assert got == want


# ---------------------------------------------------------------------------
# Writer (round 4): render_rdfxml_document / write_rdfxml
# ---------------------------------------------------------------------------

REF_OFN = "/root/reference/src/test/resources/NegationHierarchyAsserterTest.ofn"


def _all_kinds_rows():
    E = "http://example.org/o#"
    return [
        ("x", "declaration", E + "A", None, "Class"),
        ("x", "declaration", E + "p", None, "ObjectProperty"),
        ("x", "declaration", E + "lbl", None, "AnnotationProperty"),
        ("x", "declaration", E + "i1", None, "NamedIndividual"),
        ("x", "subclass_of", E + "A", None,
         f"ObjectSomeValuesFrom(<{E}p> <{E}B>)"),
        ("x", "subclass_of",
         f"ObjectIntersectionOf(<{E}A> ObjectSomeValuesFrom(<{E}p> "
         f"ObjectComplementOf(<{E}B>)))", None, E + "C"),
        ("x", "equivalent_classes", E + "D", None,
         f"ObjectUnionOf(<{E}A> ObjectOneOf(<{E}i1> <{E}i2>))"),
        ("x", "disjoint_classes", E + "A", None, E + "B"),
        ("x", "sub_object_property", E + "p", None, E + "q"),
        ("x", "property_chain", f"{E}p {E}q", None, E + "r"),
        ("x", "annotation", E + "A", E + "lbl",
         'a "quoted" label\nwith newline & <angle>'),
        ("x", "annotation", E + "A",
         "http://purl.org/dc/elements/1.1/source", E + "B"),
        ("x", "class_assertion", E + "i1", None, E + "A"),
        ("x", "class_assertion", E + "i1", None,
         f"ObjectSomeValuesFrom(<{E}p> <{E}A>)"),
        ("x", "object_property_assertion", E + "i1", E + "p", E + "i2"),
        ("x", "subclass_of", E + "E", None,
         f"ObjectAllValuesFrom(ObjectInverseOf(<{E}p>) <{E}A>)"),
        ("x", "subclass_of", E + "F", None,
         f"ObjectHasValue(<{E}p> <{E}i1>)"),
    ]


def _all_kinds_canonical_rows():
    """Twin of _all_kinds_rows in the readers' canonical form: bare IRIs
    inside expressions, operands of set-valued constructors sorted."""
    E = "http://example.org/o#"
    return [
        ("declaration", E + "A", None, "Class"),
        ("declaration", E + "p", None, "ObjectProperty"),
        ("declaration", E + "lbl", None, "AnnotationProperty"),
        ("declaration", E + "i1", None, "NamedIndividual"),
        ("subclass_of", E + "A", None, f"ObjectSomeValuesFrom({E}p {E}B)"),
        ("subclass_of",
         f"ObjectIntersectionOf(ObjectSomeValuesFrom({E}p "
         f"ObjectComplementOf({E}B)) {E}A)", None, E + "C"),
        ("equivalent_classes", E + "D", None,
         f"ObjectUnionOf(ObjectOneOf({E}i1 {E}i2) {E}A)"),
        ("disjoint_classes", E + "A", None, E + "B"),
        ("sub_object_property", E + "p", None, E + "q"),
        ("property_chain", f"{E}p {E}q", None, E + "r"),
        ("annotation", E + "A", E + "lbl",
         'a "quoted" label\nwith newline & <angle>'),
        ("annotation", E + "A",
         "http://purl.org/dc/elements/1.1/source", E + "B"),
        ("class_assertion", E + "i1", None, E + "A"),
        ("class_assertion", E + "i1", None, f"ObjectSomeValuesFrom({E}p {E}A)"),
        ("object_property_assertion", E + "i1", E + "p", E + "i2"),
        ("subclass_of", E + "E", None,
         f"ObjectAllValuesFrom(ObjectInverseOf({E}p) {E}A)"),
        ("subclass_of", E + "F", None, f"ObjectHasValue({E}p {E}i1)"),
    ]


def test_all_kinds_canonical_through_every_writer():
    """The canonical all-kinds fixture survives the OFN, Turtle and RDF/XML
    writers exactly (every object-property assertion predicate is
    declared, so the RDF writers add nothing)."""
    from phenoscape_owl_tools_spark.sources import ofn

    rows = sorted(_all_kinds_canonical_rows(), key=repr)
    for render, parse in ((ofn.render_document, ofn.parse_document),
                          (ttl.render_turtle_document, ttl.parse_document),
                          (rdfxml.render_rdfxml_document, rdfxml.parse_document)):
        got = sorted((r[1:] for r in parse(render(rows), src="x")), key=repr)
        assert got == rows, render.__name__


def test_rdfxml_writer_literal_fidelity():
    """A carriage return survives as &#13; (raw, XML would read it back as
    a newline); a character XML 1.0 cannot carry fails at render, naming
    the value, instead of writing a document the reader rejects."""
    s, p = "http://ex.org/s", "http://ex.org/p"
    rows = [("annotation", s, p, "a\rb\r\nc")]
    text = rdfxml.render_rdfxml_document(rows)
    assert [r[1:] for r in rdfxml.parse_document(text)] == rows
    with pytest.raises(ValueError, match=re.escape(repr("a\x01b"))):
        rdfxml.render_rdfxml_document([("annotation", s, p, "a\x01b")])


def test_rdfxml_writer_roundtrips_every_kind():
    """render_rdfxml_document is an exact inverse of parse_document for
    every axiom kind the readers emit, including nested expressions,
    inverse properties, chains, XML-hostile literals, and IRI-valued
    annotations (mirrors the Turtle writer's round-trip contract)."""
    rows = _all_kinds_rows()
    text = rdfxml.render_rdfxml_document(rows)
    again = rdfxml.parse_document(text, src="x")
    assert sorted(tuple(r) for r in rows) == sorted(again)


def test_rdfxml_writer_ofn_fixture_parity():
    """OFN fixture -> RDF/XML -> reader reproduces the OFN reader's rows
    exactly (same contract the Turtle writer is held to)."""
    import os

    if not os.path.exists(REF_OFN):
        pytest.skip("reference fixture absent")
    from phenoscape_owl_tools_spark.sources import ofn

    with open(REF_OFN, encoding="utf-8") as fh:
        rows = ofn.parse_document(fh.read(), src="x", strict=True)
    text = rdfxml.render_rdfxml_document(rows)
    assert sorted(rows) == sorted(rdfxml.parse_document(text, src="x"))


def test_rdfxml_writer_pred_tag_rejects_unusable_iri():
    with pytest.raises(rdfxml.RdfXmlParseError):
        rdfxml._pred_tag("http://example.org/prop/")


def test_rdfxml_writer_pred_tag_splits_at_ncname_suffix():
    # qname(ns + local) must re-concatenate to the IRI for ANY split point;
    # the longest NCName suffix is the local name (digits allowed inside)
    assert rdfxml._pred_tag("http://example.org/prop123") == (
        "{http://example.org/}prop123"
    )
    # a pure-digit tail cannot START an NCName — the split lands one char in
    assert rdfxml._pred_tag("http://example.org/v1/x2") == (
        "{http://example.org/v1/}x2"
    )


def test_write_rdfxml_spark_roundtrip(spark, tmp_path):
    from phenoscape_owl_tools_spark.sources.ofn import AXIOM_SCHEMA

    df = spark.createDataFrame(_all_kinds_rows(), AXIOM_SCHEMA)
    out = tmp_path / "out.owl"
    rdfxml.write_rdfxml(df, str(out))
    back = rdfxml.read_rdfxml(spark, str(out))
    assert sorted(tuple(r)[1:] for r in _all_kinds_rows()) == sorted(
        (r["kind"], r["s"], r["p"], r["o"]) for r in back.collect()
    )
