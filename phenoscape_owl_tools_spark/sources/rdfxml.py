"""RDF/XML ontology reader — the reference's PRIMARY load format.

`KnowledgeBaseBuilder.scala:56-68` / `PhenoscapeKB.scala:96-153` load ~25
OBO ontologies with OWLAPI, which ships them as RDF/XML (``uberon.owl``
etc.). This closes the last ingestion-format gap: the XML is parsed per
document (``xml.etree`` — stdlib, streaming-parse via iterparse is not
needed at TBox scale) into raw triples, and the SAME reification-to-
canonical-expression machinery as the Turtle reader
(:func:`ttl.document_axiom_rows`) produces the normalized axiom frame —
so all three serializations (.ofn, .ttl/.nt, .owl RDF/XML) parse to
identical rows and every downstream extractor is format-agnostic.

Supported RDF/XML subset (the OWLAPI-emitted shapes):
- ``rdf:Description`` and typed node elements (``owl:Class``,
  ``owl:Restriction``, ...), ``rdf:about`` / ``rdf:ID`` / ``rdf:nodeID``,
- property elements with ``rdf:resource``, nested node elements, literal
  content (``xml:lang`` dropped, ``rdf:datatype`` lexical form kept — the
  engine's literal convention),
- ``rdf:parseType="Collection"`` (RDF lists), ``rdf:parseType="Resource"``
  (implicit blank node),
- containers: ``rdf:li`` expands to ``rdf:_1, rdf:_2, ...`` per
  containing element (``rdf:Bag``/``Seq``/``Alt`` are ordinary typed
  nodes),
- ``xml:base`` resolution for relative ``rdf:about``/``rdf:ID``
  (RFC3986 urljoin for path-relative refs; a relative ref with no usable
  base raises).

Not supported (raises ``RdfXmlParseError``): reification attributes
(``rdf:bagID``), property attributes on node elements other than rdf:*
(rare in OWLAPI output).

Spark shape: one Arrow batch per file inside ``mapInPandas`` — a
directory of ontology files parses fully in parallel, executor-side
(same layout as ``ofn.read_ofn`` / ``ttl.read_turtle``).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from typing import Iterator
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .ofn import AXIOM_SCHEMA
from .ttl import OWL, RDF, RDFS, _Doc, _iri_object_kind, document_axiom_rows

XML_NS = "http://www.w3.org/XML/1998/namespace"


class RdfXmlParseError(ValueError):
    pass


def _qname(tag: str) -> str:
    """'{ns}local' -> 'ns' + 'local' as a full IRI."""
    if not tag.startswith("{"):
        raise RdfXmlParseError(f"unqualified element {tag!r}")
    ns, local = tag[1:].split("}", 1)
    return ns + local


def _resolve(base: str, ref: str) -> str:
    """Resolve an rdf:about/rdf:resource reference against xml:base.

    Absolute refs pass through; ``#frag``/empty append to the base (the
    OWLAPI xml:base convention); other relative refs against a ``/``- or
    ``#``-terminated base concatenate. Any remaining relative ref is
    RFC3986-resolved with urljoin — and if no absolute IRI can be formed
    (no usable base), that is a loud parse error, never a bare relative
    string smuggled into the axiom frame."""
    if "://" in ref or ref.startswith("urn:"):
        return ref
    if ref.startswith("#") or not ref:
        return base + ref
    if base.endswith(("/", "#")):
        return base + ref
    resolved = urljoin(base, ref) if base else ref
    if "://" not in resolved and not resolved.startswith("urn:"):
        raise RdfXmlParseError(
            f"relative reference {ref!r} with unusable xml:base {base!r}"
        )
    return resolved


def _node_id(doc: _Doc, elem: ET.Element, base: str) -> str:
    about = elem.get(f"{{{RDF}}}about")
    if about is not None:
        return _resolve(base, about)
    rid = elem.get(f"{{{RDF}}}ID")
    if rid is not None:
        return _resolve(base, "#" + rid)
    node = elem.get(f"{{{RDF}}}nodeID")
    if node is not None:
        return "_:" + node
    return doc.fresh_bnode()


def _parse_props(doc: _Doc, subj: str, children, base: str) -> None:
    """Property elements of one node, expanding ``rdf:li`` to the ordinal
    membership properties ``rdf:_1, rdf:_2, ...`` in document order (the
    container expansion of the RDF/XML spec §7.4 — the counter is per
    containing element). ``rdf:Bag``/``Seq``/``Alt`` need nothing special:
    they are ordinary typed node elements."""
    li = 0
    for ch in children:
        if _qname(ch.tag) == RDF + "li":
            li += 1
            _parse_property(doc, subj, ch, base, pred=f"{RDF}_{li}")
        else:
            _parse_property(doc, subj, ch, base)


def _parse_node(doc: _Doc, elem: ET.Element, base: str) -> str:
    """One node element -> subject id; emits its type + property triples."""
    base = elem.get(f"{{{XML_NS}}}base", base)
    subj = _node_id(doc, elem, base)
    tag_iri = _qname(elem.tag)
    if tag_iri != RDF + "Description":
        doc.triples.append((subj, RDF + "type", tag_iri, True))
    _parse_props(doc, subj, list(elem), base)
    return subj


def _parse_property(
    doc: _Doc, subj: str, prop: ET.Element, base: str, pred: str | None = None
) -> None:
    pred = pred or _qname(prop.tag)
    if prop.get(f"{{{RDF}}}bagID") is not None:
        raise RdfXmlParseError(f"unsupported RDF/XML feature at {pred}")
    parse_type = prop.get(f"{{{RDF}}}parseType")
    resource = prop.get(f"{{{RDF}}}resource")
    node_ref = prop.get(f"{{{RDF}}}nodeID")
    children = list(prop)
    if parse_type == "Collection":
        items = [_parse_node(doc, ch, base) for ch in children]
        head = RDF + "nil"
        for item in reversed(items):
            cell = doc.fresh_bnode()
            doc.triples.append((cell, RDF + "first", item, True))
            doc.triples.append((cell, RDF + "rest", head, True))
            head = cell
        doc.triples.append((subj, pred, head, True))
        return
    if parse_type == "Resource":
        inner = doc.fresh_bnode()
        _parse_props(doc, inner, children, base)
        doc.triples.append((subj, pred, inner, True))
        return
    if parse_type is not None:
        # parseType="Literal" — keep the raw XML text content
        text = "".join(prop.itertext())
        doc.triples.append((subj, pred, text, False))
        return
    if resource is not None:
        doc.triples.append((subj, pred, _resolve(base, resource), True))
        return
    if node_ref is not None:
        doc.triples.append((subj, pred, "_:" + node_ref, True))
        return
    if children:
        if len(children) != 1:
            raise RdfXmlParseError(
                f"property {pred} has {len(children)} node children"
            )
        obj = _parse_node(doc, children[0], base)
        doc.triples.append((subj, pred, obj, True))
        return
    # literal content; xml:lang dropped, rdf:datatype lexical form kept
    doc.triples.append((subj, pred, prop.text or "", False))


def parse_rdfxml(text: str) -> _Doc:
    """Parse one RDF/XML document into raw triples (pure Python)."""
    try:
        root = ET.fromstring(text)
    except ET.ParseError as exc:
        raise RdfXmlParseError(f"malformed XML: {exc}") from exc
    doc = _Doc()
    base = root.get(f"{{{XML_NS}}}base", "")
    if _qname(root.tag) == RDF + "RDF":
        for child in root:
            _parse_node(doc, child, base)
    else:
        _parse_node(doc, root, base)
    return doc


def parse_document(text: str, src: str = "") -> list[tuple]:
    """One RDF/XML document -> normalized axiom rows (``ofn.AXIOM_SCHEMA``
    conventions, identical to the OFN/Turtle readers)."""
    return document_axiom_rows(parse_rdfxml(text), src=src)


def read_rdfxml(spark: SparkSession, path: str) -> DataFrame:
    """Read ``.owl``/``.rdf`` RDF/XML file(s) into the normalized axiom
    DataFrame — one Arrow batch per document, executor-side parsing."""
    files = spark.read.text(path, wholetext=True).selectExpr(
        "value", "input_file_name() as src"
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["src", "kind", "s", "p", "o"]
        for pdf in batches:
            out = []
            for text, src in zip(pdf["value"], pdf["src"]):
                out.extend(parse_document(text, src=src))
            yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(
                {c: pd.Series(dtype="object") for c in cols}
            )

    return files.mapInPandas(parse, schema=AXIOM_SCHEMA)


# ---------------------------------------------------------------------------
# Writer: axiom frame -> RDF/XML document (round-trips the reader).
# Completes the serialization matrix: readers cover .ofn/.ttl/.nt/.owl, and
# with this, so do the writers (ofn.write_ofn, ttl.write_turtle,
# catalog.to_ntriples, rdfxml.write_rdfxml). The reference emits RDF/XML
# through OWLAPI's default renderer (KnowledgeBaseBuilder.scala's saved
# ontologies are .owl files); this renderer produces the same element
# shapes the reader above consumes (typed node elements, rdf:resource
# object attributes, parseType="Collection" lists, nested owl:Restriction
# blank nodes).
# ---------------------------------------------------------------------------

_DECL_TYPE_ELEM = {
    "Class": f"{{{OWL}}}Class",
    "ObjectProperty": f"{{{OWL}}}ObjectProperty",
    "DataProperty": f"{{{OWL}}}DatatypeProperty",
    "AnnotationProperty": f"{{{OWL}}}AnnotationProperty",
    "NamedIndividual": f"{{{OWL}}}NamedIndividual",
}

# longest NCName suffix of a predicate IRI — the element local name; the
# remainder is its namespace (ns + local always re-concatenates to the IRI,
# so ANY valid split point round-trips through _qname()).
_NCNAME_SUFFIX = re.compile(r"[A-Za-z_][A-Za-z0-9_.\-]*$")


def _pred_tag(iri: str) -> str:
    m = _NCNAME_SUFFIX.search(iri)
    if not m or m.start() == 0:
        raise RdfXmlParseError(
            f"predicate IRI {iri!r} has no NCName suffix usable as an XML "
            f"element name — cannot serialize to RDF/XML"
        )
    return f"{{{iri[: m.start()]}}}{iri[m.start():]}"


def _rx_prop(parent: ET.Element, pred_iri: str, obj_expr: str) -> None:
    """Append a property element for an object that is a class/property
    expression or a named IRI (named -> rdf:resource attribute; expression
    -> nested node element)."""
    prop = ET.SubElement(parent, _pred_tag(pred_iri))
    from .ofn import _CTOR_RE

    if _CTOR_RE.match(obj_expr):
        prop.append(_rx_node(obj_expr))
    else:
        prop.set(f"{{{RDF}}}resource", obj_expr)


def _rx_collection(parent: ET.Element, pred_iri: str, items: list[str]) -> None:
    prop = ET.SubElement(parent, _pred_tag(pred_iri))
    prop.set(f"{{{RDF}}}parseType", "Collection")
    for item in items:
        prop.append(_rx_node(item))


def _rx_node(expr: str) -> ET.Element:
    """Canonical expression string -> RDF/XML node element. Named IRIs
    become ``<rdf:Description rdf:about=.../>``; constructed expressions
    become blank node elements (``<owl:Restriction>...`` etc.), nesting
    naturally — the exact shapes ``_parse_node`` consumes."""
    from .ofn import _CTOR_RE, _split_args

    m = _CTOR_RE.match(expr)
    if not m:
        el = ET.Element(f"{{{RDF}}}Description")
        el.set(f"{{{RDF}}}about", expr)
        return el
    ctor, body = m.group(1), m.group(2)
    args = _split_args(body) if body else []
    if ctor in ("ObjectSomeValuesFrom", "ObjectAllValuesFrom", "ObjectHasValue"):
        el = ET.Element(f"{{{OWL}}}Restriction")
        _rx_prop(el, OWL + "onProperty", args[0])
        filler = {
            "ObjectSomeValuesFrom": "someValuesFrom",
            "ObjectAllValuesFrom": "allValuesFrom",
            "ObjectHasValue": "hasValue",
        }[ctor]
        _rx_prop(el, OWL + filler, args[1])
        return el
    el = ET.Element(f"{{{RDF}}}Description")
    if ctor == "ObjectComplementOf":
        _rx_prop(el, OWL + "complementOf", args[0])
    elif ctor == "ObjectInverseOf":
        _rx_prop(el, OWL + "inverseOf", args[0])
    elif ctor == "ObjectIntersectionOf":
        _rx_collection(el, OWL + "intersectionOf", args)
    elif ctor == "ObjectUnionOf":
        _rx_collection(el, OWL + "unionOf", args)
    elif ctor == "ObjectOneOf":
        _rx_collection(el, OWL + "oneOf", args)
    else:
        raise RdfXmlParseError(f"cannot render expression constructor {ctor!r}")
    return el


def _rx_subject(root: ET.Element, expr: str) -> ET.Element:
    node = _rx_node(expr)
    root.append(node)
    return node


def render_rdfxml_document(rows) -> str:
    """Render axiom rows (kind, s, p, o) — or 5-tuples with a leading src —
    to an RDF/XML document. Inverse of :func:`parse_document`:
    ``parse_document(render_rdfxml_document(rows))`` is row-stable for
    every kind the reader emits (parity-tested against the reference's own
    OFN fixture, like the Turtle writer)."""
    from .ofn import _ABS_IRI_RE

    root = ET.Element(f"{{{RDF}}}RDF")
    rows = sorted(tuple(r[1:]) if len(r) == 5 else tuple(r) for r in rows)
    decl_kind = {s: o for kind, s, _, o in rows if kind == "declaration"}
    for kind, s, p, o in rows:
        if kind == "declaration":
            el = ET.SubElement(root, _DECL_TYPE_ELEM[o])
            el.set(f"{{{RDF}}}about", s)
        elif kind == "subclass_of":
            _rx_prop(_rx_subject(root, s), RDFS + "subClassOf", o)
        elif kind == "equivalent_classes":
            _rx_prop(_rx_subject(root, s), OWL + "equivalentClass", o)
        elif kind == "disjoint_classes":
            _rx_prop(_rx_subject(root, s), OWL + "disjointWith", o)
        elif kind == "sub_object_property":
            _rx_prop(_rx_subject(root, s), RDFS + "subPropertyOf", o)
        elif kind == "property_chain":
            _rx_collection(
                _rx_subject(root, o), OWL + "propertyChainAxiom", s.split(" ")
            )
        elif kind == "annotation":
            node = _rx_subject(root, s)
            if (_ABS_IRI_RE.match(o) and " " not in o and '"' not in o
                    and _iri_object_kind(s, p, o, decl_kind) == "annotation"):
                _rx_prop(node, p, o)
            else:
                ET.SubElement(node, _pred_tag(p)).text = o
        elif kind == "class_assertion":
            _rx_prop(_rx_subject(root, s), RDF + "type", o)
        elif kind == "object_property_assertion":
            _rx_prop(_rx_subject(root, s), p, o)
        else:
            raise RdfXmlParseError(f"cannot render axiom kind {kind!r}")
    ET.register_namespace("rdf", RDF)
    ET.register_namespace("rdfs", RDFS)
    ET.register_namespace("owl", OWL)
    return ET.tostring(root, encoding="unicode", xml_declaration=True)


def write_rdfxml(axioms: DataFrame, path: str) -> None:
    """Write an axiom frame as one RDF/XML file (driver-side collect — an
    ontology/TBox is dimension-scale; fact-scale triple exports go through
    ``catalog.to_ntriples``). Guarded like ``ofn.write_ofn``."""
    from .ofn import WRITE_OFN_MAX_ROWS

    n = axioms.count()
    if n > WRITE_OFN_MAX_ROWS:
        raise ValueError(
            f"write_rdfxml: {n} axiom rows exceeds the driver-collect guard "
            f"({WRITE_OFN_MAX_ROWS}) — export via catalog.to_ntriples instead"
        )
    rows = [
        (r["kind"], r["s"], r["p"], r["o"])
        for r in axioms.select("kind", "s", "p", "o").collect()
    ]
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(render_rdfxml_document(rows))
