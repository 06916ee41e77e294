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
from .ttl import _SCHEME_RE, OWL, RDF, RDFS, _Doc, axiom_triples, document_axiom_rows

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

    Absolute refs pass through: an RFC 3986 scheme, with or without an
    authority (``http://``, ``urn:``, ``mailto:``), or a "://" anywhere, as
    in the bracketed ``<http://...>`` operands the writer renders verbatim.
    ``#frag``/empty append to the base (the OWLAPI xml:base convention);
    other relative refs against a ``/``- or ``#``-terminated base
    concatenate. Any remaining relative ref is
    RFC3986-resolved with urljoin — and if no absolute IRI can be formed
    (no usable base), that is a loud parse error, never a bare relative
    string smuggled into the axiom frame."""
    if "://" in ref or _SCHEME_RE.match(ref):
        return ref
    if ref.startswith("#") or not ref:
        return base + ref
    if base.endswith(("/", "#")):
        return base + ref
    resolved = urljoin(base, ref) if base else ref
    if "://" not in resolved and not _SCHEME_RE.match(resolved):
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
# The axiom-row -> triple mapping is ttl.axiom_triples, shared with the
# Turtle writer; this only serializes its triples, one rdf:Description per
# subject (rdf:about, or rdf:nodeID for a blank node) holding one property
# element per triple (rdf:resource, rdf:nodeID, or literal text) — shapes
# the reader above consumes. The reference emits RDF/XML through OWLAPI
# (KnowledgeBaseBuilder.scala's saved ontologies are .owl files).
# ---------------------------------------------------------------------------

# longest NCName suffix of a predicate IRI — the element local name; the
# remainder is its namespace (ns + local always re-concatenates to the IRI,
# so ANY valid split point round-trips through _qname()).
_NCNAME_SUFFIX = re.compile(r"[A-Za-z_][A-Za-z0-9_.\-]*$")

# characters outside XML 1.0's Char production (no escape can carry them)
_NOT_XML_CHAR = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\ud800-\udfff\ufffe\uffff]")


def _pred_tag(iri: str) -> str:
    m = _NCNAME_SUFFIX.search(iri)
    if not m or m.start() == 0:
        raise RdfXmlParseError(
            f"predicate IRI {iri!r} has no NCName suffix usable as an XML "
            f"element name — cannot serialize to RDF/XML"
        )
    return f"{{{iri[: m.start()]}}}{iri[m.start():]}"


def _node_attr(term: str, iri_attr: str) -> dict[str, str]:
    if term.startswith("_:"):
        return {f"{{{RDF}}}nodeID": term[2:]}
    return {f"{{{RDF}}}{iri_attr}": term}


def render_rdfxml_document(rows) -> str:
    """Render axiom rows (kind, s, p, o) — or 5-tuples with a leading src —
    to an RDF/XML document of the :func:`ttl.axiom_triples` triples.
    ``parse_document(render_rdfxml_document(rows))`` is ``rows`` plus a
    ``declaration(p, ObjectProperty)`` for each object-property-assertion
    predicate not so declared, and a second round trip is exact. Raises
    ``ValueError`` for a value holding a character XML 1.0 cannot carry."""
    root = ET.Element(f"{{{RDF}}}RDF")
    nodes: dict[str, ET.Element] = {}
    for s, p, o, o_is_iri in axiom_triples(rows):
        for value in (s, p, o):
            if _NOT_XML_CHAR.search(value):
                raise ValueError(
                    f"{value!r} holds a character XML 1.0 cannot carry"
                )
        if s not in nodes:
            nodes[s] = ET.SubElement(
                root, f"{{{RDF}}}Description", _node_attr(s, "about")
            )
        if o_is_iri:
            ET.SubElement(nodes[s], _pred_tag(p), _node_attr(o, "resource"))
        else:
            ET.SubElement(nodes[s], _pred_tag(p)).text = o
    ET.register_namespace("rdf", RDF)
    ET.register_namespace("rdfs", RDFS)
    ET.register_namespace("owl", OWL)
    # a raw CR in text would read back as LF (XML end-of-line handling);
    # ElementTree already writes CR in attribute values as &#13;
    return ET.tostring(root, encoding="unicode", xml_declaration=True).replace(
        "\r", "&#13;"
    )


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
