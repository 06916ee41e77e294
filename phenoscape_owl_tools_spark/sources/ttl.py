"""Turtle / N-Triples ontology readers, and the axiom-row -> RDF mapping
behind both RDF writers.

The reference's real TBox load path is OWLAPI parsing web ontologies in
RDF serializations (``KnowledgeBaseBuilder.scala:56-68``,
``PhenoscapeKB.scala:96-153`` — ~25 OBO ontologies). The engine's OFN
reader (``sources/ofn.py``) covers the reference's own functional-syntax
fixture; this module closes the remaining ingestion gap for the RDF dump
formats a user actually has on disk (``uberon.ttl``, ``.nt`` exports):

- :func:`read_ntriples` — **line-oriented and splittable**: N-Triples is
  one statement per line by grammar, so ``spark.read.text`` splits a 100 GB
  dump into ordinary 128 MB tasks and the whole parse is JVM-side
  ``regexp_extract`` column work (no Python in the hot path). This is the
  scale path, and the inverse of ``catalog.to_ntriples`` (S9).
- :func:`read_turtle` — Turtle is prefix- and blank-node-scoped per
  *document*, so (exactly like ``ofn.read_ofn``) each file is one Arrow
  batch inside ``mapInPandas``: a directory of thousands of ontology files
  parses fully in parallel, executor-side, no driver parsing.
- :func:`axioms_from_triples` / the axiom frame returned by
  :func:`read_turtle` — the SAME normalized axiom schema as the OFN reader
  (``ofn.AXIOM_SCHEMA``: src, kind, s, p, o), with OWL class expressions
  reconstructed from their RDF reification (``owl:Restriction`` /
  ``owl:complementOf`` / ``owl:intersectionOf`` + RDF lists) into the
  engine's canonical strings — ``ObjectSomeValuesFrom(<prop> <filler>)``
  with set-valued operators sorted — so every downstream extractor
  (``subclass_edges``, ``negation_hierarchy_axioms``, ...) works on either
  reader's output unchanged.
- :func:`axiom_triples` — the inverse mapping, axiom rows -> RDF triples
  with expressions as blank nodes. :func:`render_turtle_document` and
  ``rdfxml.render_rdfxml_document`` only serialize its triples. RDF tells
  an IRI-valued annotation from an object-property assertion only by
  declarations; the readers decide with :func:`_iri_object_kind` and
  ``axiom_triples`` applies the same rule on the way out, adding an
  ``ObjectProperty`` declaration where an assertion's predicate lacks one.

Blank-node expression scaffolding is TBox-scale (thousands of rows per
ontology), orders of magnitude smaller than instance data; it is resolved
in-process per document where blank-node labels are scoped anyway.

Turtle subset: ``@prefix``/``PREFIX``/``@base``/``BASE``, ``;`` and ``,``
predicate/object lists, ``a``, IRIs, prefixed names, blank nodes (labelled
and ``[...]``), collections ``(...)``, and string/numeric/boolean literals
with ``@lang`` / ``^^datatype`` (canonical value keeps the lexical form,
matching the OFN reader's literal convention). Not supported (raises
``TtlParseError``): nested quotes beyond standard escapes in single-quoted
long strings. Unknown RDF vocabulary maps to annotation/object-property
assertion rows rather than being dropped.
"""

from __future__ import annotations

import itertools
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .ofn import AXIOM_SCHEMA

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"

_DECL_KINDS = {
    OWL + "Class": "Class",
    OWL + "ObjectProperty": "ObjectProperty",
    OWL + "DatatypeProperty": "DataProperty",
    OWL + "AnnotationProperty": "AnnotationProperty",
    OWL + "NamedIndividual": "NamedIndividual",
}


class TtlParseError(ValueError):
    pass


# ---------------------------------------------------------------------------
# N-Triples: line-oriented, JVM-side parse (the splittable scale path)
# ---------------------------------------------------------------------------

_NT_LINE = (
    r"^\s*(?:<([^<>]*)>|(_:\S+))"  # subject: IRI or bnode
    r"\s+<([^<>]*)>"  # predicate IRI
    r'\s+(?:<([^<>]*)>|(_:\S+)|"((?:[^"\\]|\\.)*)"'  # object IRI/bnode/literal
    r"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^<>]*>)?)"  # lang tag / datatype
    r"\s*\.\s*$"
)


def _sub_escapes(col: Column, regex: str, render) -> Column:
    """Regex-substitute with a COMPUTED replacement, JVM-side: split the
    string on ``regex`` (n matches -> n+1 parts), extract the n matched
    strings, render each to its replacement, interleave back. No Python
    UDF — all of split/regexp_extract_all/transform/zip_with are codegen
    column expressions."""
    parts = F.split(col, regex)
    hits = F.regexp_extract_all(col, F.lit(regex), F.lit(0))
    rendered = F.transform(hits, render)
    body = F.array_join(
        F.zip_with(
            F.slice(parts, 1, F.size(hits)), rendered, lambda p, d: F.concat(p, d)
        ),
        "",
    )
    return F.concat(body, F.element_at(parts, -1))


def _utf16be(hex4: Column) -> Column:
    """4 hex digits (one UTF-16 code unit) -> the character."""
    return F.decode(F.unhex(hex4), "UTF-16BE")


# NUL detour: a decoded U+0000 must not collide with the backslash-parking
# sentinel (\x00), so it rides on \x01 until after the unpark pass.
_NUL = "\x01"

_SURROGATE_PAIR_RE = r"\\u[dD][89abAB][0-9a-fA-F]{2}\\u[dD][c-fC-F][0-9a-fA-F]{2}"
_UCHAR8_RE = r"\\U[0-9a-fA-F]{8}"
_UCHAR4_RE = r"\\u[0-9a-fA-F]{4}"


def _decode_numeric_escapes(col: Column) -> Column:
    """Decode N-Triples UCHAR escapes (``\\uXXXX`` / ``\\UXXXXXXXX``,
    grammar-required; emitted by Jena/rdflib in ASCII mode) as column
    expressions. Must run AFTER ``\\\\`` parking (so a parked literal
    backslash + 'u' is never mistaken for an escape) and AFTER the short
    escapes (so a decoded backslash, ``\\u005C``, cannot re-trigger them).

    Order inside: surrogate PAIRS first (two adjacent ``\\u`` units decode
    as one UTF-16BE sequence — Jena writes astral chars this way), then
    8-hex ``\\U`` (code points > U+FFFF become an explicit surrogate pair
    before the UTF-16BE decode), then remaining lone 4-hex ``\\u``."""

    def guard_nul(c: Column) -> Column:
        return F.when(c == "\x00", F.lit(_NUL)).otherwise(c)

    col = _sub_escapes(
        col,
        _SURROGATE_PAIR_RE,
        lambda m: _utf16be(F.concat(F.substring(m, 3, 4), F.substring(m, 9, 4))),
    )

    def render_u8(m: Column) -> Column:
        cp = F.conv(F.substring(m, 3, 8), 16, 10).cast("long")
        off = cp - 0x10000
        hi = F.lit(0xD800) + F.shiftright(off, 10)
        lo = F.lit(0xDC00) + off.bitwiseAND(F.lit(0x3FF))
        pair = F.concat(
            F.lpad(F.hex(hi), 4, "0"), F.lpad(F.hex(lo), 4, "0")
        )
        bmp = F.lpad(F.hex(cp), 4, "0")
        return guard_nul(_utf16be(F.when(cp > 0xFFFF, pair).otherwise(bmp)))

    col = _sub_escapes(col, _UCHAR8_RE, render_u8)
    return _sub_escapes(
        col, _UCHAR4_RE, lambda m: guard_nul(_utf16be(F.substring(m, 3, 4)))
    )


def _unescape(col: Column) -> Column:
    """N-Triples STRING_LITERAL_QUOTED unescape (exact inverse of
    ``catalog.to_ntriples``, plus the grammar's numeric UCHAR forms).
    Escaped backslashes are parked on a sentinel FIRST so ``\\\\n``
    (literal backslash + n) is not mistaken for a newline escape —
    sequential regexp passes are only a correct scan when ``\\\\`` is
    taken out of play before the short escapes. Numeric ``\\u``/``\\U``
    decode is guarded behind a cheap rlike so the common no-UCHAR literal
    pays nothing beyond the existing passes."""
    col = F.regexp_replace(col, r"\\\\", "\x00")  # regex \\\\ = 2 backslash chars
    for pat, rep in (
        (r"\\n", "\n"),
        (r"\\r", "\r"),
        (r"\\t", "\t"),
        (r"\\\"", '"'),
        (r"\\b", "\x08"),  # remaining ECHARs: not emitted by to_ntriples,
        (r"\\f", "\x0c"),  # but grammar-legal in external dumps
        (r"\\'", "'"),
    ):
        col = F.regexp_replace(col, pat, rep)
    col = F.when(col.rlike(r"\\[uU]"), _decode_numeric_escapes(col)).otherwise(col)
    # Java replaceAll replacement: "\\\\" emits one literal backslash
    col = F.regexp_replace(col, "\x00", "\\\\")
    return F.regexp_replace(col, _NUL, "\x00")


def parse_ntriples_lines(lines: DataFrame) -> DataFrame:
    """(value: string) lines -> (subj, pred, obj, obj_is_iri) triples.

    Pure stateless column expressions, so it applies identically to a
    batch ``spark.read.text`` frame or a ``readStream.text`` frame (the
    continuous-ingest path in ``streaming.ingest``)."""
    data = lines.where(
        (F.trim("value") != "") & ~F.trim("value").startswith("#")
    )
    ext = lambda i: F.regexp_extract("value", _NT_LINE, i)  # noqa: E731
    parsed = data.select(
        F.when(ext(1) != "", ext(1)).otherwise(ext(2)).alias("subj"),
        ext(3).alias("pred"),
        ext(4).alias("_oiri"),
        ext(5).alias("_obn"),
        _unescape(ext(6)).alias("_olit"),
        (ext(3) == "").alias("_bad"),
    )
    guarded = parsed.select(
        F.when(
            ~F.col("_bad"), F.col("subj")
        ).otherwise(F.raise_error(F.concat(F.lit("bad N-Triples line near <"), F.col("subj"), F.lit(">")))).alias("subj"),
        "pred",
        F.when(F.col("_oiri") != "", F.col("_oiri"))
        .when(F.col("_obn") != "", F.col("_obn"))
        .otherwise(F.col("_olit"))
        .alias("obj"),
        ((F.col("_oiri") != "") | (F.col("_obn") != "")).alias("obj_is_iri"),
    )
    return guarded


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """N-Triples file(s) -> (subj, pred, obj, obj_is_iri) triples frame.

    Splittable line-oriented scan; all parsing is ``regexp_extract``
    column work (whole-stage codegen, no Python). Comment/blank lines are
    dropped; malformed statement lines raise at action time via the guard
    column (garbage in a 100 GB dump should fail loudly, not vanish).
    """
    return parse_ntriples_lines(spark.read.text(path))


# ---------------------------------------------------------------------------
# Turtle tokenizer / statement parser (runs inside mapInPandas)
# ---------------------------------------------------------------------------

_TTL_TOKEN = re.compile(
    r"""
    (?P<comment>\#[^\n]*)
  | (?P<iri><[^<>\s]*>)
  | (?P<long3>\"\"\"(?:[^"\\]|\\.|"(?!"")|""(?!"))*\"\"\")
  | (?P<string>"(?:[^"\\\n]|\\.)*")
  | (?P<sstring>'(?:[^'\\\n]|\\.)*')
  | (?P<lang>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<dtype>\^\^)
  | (?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<punct>[;,.\[\]()])
  | (?P<bnode>_:[A-Za-z0-9_.-]+)
  | (?P<pname>[A-Za-z0-9_-]*:[A-Za-z0-9_.%-]*)
  | (?P<kw>@?[A-Za-z][A-Za-z0-9_-]*)
  | (?P<ws>\s+)
    """,
    re.VERBOSE,
)

_STR_ESC = {
    "n": "\n", "r": "\r", "t": "\t", '"': '"', "'": "'", "\\": "\\",
    "b": "\b", "f": "\f",
}


def _unescape_py(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt in _STR_ESC:
                out.append(_STR_ESC[nxt])
                i += 2
                continue
            if nxt in "uU":
                width = 4 if nxt == "u" else 8
                out.append(chr(int(s[i + 2 : i + 2 + width], 16)))
                i += 2 + width
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _tokenize(text: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(text):
        m = _TTL_TOKEN.match(text, pos)
        if not m:
            raise TtlParseError(f"bad Turtle at offset {pos}: {text[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        toks.append((kind, m.group()))
    return toks


# an IRI that opens with an RFC 3986 scheme is absolute; @base resolves
# only the others
_SCHEME_RE = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")


class _Doc:
    """One Turtle document: prefix scope + raw (s, p, o, o_is_iri) triples
    with document-scoped blank-node ids."""

    def __init__(self) -> None:
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.triples: list[tuple[str, str, str, bool]] = []
        self._gen = 0

    def fresh_bnode(self) -> str:
        self._gen += 1
        return f"_:g{self._gen}"

    def resolve(self, tok: tuple[str, str]) -> str:
        kind, val = tok
        if kind == "iri":
            iri = val[1:-1]
            if self.base and not _SCHEME_RE.match(iri):
                return self.base + iri
            return iri
        if kind == "pname":
            pfx, _, local = val.partition(":")
            base = self.prefixes.get(pfx)
            if base is None:
                raise TtlParseError(f"undeclared prefix {pfx!r}:")
            return base + local
        if kind == "bnode":
            return val
        raise TtlParseError(f"expected IRI term, got {val!r}")


def _parse_object(doc: _Doc, toks: list, i: int) -> tuple[str, bool, int]:
    """One object term -> (value, is_iri_or_bnode, next_index)."""
    kind, val = toks[i]
    if kind in ("iri", "pname", "bnode"):
        return doc.resolve(toks[i]), True, i + 1
    if kind in ("string", "sstring", "long3"):
        body = val[3:-3] if kind == "long3" else val[1:-1]
        lit = _unescape_py(body)
        j = i + 1
        if j < len(toks) and toks[j][0] == "lang":
            j += 1  # language tag dropped from canonical value (OFN parity)
        elif j + 1 < len(toks) and toks[j][0] == "dtype":
            j += 2  # ^^datatype — keep lexical form
        return lit, False, j
    if kind == "num":
        return val, False, i + 1
    if kind == "kw" and val in ("true", "false"):
        return val, False, i + 1
    if kind == "punct" and val == "[":
        node = doc.fresh_bnode()
        j = i + 1
        if toks[j] != ("punct", "]"):
            j = _parse_predicate_object_list(doc, node, toks, j)
        if toks[j] != ("punct", "]"):
            raise TtlParseError("unterminated blank-node property list")
        return node, True, j + 1
    if kind == "punct" and val == "(":
        # collection -> rdf:first/rdf:rest chain
        items, j = [], i + 1
        while toks[j] != ("punct", ")"):
            v, _, j = _parse_object(doc, toks, j)
            items.append(v)
        head = RDF + "nil"
        for item in reversed(items):
            cell = doc.fresh_bnode()
            doc.triples.append((cell, RDF + "first", item, True))
            doc.triples.append((cell, RDF + "rest", head, True))
            head = cell
        return head, True, j + 1
    raise TtlParseError(f"unexpected object token {val!r}")


def _parse_predicate_object_list(doc: _Doc, subj: str, toks: list, i: int) -> int:
    while True:
        kind, val = toks[i]
        if kind == "kw" and val == "a":
            pred = RDF + "type"
            i += 1
        else:
            pred = doc.resolve(toks[i])
            i += 1
        while True:
            obj, is_iri, i = _parse_object(doc, toks, i)
            doc.triples.append((subj, pred, obj, is_iri))
            if i < len(toks) and toks[i] == ("punct", ","):
                i += 1
                continue
            break
        if i < len(toks) and toks[i] == ("punct", ";"):
            i += 1
            if i < len(toks) and toks[i][0] == "punct" and toks[i][1] in ".]":
                return i  # trailing semicolon
            continue
        return i


def parse_turtle(text: str) -> _Doc:
    """Parse one Turtle document into raw triples (pure Python, testable)."""
    doc = _Doc()
    toks = _tokenize(text)
    i = 0
    while i < len(toks):
        kind, val = toks[i]
        if kind in ("kw", "lang") and val.lower() in ("@prefix", "prefix"):
            pname = toks[i + 1][1]
            doc.prefixes[pname[:-1] if pname.endswith(":") else pname.partition(":")[0]] = toks[i + 2][1][1:-1]
            i += 3
            if i < len(toks) and toks[i] == ("punct", "."):
                i += 1
            continue
        if kind in ("kw", "lang") and val.lower() in ("@base", "base"):
            doc.base = toks[i + 1][1][1:-1]
            i += 2
            if i < len(toks) and toks[i] == ("punct", "."):
                i += 1
            continue
        # subject
        if kind == "punct" and val == "[":
            subj, _, i = _parse_object(doc, toks, i)
        else:
            subj = doc.resolve(toks[i])
            i += 1
        i = _parse_predicate_object_list(doc, subj, toks, i)
        if i >= len(toks) or toks[i] != ("punct", "."):
            raise TtlParseError("statement not terminated by '.'")
        i += 1
    return doc


# ---------------------------------------------------------------------------
# RDF reification -> canonical OWL expression strings
# ---------------------------------------------------------------------------

def _index(triples) -> dict[str, list[tuple[str, str, bool]]]:
    by_s: dict[str, list[tuple[str, str, bool]]] = {}
    for s, p, o, is_iri in triples:
        by_s.setdefault(s, []).append((p, o, is_iri))
    return by_s


def _rdf_list(node: str, by_s: dict) -> list[str]:
    out = []
    seen = set()
    while node != RDF + "nil":
        if node in seen:
            raise TtlParseError("cyclic RDF list")
        seen.add(node)
        props = dict((p, o) for p, o, _ in by_s.get(node, []))
        if RDF + "first" not in props:
            raise TtlParseError(f"malformed RDF list at {node}")
        out.append(props[RDF + "first"])
        node = props.get(RDF + "rest", RDF + "nil")
    return out


# OWL class/property expression constructor -> the predicate that carries it
# on its blank node; the reader and the writer both read this table.
_CTOR_PRED = {
    "ObjectComplementOf": OWL + "complementOf",
    "ObjectSomeValuesFrom": OWL + "someValuesFrom",
    "ObjectAllValuesFrom": OWL + "allValuesFrom",
    "ObjectHasValue": OWL + "hasValue",
    "ObjectIntersectionOf": OWL + "intersectionOf",
    "ObjectUnionOf": OWL + "unionOf",
    "ObjectInverseOf": OWL + "inverseOf",
    "ObjectOneOf": OWL + "oneOf",
}
_RESTRICTION_CTORS = {"ObjectSomeValuesFrom", "ObjectAllValuesFrom", "ObjectHasValue"}
_LIST_CTORS = {"ObjectIntersectionOf", "ObjectUnionOf", "ObjectOneOf"}


def _expr(node: str, by_s: dict, depth: int = 0) -> str:
    """Canonical expression string for a node (IRI = itself; bnode =
    reconstructed OWL expression, same canonical form as ``ofn._Node``,
    with the list constructors' operands sorted).
    A bnode with no recognized expression vocabulary (e.g. an anonymous
    individual) resolves to its document-scoped label rather than raising."""
    if not node.startswith("_:"):
        return node
    if depth > 64:
        raise TtlParseError("expression nesting too deep (cycle?)")
    props: dict[str, str] = {}
    for p, o, _ in by_s.get(node, []):
        props[p] = o
    for ctor, pred in _CTOR_PRED.items():
        if pred not in props:
            continue
        if ctor in _LIST_CTORS:
            args = sorted(_expr(m, by_s, depth + 1) for m in _rdf_list(props[pred], by_s))
        else:
            args = [_expr(props[pred], by_s, depth + 1)]
        if ctor in _RESTRICTION_CTORS:
            args.insert(0, _expr(props[OWL + "onProperty"], by_s, depth + 1))
        return f"{ctor}({' '.join(args)})"
    return node


# the four axiom kinds that are one triple between two class/property terms;
# the writer and both readers read this dict
_PRED_KIND = {
    RDFS + "subClassOf": "subclass_of",
    OWL + "equivalentClass": "equivalent_classes",
    OWL + "disjointWith": "disjoint_classes",
    RDFS + "subPropertyOf": "sub_object_property",
}

_META_TYPES = set(_DECL_KINDS) | {
    OWL + "Ontology",
    OWL + "Restriction",
    OWL + "AllDisjointClasses",
    OWL + "Axiom",
    RDF + "List",
}


def document_axiom_rows(doc: _Doc, src: str = "") -> list[tuple]:
    """Map one document's raw triples to normalized axiom rows
    (``ofn.AXIOM_SCHEMA`` conventions — see ``ofn._axiom_rows``)."""
    by_s = _index(doc.triples)
    decls: dict[str, set[str]] = {}
    for s, p, o, _ in doc.triples:
        if p == RDF + "type" and o in _DECL_KINDS and not s.startswith("_:"):
            decls.setdefault(s, set()).add(_DECL_KINDS[o])

    rows: list[tuple] = []
    _EXPR_VOCAB = {
        RDF + "first", RDF + "rest", OWL + "onProperty",
        OWL + "someValuesFrom", OWL + "allValuesFrom", OWL + "hasValue",
        OWL + "complementOf", OWL + "intersectionOf", OWL + "unionOf",
        OWL + "inverseOf", OWL + "oneOf", OWL + "members",
        OWL + "propertyChainAxiom",
    }
    expression_subject_bnodes = set()
    # bnodes carrying expression scaffolding (expression vocabulary or list
    # cells). Their SCAFFOLD triples produce no axiom rows — but an axiom
    # predicate from such a bnode (a GCI like `[ owl:intersectionOf (...) ]
    # rdfs:subClassOf :X`) IS an axiom and falls through with the subject
    # reconstructed to its canonical expression string.
    for s, p, o, _ in doc.triples:
        if p in _EXPR_VOCAB and s.startswith("_:"):
            expression_subject_bnodes.add(s)

    for s, p, o, o_is_iri in doc.triples:
        if s.startswith("_:") and s in expression_subject_bnodes:
            props = dict((pp, oo) for pp, oo, _ in by_s.get(s, []))
            if props.get(RDF + "type") == OWL + "AllDisjointClasses" and p == OWL + "members":
                members = [_expr(m, by_s) for m in _rdf_list(o, by_s)]
                for a in range(len(members)):
                    for b in range(a + 1, len(members)):
                        rows.append((src, "disjoint_classes", members[a], None, members[b]))
                continue
            if p in _EXPR_VOCAB or p == RDF + "type":
                continue  # scaffolding triple
        subj = _expr(s, by_s) if s.startswith("_:") else s
        if p == RDF + "type":
            if o in _DECL_KINDS:
                rows.append((src, "declaration", subj, None, _DECL_KINDS[o]))
            elif o == OWL + "Ontology" or o in _META_TYPES:
                continue
            else:
                rows.append((src, "class_assertion", subj, None, _expr(o, by_s)))
        elif p in _PRED_KIND:
            rows.append((src, _PRED_KIND[p], subj, None, _expr(o, by_s)))
        elif p == OWL + "propertyChainAxiom":
            chain = " ".join(_expr(m, by_s) for m in _rdf_list(o, by_s))
            rows.append((src, "property_chain", chain, None, subj))
        elif not o_is_iri:
            rows.append((src, "annotation", subj, p, o))
        else:
            rows.append((src, _iri_object_kind(subj, p, o, decls), subj, p, o))
    return rows


def _iri_object_kind(s: str, p: str, o: str, decls: dict[str, set[str]]) -> str:
    """Axiom kind of a triple whose object is an IRI, given the document's
    declarations (IRI -> the set of kinds it is declared as; a punned IRI
    has several). RDF has no syntax that tells an IRI-valued annotation
    from an object-property assertion, so the readers decide by
    declarations and :func:`axiom_triples` asks the same question.
    ``axioms_from_triples`` states the same rule as a column expression."""
    if "ObjectProperty" in decls.get(p, ()):
        return "object_property_assertion"
    if "AnnotationProperty" in decls.get(p, ()):
        return "annotation"
    if s in decls or o in decls:
        # undeclared predicate between declared entities: annotation-ish
        return "annotation"
    return "object_property_assertion"


def parse_document(text: str, src: str = "") -> list[tuple]:
    """One Turtle document -> normalized axiom rows (pure Python)."""
    return document_axiom_rows(parse_turtle(text), src=src)


def read_turtle(spark: SparkSession, path: str) -> DataFrame:
    """Read ``.ttl`` file(s) into the normalized axiom DataFrame
    (``ofn.AXIOM_SCHEMA``). One Arrow batch per document, executor-side
    parsing, blank-node scope = document scope (exactly ``ofn.read_ofn``'s
    layout — thousands of ontology files parse in parallel)."""
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
# Writers: axiom rows -> RDF triples (the inverse of document_axiom_rows),
# serialized by render_turtle_document here and rdfxml.render_rdfxml_document
# ---------------------------------------------------------------------------

_DECL_IRI = {kind: iri for iri, kind in _DECL_KINDS.items()}
_KIND_PRED = {kind: pred for pred, kind in _PRED_KIND.items()}

# an annotation value every RDF reader here keeps verbatim as an IRI object
# (rdfxml._resolve takes only "scheme://..." and "urn:..." as absolute)
_IRI_VALUE_RE = re.compile(r"(?:[A-Za-z][A-Za-z0-9+.-]*://|urn:)[^\s<>\"{}|^`\\]*")


def axiom_triples(rows) -> list[tuple[str, str, str, bool]]:
    """Axiom rows (kind, s, p, o) — or 5-tuples with a leading src — to RDF
    triples (s, p, o, o_is_iri), the exact inverse of
    :func:`document_axiom_rows`. Class and property expressions become
    ``_:bN`` blank nodes and operand lists ``rdf:first``/``rdf:rest``
    cells.

    RDF tells an IRI-valued annotation from an object-property assertion
    only by declarations (:func:`_iri_object_kind`), so this is the one
    place that rule is applied on the way out: every object-property
    assertion predicate not declared ``ObjectProperty`` gets that
    declaration added, and an IRI-valued annotation is written as an IRI
    only when the reader would read it back as an annotation against the
    declarations (added ones included); otherwise it is a plain literal.
    Hence ``document_axiom_rows(axiom_triples(rows))`` is ``rows`` plus
    the added declarations, and a second round trip is exact. Raises
    ``ValueError`` for an object-property assertion through a property
    declared ``AnnotationProperty`` and not ``ObjectProperty``."""
    from .ofn import _CTOR_RE, _split_args

    rows = sorted(tuple(r[1:]) if len(r) == 5 else tuple(r) for r in rows)
    decls: dict[str, set[str]] = {}
    for kind, s, _, o in rows:
        if kind == "declaration":
            decls.setdefault(s, set()).add(o)
    undeclared = sorted({
        p for kind, _, p, _ in rows
        if kind == "object_property_assertion" and "ObjectProperty" not in decls.get(p, ())
    })
    for p in undeclared:
        if "AnnotationProperty" in decls.get(p, ()):
            raise ValueError(
                f"object_property_assertion through {p!r}, which is declared "
                "an AnnotationProperty: RDF keeps the assertion only by "
                "declaring it an ObjectProperty too"
            )
        decls.setdefault(p, set()).add("ObjectProperty")
        rows.append(("declaration", p, None, "ObjectProperty"))

    triples: list[tuple[str, str, str, bool]] = []
    labels = itertools.count()

    def bnode() -> str:
        return f"_:b{next(labels)}"

    def rdf_list(items: list[str]) -> str:
        head = RDF + "nil"
        for item in reversed(items):
            cell = bnode()
            triples.append((cell, RDF + "first", item, True))
            triples.append((cell, RDF + "rest", head, True))
            head = cell
        return head

    def node(expr: str) -> str:
        m = _CTOR_RE.match(expr)
        if not m:
            return expr
        ctor = m.group(1)
        if ctor not in _CTOR_PRED:
            raise ValueError(f"cannot write expression constructor {ctor!r}")
        args = [node(a) for a in _split_args(m.group(2))]
        obj = rdf_list(args) if ctor in _LIST_CTORS else args[-1]
        b = bnode()
        if ctor in _RESTRICTION_CTORS:
            triples.append((b, RDF + "type", OWL + "Restriction", True))
            triples.append((b, OWL + "onProperty", args[0], True))
        triples.append((b, _CTOR_PRED[ctor], obj, True))
        return b

    for kind, s, p, o in rows:
        if kind == "declaration":
            triples.append((s, RDF + "type", _DECL_IRI[o], True))
        elif kind in _KIND_PRED:
            triples.append((node(s), _KIND_PRED[kind], node(o), True))
        elif kind == "property_chain":
            chain = rdf_list([node(x) for x in _split_args(s)])
            triples.append((o, OWL + "propertyChainAxiom", chain, True))
        elif kind == "class_assertion":
            triples.append((s, RDF + "type", node(o), True))
        elif kind == "object_property_assertion":
            triples.append((s, p, o, True))
        elif kind == "annotation":
            as_iri = bool(_IRI_VALUE_RE.fullmatch(o)) and (
                _iri_object_kind(s, p, o, decls) == "annotation")
            triples.append((s, p, o, as_iri))
        else:
            raise ValueError(f"cannot write axiom kind {kind!r}")
    return triples


def _quote_ttl(s: str) -> str:
    esc = (
        s.replace("\\", "\\\\").replace('"', '\\"')
        .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    )
    return f'"{esc}"'


def render_turtle_document(rows) -> str:
    """Render axiom rows (kind, s, p, o) — or 5-tuples with a leading src —
    to a Turtle document of one N-Triples-compatible line per
    :func:`axiom_triples` triple. ``parse_document(render_turtle_document(
    rows))`` is ``rows`` plus a ``declaration(p, ObjectProperty)`` for each
    object-property-assertion predicate not so declared, and a second
    round trip is exact."""

    def term(x: str, is_iri: bool) -> str:
        if not is_iri:
            return _quote_ttl(x)
        return x if x.startswith("_:") else f"<{x}>"

    return "".join(
        f"{term(s, True)} <{p}> {term(o, is_iri)} .\n"
        for s, p, o, is_iri in axiom_triples(rows)
    )


def write_turtle(axioms: DataFrame, path: str) -> None:
    """Write an axiom frame as one Turtle file (driver-side collect — an
    ontology/TBox is dimension-scale; fact-scale triple exports go through
    ``catalog.to_ntriples``). Guarded like ``ofn.write_ofn``."""
    from .ofn import WRITE_OFN_MAX_ROWS

    n = axioms.count()
    if n > WRITE_OFN_MAX_ROWS:
        raise ValueError(
            f"write_turtle: {n} axiom rows exceeds the driver-collect guard "
            f"({WRITE_OFN_MAX_ROWS}) — export via catalog.to_ntriples instead"
        )
    rows = [(r["kind"], r["s"], r["p"], r["o"]) for r in
            axioms.select("kind", "s", "p", "o").collect()]
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(render_turtle_document(rows))


def axioms_from_triples(triples: DataFrame, src: str = "") -> DataFrame:
    """Distributed named-node triples -> axiom frame (for N-Triples dumps).

    Works purely relationally on NAMED nodes (whole-stage codegen ``when``
    chains, no Python): subclass/equivalent/disjoint/subproperty edges,
    declarations, class assertions, annotations and object property
    assertions. A triple with an IRI object is classified by the frame's
    declarations with the rule of :func:`_iri_object_kind`: each IRI's
    declared kinds are one ``collect_set`` (TBox-scale), broadcast-joined
    on the predicate, subject and object. Blank-node expression
    scaffolding — TBox-scale — must come through
    :func:`read_turtle`/:func:`parse_document`; rows whose subject or
    object is a bnode are excluded here.
    """
    t = triples.where(
        ~F.col("subj").startswith("_:")
        & ~(F.col("obj_is_iri") & F.col("obj").startswith("_:"))
    )
    is_type = F.col("pred") == RDF + "type"

    def lookup(d: dict) -> Column:
        return F.create_map(*[F.lit(x) for kv in d.items() for x in kv])

    decl_kind = lookup(_DECL_KINDS)[F.col("obj")]
    decls = t.where(is_type & decl_kind.isNotNull()).groupBy("subj").agg(
        F.collect_set(decl_kind).alias("kinds")
    )
    for col in ("pred", "subj", "obj"):
        d = F.broadcast(decls.select(
            F.col("subj").alias("_key"), F.col("kinds").alias(f"{col}_kinds")
        ))
        t = t.join(d, F.col(col) == F.col("_key"), "left").drop("_key")
    pred_kind = lookup(_PRED_KIND)[F.col("pred")]
    kind = (
        F.when(is_type & decl_kind.isNotNull(), F.lit("declaration"))
        .when(is_type & (F.col("obj") == OWL + "Ontology"), F.lit(None))
        .when(is_type, F.lit("class_assertion"))
        .when(pred_kind.isNotNull(), pred_kind)
        .when(~F.col("obj_is_iri"), F.lit("annotation"))
        .when(F.array_contains("pred_kinds", "ObjectProperty"),
              F.lit("object_property_assertion"))
        .when(F.array_contains("pred_kinds", "AnnotationProperty"), F.lit("annotation"))
        .when(F.col("subj_kinds").isNotNull() | F.col("obj_kinds").isNotNull(),
              F.lit("annotation"))
        .otherwise(F.lit("object_property_assertion"))
    )
    p_col = F.when(
        kind.isin("annotation", "object_property_assertion"), F.col("pred")
    )
    o_col = (
        F.when(kind == "declaration", decl_kind)
        .otherwise(F.col("obj"))
    )
    return (
        t.select(
            F.lit(src).alias("src"),
            kind.alias("kind"),
            F.col("subj").alias("s"),
            p_col.alias("p"),
            o_col.alias("o"),
        )
        .where(F.col("kind").isNotNull())
    )
