"""Turtle / N-Triples ontology readers.

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
            if self.base and "://" not in iri and not iri.startswith("urn:"):
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


def _expr(node: str, by_s: dict, depth: int = 0) -> str:
    """Canonical expression string for a node (IRI = itself; bnode =
    reconstructed OWL expression, same canonical form as ``ofn._Node``).
    A bnode with no recognized expression vocabulary (e.g. an anonymous
    individual) resolves to its document-scoped label rather than raising."""
    if not node.startswith("_:"):
        return node
    if depth > 64:
        raise TtlParseError("expression nesting too deep (cycle?)")
    props: dict[str, str] = {}
    for p, o, _ in by_s.get(node, []):
        props[p] = o
    if OWL + "complementOf" in props:
        return f"ObjectComplementOf({_expr(props[OWL + 'complementOf'], by_s, depth + 1)})"
    if OWL + "someValuesFrom" in props:
        prop = _expr(props[OWL + "onProperty"], by_s, depth + 1)
        filler = _expr(props[OWL + "someValuesFrom"], by_s, depth + 1)
        return f"ObjectSomeValuesFrom({prop} {filler})"
    if OWL + "allValuesFrom" in props:
        prop = _expr(props[OWL + "onProperty"], by_s, depth + 1)
        filler = _expr(props[OWL + "allValuesFrom"], by_s, depth + 1)
        return f"ObjectAllValuesFrom({prop} {filler})"
    if OWL + "hasValue" in props:
        prop = _expr(props[OWL + "onProperty"], by_s, depth + 1)
        return f"ObjectHasValue({prop} {props[OWL + 'hasValue']})"
    if OWL + "intersectionOf" in props:
        parts = sorted(
            _expr(m, by_s, depth + 1)
            for m in _rdf_list(props[OWL + "intersectionOf"], by_s)
        )
        return f"ObjectIntersectionOf({' '.join(parts)})"
    if OWL + "unionOf" in props:
        parts = sorted(
            _expr(m, by_s, depth + 1) for m in _rdf_list(props[OWL + "unionOf"], by_s)
        )
        return f"ObjectUnionOf({' '.join(parts)})"
    if OWL + "inverseOf" in props:
        return f"ObjectInverseOf({_expr(props[OWL + 'inverseOf'], by_s, depth + 1)})"
    if OWL + "oneOf" in props:
        parts = sorted(
            _expr(m, by_s, depth + 1) for m in _rdf_list(props[OWL + "oneOf"], by_s)
        )
        return f"ObjectOneOf({' '.join(parts)})"
    return node


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
    decl_prop_kind: dict[str, str] = {}
    for s, p, o, _ in doc.triples:
        if p == RDF + "type" and o in _DECL_KINDS and not s.startswith("_:"):
            decl_prop_kind[s] = _DECL_KINDS[o]

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
        elif p == RDFS + "subClassOf":
            rows.append((src, "subclass_of", subj, None, _expr(o, by_s)))
        elif p == OWL + "equivalentClass":
            rows.append((src, "equivalent_classes", subj, None, _expr(o, by_s)))
        elif p == OWL + "disjointWith":
            rows.append((src, "disjoint_classes", subj, None, _expr(o, by_s)))
        elif p == RDFS + "subPropertyOf":
            rows.append((src, "sub_object_property", subj, None, _expr(o, by_s)))
        elif p == OWL + "propertyChainAxiom":
            chain = " ".join(_expr(m, by_s) for m in _rdf_list(o, by_s))
            rows.append((src, "property_chain", chain, None, subj))
        elif not o_is_iri:
            rows.append((src, "annotation", subj, p, o))
        else:
            rows.append((src, _iri_object_kind(subj, p, o, decl_prop_kind), subj, p, o))
    return rows


def _iri_object_kind(s: str, p: str, o: str, decl_kind: dict[str, str]) -> str:
    """Axiom kind of a triple whose object is an IRI, given the document's
    declarations (IRI -> declared kind). Turtle has no syntax that tells an
    IRI-valued annotation from an object-property assertion, so the reader
    decides by declarations and the writer asks the same question."""
    if decl_kind.get(p) == "ObjectProperty":
        return "object_property_assertion"
    if decl_kind.get(p) == "AnnotationProperty":
        return "annotation"
    if decl_kind.get(s) or decl_kind.get(o):
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
# Writer: axiom frame -> Turtle document (round-trips the reader)
# ---------------------------------------------------------------------------

_DECL_TYPE_TERM = {
    "Class": "owl:Class",
    "ObjectProperty": "owl:ObjectProperty",
    "DataProperty": "owl:DatatypeProperty",
    "AnnotationProperty": "owl:AnnotationProperty",
    "NamedIndividual": "owl:NamedIndividual",
}

_TTL_HEADER = (
    "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n"
    "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
    "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
)


def _quote_ttl(s: str) -> str:
    esc = (
        s.replace("\\", "\\\\").replace('"', '\\"')
        .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    )
    return f'"{esc}"'


def _term_ttl(expr: str) -> str:
    """Canonical expression string -> Turtle term. Named IRIs become
    ``<iri>``; constructed expressions become inline blank-node property
    lists (``[ a owl:Restriction ; ... ]``), nesting naturally."""
    from .ofn import _CTOR_RE, _split_args  # same canonical grammar

    m = _CTOR_RE.match(expr)
    if not m:
        return f"<{expr}>"
    ctor, body = m.group(1), m.group(2)
    args = _split_args(body) if body else []
    if ctor == "ObjectSomeValuesFrom":
        return (f"[ a owl:Restriction ; owl:onProperty {_term_ttl(args[0])} ; "
                f"owl:someValuesFrom {_term_ttl(args[1])} ]")
    if ctor == "ObjectAllValuesFrom":
        return (f"[ a owl:Restriction ; owl:onProperty {_term_ttl(args[0])} ; "
                f"owl:allValuesFrom {_term_ttl(args[1])} ]")
    if ctor == "ObjectHasValue":
        return (f"[ a owl:Restriction ; owl:onProperty {_term_ttl(args[0])} ; "
                f"owl:hasValue {_term_ttl(args[1])} ]")
    if ctor == "ObjectComplementOf":
        return f"[ owl:complementOf {_term_ttl(args[0])} ]"
    if ctor == "ObjectIntersectionOf":
        return f"[ owl:intersectionOf ( {' '.join(_term_ttl(a) for a in args)} ) ]"
    if ctor == "ObjectUnionOf":
        return f"[ owl:unionOf ( {' '.join(_term_ttl(a) for a in args)} ) ]"
    if ctor == "ObjectOneOf":
        return f"[ owl:oneOf ( {' '.join(_term_ttl(a) for a in args)} ) ]"
    if ctor == "ObjectInverseOf":
        return f"[ owl:inverseOf {_term_ttl(args[0])} ]"
    raise TtlParseError(f"cannot render expression constructor {ctor!r}")


def _value_ttl(s: str, as_iri: bool) -> str:
    """Annotation value: absolute IRI -> <iri> (same heuristic as
    ``ofn._render_value`` so both writers agree), else a quoted literal.
    An IRI value the reader would take for an object-property assertion
    (``as_iri`` False) is written as an ``xsd:anyURI`` literal, which keeps
    the lexical form and reads back as an annotation."""
    from .ofn import _ABS_IRI_RE

    if _ABS_IRI_RE.match(s) and " " not in s and '"' not in s:
        if as_iri:
            return f"<{s}>"
        return f"{_quote_ttl(s)}^^<http://www.w3.org/2001/XMLSchema#anyURI>"
    return _quote_ttl(s)


def render_turtle_document(rows) -> str:
    """Render axiom rows (kind, s, p, o) — or 5-tuples with a leading src —
    to a Turtle document. Inverse of :func:`parse_document`:
    ``parse_document(render_turtle_document(rows))`` is row-stable for
    every kind the reader emits (the OFN parity test exercises this on the
    reference's own fixture)."""
    lines = [_TTL_HEADER]
    rows = sorted(tuple(r[1:]) if len(r) == 5 else tuple(r) for r in rows)
    decl_kind = {s: o for kind, s, _, o in rows if kind == "declaration"}
    for row in rows:
        kind, s, p, o = row
        if kind == "declaration":
            lines.append(f"<{s}> a {_DECL_TYPE_TERM[o]} .")
        elif kind == "subclass_of":
            lines.append(f"{_term_ttl(s)} rdfs:subClassOf {_term_ttl(o)} .")
        elif kind == "equivalent_classes":
            lines.append(f"{_term_ttl(s)} owl:equivalentClass {_term_ttl(o)} .")
        elif kind == "disjoint_classes":
            lines.append(f"{_term_ttl(s)} owl:disjointWith {_term_ttl(o)} .")
        elif kind == "sub_object_property":
            lines.append(f"<{s}> rdfs:subPropertyOf <{o}> .")
        elif kind == "property_chain":
            chain = " ".join(f"<{x}>" for x in s.split(" "))
            lines.append(f"<{o}> owl:propertyChainAxiom ( {chain} ) .")
        elif kind == "annotation":
            as_iri = _iri_object_kind(s, p, o, decl_kind) == "annotation"
            lines.append(f"<{s}> <{p}> {_value_ttl(o, as_iri)} .")
        elif kind == "class_assertion":
            lines.append(f"<{s}> a {_term_ttl(o)} .")
        elif kind == "object_property_assertion":
            lines.append(f"<{s}> <{p}> <{o}> .")
        else:
            raise TtlParseError(f"cannot render axiom kind {kind!r}")
    return "\n".join(lines) + "\n"


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
    declarations, class assertions, annotations (literal objects), object
    property assertions. Blank-node expression scaffolding — TBox-scale —
    must come through :func:`read_turtle`/:func:`parse_document`; rows
    whose subject or object is a bnode are excluded here.
    """
    t = triples.where(
        ~F.col("subj").startswith("_:")
        & ~(F.col("obj_is_iri") & F.col("obj").startswith("_:"))
    )
    is_type = F.col("pred") == RDF + "type"
    decl_kind = F.create_map(
        *[F.lit(x) for kv in _DECL_KINDS.items() for x in kv]
    )[F.col("obj")]
    kind = (
        F.when(is_type & decl_kind.isNotNull(), F.lit("declaration"))
        .when(is_type & (F.col("obj") == OWL + "Ontology"), F.lit(None))
        .when(is_type, F.lit("class_assertion"))
        .when(F.col("pred") == RDFS + "subClassOf", F.lit("subclass_of"))
        .when(F.col("pred") == OWL + "equivalentClass", F.lit("equivalent_classes"))
        .when(F.col("pred") == OWL + "disjointWith", F.lit("disjoint_classes"))
        .when(F.col("pred") == RDFS + "subPropertyOf", F.lit("sub_object_property"))
        .when(~F.col("obj_is_iri"), F.lit("annotation"))
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
