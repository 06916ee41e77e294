"""OWL functional-syntax (OFN) ontology reader.

The reference loads real ontology files through the OWLAPI
(``NegationHierarchyAsserter.scala:19-20`` loads an ``.ofn`` document;
``KnowledgeBaseBuilder.scala`` loads OWL ontologies generally). This module
reads the functional-syntax subset those tools exercise and lands it as a
normalized **axiom DataFrame** that plugs straight into the engine's
relational operators (``operators/negation.py``, ``operators/closure.py``).

Supported axiom forms (everything in the reference's shipped ``.ofn``
fixture plus the shapes its generators consume):

- ``Prefix(p:=<iri>)`` declarations (resolved during parse, not emitted),
- ``Declaration(Class|ObjectProperty|DataProperty|AnnotationProperty|
  NamedIndividual(..))``,
- ``SubClassOf(C D)``, ``EquivalentClasses(C1 .. Cn)``,
  ``DisjointClasses(C1 .. Cn)``,
- ``SubObjectPropertyOf(p q)`` and
  ``SubObjectPropertyOf(ObjectPropertyChain(p1 .. pn) q)``,
- ``ClassAssertion(C i)``, ``ObjectPropertyAssertion(p i j)``,
- ``AnnotationAssertion(p s v)`` with IRI or literal values
  (``"lit"``, ``"lit"@lang``, ``"lit"^^xsd:type``),
- class expressions ``ObjectSomeValuesFrom``, ``ObjectComplementOf``,
  ``ObjectIntersectionOf``, ``ObjectUnionOf`` (nested arbitrarily).

Anonymous class expressions are carried as **canonical strings** in the
engine's convention — ``ObjectSomeValuesFrom(<prop> <filler>)`` with
space-separated args and set-valued operators sorted — the same form
``operators/negation.py`` joins on and ``functions/iri.py`` hashes into
content-derived expression IRIs (``ExpressionUtil.nameForExpression``).

Scale design: ``spark.read.text(..., wholetext=True)`` yields one row per
ontology document; axiom splitting (a linear depth-0 paren scan) and
recursive-descent parsing run *inside* ``mapInPandas`` — Arrow-batched,
one task per file, no driver-side parsing. A directory of thousands of
ontology files parses fully in parallel; a single file is one task, which
matches the document model (an ontology is one consistent prefix scope).

n-ary ``EquivalentClasses``/``DisjointClasses`` are emitted pairwise
(i<j, argument order preserved) — the relational form of OWLAPI's
axiom-set semantics used by ``NegationHierarchyAsserter.scala:29-49``.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

AXIOM_SCHEMA = "src string, kind string, s string, p string, o string"

_TOKEN = re.compile(
    r"""
    (?P<iri><[^<>\s]*>)
  | (?P<string>"(?:[^"\\]|\\.)*")
  | (?P<lang>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<dtype>\^\^)
  | (?P<lpar>\()
  | (?P<rpar>\))
  | (?P<eq>:=|=)
  | (?P<pname>[A-Za-z_][\w.-]*:[\w.-]*|:[\w.-]+)
  | (?P<word>[A-Za-z_][\w.-]*)
    """,
    re.VERBOSE,
)

# class-expression constructors with set semantics (args order-insensitive
# in OWLAPI) — canonicalized by sorting; SomeValuesFrom/ComplementOf keep
# positional order.
_SET_CTORS = {"ObjectIntersectionOf", "ObjectUnionOf", "ObjectOneOf",
              "DisjointClasses", "EquivalentClasses"}


class OfnParseError(ValueError):
    pass


def _tokenize(text: str) -> Iterator[tuple[str, str]]:
    pos, n = 0, len(text)
    while pos < n:
        ch = text[pos]
        if ch in " \t\r\n":
            pos += 1
            continue
        if ch == "#":  # line comment
            nl = text.find("\n", pos)
            pos = n if nl < 0 else nl + 1
            continue
        m = _TOKEN.match(text, pos)
        if not m:
            raise OfnParseError(f"bad token at {pos}: {text[pos:pos+40]!r}")
        yield m.lastgroup, m.group()
        pos = m.end()


def _split_axioms(text: str) -> tuple[dict[str, str], list[list]]:
    """Split a document into (prefixes, top-level axiom token lists).

    Linear scan; ``Ontology(...)`` wrapping is unwrapped, ``Prefix``
    declarations collected, every other depth-0 ``Name(...)`` chunk
    returned as its (kind, value) token slice for the recursive parser —
    no re-tokenization in ``parse_document``.
    """
    prefixes: dict[str, str] = {}
    axioms: list[list] = []
    toks = list(_tokenize(text))
    i, n = 0, len(toks)
    while i < n:
        kind, val = toks[i]
        if kind == "word" and val == "Prefix":
            # Prefix(p:=<iri>) tokenizes as [Prefix ( pname(p:) eq(=) iri )];
            # the empty prefix Prefix(:=<iri>) as [Prefix ( eq(:=) iri )].
            if i + 1 >= n or toks[i + 1][0] != "lpar":
                raise OfnParseError("malformed Prefix declaration")
            j = i + 2
            if toks[j][0] == "pname":
                pname = toks[j][1]
                j += 1
            elif toks[j][0] == "eq" and toks[j][1] == ":=":
                pname = ":"
            else:
                raise OfnParseError("malformed Prefix declaration")
            if toks[j][0] == "eq":
                j += 1
            if toks[j][0] != "iri" or toks[j + 1][0] != "rpar":
                raise OfnParseError("malformed Prefix declaration")
            prefixes[pname] = toks[j][1][1:-1]
            i = j + 2
            continue
        if kind == "word" and val == "Ontology":
            i += 1  # unwrap: skip name + IRI tokens until matching content
            if i < n and toks[i][0] == "lpar":
                i += 1
                # optional ontology IRI / version IRI — full or abbreviated
                # (a prefixed name is a valid ontology IRI here too)
                while i < n and toks[i][0] in ("iri", "pname"):
                    i += 1
            continue
        if kind == "word":
            # collect Name ( ... ) at depth 0
            j = i + 1
            if j < n and toks[j][0] == "lpar":
                depth = 0
                start = i
                while j < n:
                    if toks[j][0] == "lpar":
                        depth += 1
                    elif toks[j][0] == "rpar":
                        depth -= 1
                        if depth == 0:
                            break
                    j += 1
                if depth != 0:
                    raise OfnParseError(f"unbalanced parens in axiom {val}")
                axioms.append(toks[start:j + 1])
                i = j + 1
                continue
        if kind == "rpar":  # closing Ontology(...)
            i += 1
            continue
        raise OfnParseError(f"unexpected top-level token {val!r}")
    return prefixes, axioms


def _resolve(tok: tuple[str, str], prefixes: dict[str, str]) -> str:
    kind, val = tok
    if kind == "iri":
        return val[1:-1]
    if kind == "pname":
        pfx, _, local = val.partition(":")
        base = prefixes.get(pfx + ":")
        if base is None:
            raise OfnParseError(f"undeclared prefix {pfx!r}")
        return base + local
    raise OfnParseError(f"expected IRI, got {val!r}")


class _Node:
    """Parsed s-expression: either an entity IRI / literal (leaf) or
    (ctor, args)."""

    __slots__ = ("ctor", "args", "leaf")

    def __init__(self, ctor=None, args=None, leaf=None):
        self.ctor, self.args, self.leaf = ctor, args, leaf

    def canonical(self) -> str:
        if self.leaf is not None:
            return self.leaf
        parts = [a.canonical() for a in self.args]
        if self.ctor in _SET_CTORS:
            parts = sorted(parts)
        return f"{self.ctor}({' '.join(parts)})"

    @property
    def is_named(self) -> bool:
        return self.leaf is not None


def _parse_sexpr(toks: list, i: int, prefixes: dict[str, str]) -> tuple[_Node, int]:
    kind, val = toks[i]
    if kind in ("iri", "pname"):
        return _Node(leaf=_resolve(toks[i], prefixes)), i + 1
    if kind == "string":
        lit = val[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        j = i + 1
        if j < len(toks) and toks[j][0] == "lang":
            lit = lit  # language tag dropped from canonical value, kept raw
            j += 1
        elif j + 1 < len(toks) and toks[j][0] == "dtype":
            j += 2  # ^^ datatype — value keeps the lexical form
        return _Node(leaf=lit), j
    if kind == "word":
        ctor = val
        if toks[i + 1][0] != "lpar":
            # bare keyword used as entity (not expected in practice)
            return _Node(leaf=val), i + 1
        args = []
        j = i + 2
        while toks[j][0] != "rpar":
            node, j = _parse_sexpr(toks, j, prefixes)
            args.append(node)
        return _Node(ctor=ctor, args=args), j + 1
    raise OfnParseError(f"unexpected token {val!r}")


def _pairs(nodes: list[_Node]) -> Iterable[tuple[_Node, _Node]]:
    for a in range(len(nodes)):
        for b in range(a + 1, len(nodes)):
            yield nodes[a], nodes[b]


def _axiom_rows(src: str, toks: list, prefixes: dict[str, str]) -> Iterator[tuple]:
    node, _ = _parse_sexpr(toks, 0, prefixes)
    ctor = node.ctor
    # axiom annotations — SubClassOf(Annotation(p v) C D) etc. — carry
    # provenance, not logic; drop them from the argument list (the OWLAPI
    # reads them into axiom metadata the same way)
    args = [a for a in (node.args or []) if a.ctor != "Annotation"]
    if ctor == "Declaration":
        ent = args[0]
        yield (src, "declaration", ent.args[0].canonical(), None, ent.ctor)
    elif ctor == "SubClassOf":
        yield (src, "subclass_of", args[0].canonical(), None, args[1].canonical())
    elif ctor == "EquivalentClasses":
        for a, b in _pairs(args):
            yield (src, "equivalent_classes", a.canonical(), None, b.canonical())
    elif ctor == "DisjointClasses":
        for a, b in _pairs(args):
            yield (src, "disjoint_classes", a.canonical(), None, b.canonical())
    elif ctor == "SubObjectPropertyOf":
        sub = args[0]
        if sub.ctor == "ObjectPropertyChain":
            chain = " ".join(a.canonical() for a in sub.args)
            yield (src, "property_chain", chain, None, args[1].canonical())
        else:
            yield (src, "sub_object_property", sub.canonical(), None,
                   args[1].canonical())
    elif ctor == "AnnotationAssertion":
        yield (src, "annotation", args[1].canonical(), args[0].canonical(),
               args[2].canonical())
    elif ctor == "ClassAssertion":
        yield (src, "class_assertion", args[1].canonical(), None,
               args[0].canonical())
    elif ctor == "ObjectPropertyAssertion":
        yield (src, "object_property_assertion", args[1].canonical(),
               args[0].canonical(), args[2].canonical())
    # unknown axiom kinds are skipped (OWLAPI ignores unsupported too);
    # they stay visible to callers via parse_document(..., strict=True).


def parse_document(text: str, src: str = "", strict: bool = False) -> list[tuple]:
    """Parse one OFN document into axiom rows (pure Python, testable)."""
    try:
        prefixes, axiom_toks = _split_axioms(text)
        rows: list[tuple] = []
        for toks in axiom_toks:
            name = toks[0][1]
            got = list(_axiom_rows(src, toks, prefixes))
            if strict and not got and name not in ("Annotation",):
                raise OfnParseError(f"unsupported axiom {name}")
            rows.extend(got)
    except IndexError as exc:
        # unguarded token lookahead off the end = truncated document; keep
        # the module's documented error contract instead of a raw IndexError
        raise OfnParseError(f"truncated OFN document ({src or 'inline'})") from exc
    return rows


def read_ofn(spark: SparkSession, path: str) -> DataFrame:
    """Read ``.ofn`` file(s) into the axiom DataFrame.

    One Arrow batch per document; parsing is executor-side.
    """
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
# Extractors: axiom frame -> operator inputs
# ---------------------------------------------------------------------------

def _named(col):
    return ~F.col(col).rlike(r"^[A-Za-z]\w*\(")


def subclass_edges(axioms: DataFrame) -> DataFrame:
    """Named-class SubClassOf edges (sub, sup) — closure/negation input."""
    return (
        axioms.where(F.col("kind") == "subclass_of")
        .where(_named("s") & _named("o"))
        .select(F.col("s").alias("sub"), F.col("o").alias("sup"))
        .dropDuplicates()
    )


def equivalence_pairs(axioms: DataFrame) -> DataFrame:
    """Named-named equivalence pairs (a, b)."""
    return (
        axioms.where(F.col("kind") == "equivalent_classes")
        .where(_named("s") & _named("o"))
        .select(F.col("s").alias("a"), F.col("o").alias("b"))
        .dropDuplicates()
    )


def complements(axioms: DataFrame) -> DataFrame:
    """(negation_cls, negated_expr) from EquivalentClasses(N, ObjectComplementOf(X)).

    Matches the reference's negatesPairs extraction
    (NegationHierarchyAsserter.scala:40-49): the named side is the negation
    class; the complement argument string (named or canonical expression)
    is the negated expression.
    """
    eq = axioms.where(F.col("kind") == "equivalent_classes")
    comp = r"^ObjectComplementOf\((.*)\)$"
    a_side = eq.where(_named("s") & F.col("o").rlike(comp)).select(
        F.col("s").alias("negation_cls"),
        F.regexp_extract("o", comp, 1).alias("negated_expr"),
    )
    b_side = eq.where(_named("o") & F.col("s").rlike(comp)).select(
        F.col("o").alias("negation_cls"),
        F.regexp_extract("s", comp, 1).alias("negated_expr"),
    )
    return a_side.unionByName(b_side).dropDuplicates()


def class_expression_index(axioms: DataFrame) -> DataFrame:
    """(named, expr) — named classes equivalent to each anonymous expression
    (the reference's classMap, NegationHierarchyAsserter.scala:29-37)."""
    eq = axioms.where(F.col("kind") == "equivalent_classes")
    a_side = eq.where(_named("s") & ~_named("o")).select(
        F.col("s").alias("named"), F.col("o").alias("expr")
    )
    b_side = eq.where(_named("o") & ~_named("s")).select(
        F.col("o").alias("named"), F.col("s").alias("expr")
    )
    return a_side.unionByName(b_side).dropDuplicates()


def annotations(axioms: DataFrame, prop: str | None = None) -> DataFrame:
    out = axioms.where(F.col("kind") == "annotation").select("s", "p", "o")
    if prop is not None:
        out = out.where(F.col("p") == prop)
    return out


def property_chains(axioms: DataFrame) -> DataFrame:
    """(first, second, sup) binary chains + role hierarchy rows for the
    saturation operator (closure.property_chain_closure input shape)."""
    chains = axioms.where(F.col("kind") == "property_chain")
    parts = F.split(F.col("s"), " ")
    return chains.where(F.size(parts) == 2).select(
        parts.getItem(0).alias("first"),
        parts.getItem(1).alias("second"),
        F.col("o").alias("sup"),
    )


def negation_hierarchy_axioms(axioms: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Run the reference's NegationHierarchyAsserter end-to-end on a parsed
    ontology: returns (subclass_axioms(sub, sup), equivalence_axioms(a, b)).

    Composition of the J1-J3 operators over the extracted frames — the
    DataFrame analogue of ``assertNegationHierarchy`` (scala:26-72).
    """
    from phenoscape_owl_tools_spark.operators import components, negation

    eq_edges = equivalence_pairs(axioms)
    # The reference's classMap (scala:29-37) maps each axiom argument to ALL
    # named classes of the same EquivalentClasses axiom — including
    # named -> other-named. Pairwise emission reconstructs that exactly:
    # (a,b) yields named=a/expr=b and named=b/expr=a.
    class_map = class_expression_index(axioms).unionByName(
        eq_edges.select(F.col("a").alias("named"), F.col("b").alias("expr"))
    ).unionByName(
        eq_edges.select(F.col("b").alias("named"), F.col("a").alias("expr"))
    )
    negates = negation.resolve_negates(complements(axioms), class_map)
    sub_ax = negation.negation_subclass_axioms(negates, subclass_edges(axioms))
    comps = components.connected_components(eq_edges, a="a", b="b")
    eq_ax = negation.negation_equivalence_axioms(negates, comps)
    return sub_ax, eq_ax



# ---------------------------------------------------------------------------
# Writer: axiom frame -> functional-syntax document (round-trips the reader)
# ---------------------------------------------------------------------------

_CTOR_RE = re.compile(r"^([A-Za-z]\w*)\((.*)\)$")
_ABS_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def _split_args(s: str) -> list[str]:
    """Split canonical-expression args on top-level spaces."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == " " and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _render_expr(s: str) -> str:
    """Canonical expression string -> functional syntax (IRIs in <>)."""
    m = _CTOR_RE.match(s)
    if m:
        args = " ".join(_render_expr(a) for a in _split_args(m.group(2)))
        return f"{m.group(1)}({args})"
    return f"<{s}>"


def _render_value(s: str) -> str:
    """Annotation value: absolute IRI -> <iri>, else a quoted literal
    (same heuristic as catalog.to_ntriples; language tags are not
    round-tripped — the reader drops them from canonical values)."""
    if _ABS_IRI_RE.match(s) and " " not in s and '"' not in s:
        return f"<{s}>"
    esc = s.replace("\\", "\\\\").replace('"', '\\"')
    return f'"{esc}"'


def render_document(rows, ontology_iri: str = "http://example.org/ontology") -> str:
    """Render axiom rows (kind, s, p, o) back to an OFN document.

    The inverse of :func:`parse_document` for every supported axiom kind —
    `parse_document(render_document(parse_document(text)))` is row-stable.
    Rows are sorted for deterministic output.
    """
    lines = [f"Ontology(<{ontology_iri}>"]
    for row in sorted(tuple(r[1:]) if len(r) == 5 else tuple(r) for r in rows):
        kind, s, p, o = row
        if kind == "declaration":
            lines.append(f"Declaration({o}(<{s}>))")
        elif kind == "subclass_of":
            lines.append(f"SubClassOf({_render_expr(s)} {_render_expr(o)})")
        elif kind == "equivalent_classes":
            lines.append(f"EquivalentClasses({_render_expr(s)} {_render_expr(o)})")
        elif kind == "disjoint_classes":
            lines.append(f"DisjointClasses({_render_expr(s)} {_render_expr(o)})")
        elif kind == "sub_object_property":
            lines.append(f"SubObjectPropertyOf(<{s}> <{o}>)")
        elif kind == "property_chain":
            chain = " ".join(f"<{x}>" for x in s.split(" "))
            lines.append(f"SubObjectPropertyOf(ObjectPropertyChain({chain}) <{o}>)")
        elif kind == "annotation":
            lines.append(f"AnnotationAssertion(<{p}> <{s}> {_render_value(o)})")
        elif kind == "class_assertion":
            lines.append(f"ClassAssertion({_render_expr(o)} <{s}>)")
        elif kind == "object_property_assertion":
            lines.append(f"ObjectPropertyAssertion(<{p}> <{s}> <{o}>)")
        else:
            raise OfnParseError(f"cannot render axiom kind {kind!r}")
    lines.append(")")
    return "\n".join(lines) + "\n"


WRITE_OFN_MAX_ROWS = 5_000_000


def write_ofn(axioms: DataFrame, path: str,
              ontology_iri: str = "http://example.org/ontology") -> None:
    """Write an axiom frame as one OFN file (driver-side collect — an
    ontology/TBox is dimension-scale by the engine's data model; fact-scale
    triple exports go through the N-Triples text sink in ``catalog`` instead).
    Guarded: refuses frames beyond ``WRITE_OFN_MAX_ROWS`` rather than
    silently attempting a multi-GB driver collect.
    """
    n = axioms.count()
    if n > WRITE_OFN_MAX_ROWS:
        raise ValueError(
            f"write_ofn: {n} axiom rows exceeds WRITE_OFN_MAX_ROWS "
            f"({WRITE_OFN_MAX_ROWS}) — this is fact-scale data; export via "
            "catalog.to_ntriples (distributed text sink) instead"
        )
    rows = [(r["kind"], r["s"], r["p"], r["o"]) for r in
            axioms.select("kind", "s", "p", "o").collect()]
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(render_document(rows, ontology_iri))
