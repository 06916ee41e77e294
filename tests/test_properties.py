"""Property-based tests (hypothesis) for the pure-Python hot paths: the
phrase-trie longest-match scanner against a brute-force oracle, and the
sessionization fold against a single-pass reference."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from phenoscape_owl_tools_spark.operators.mention import _PhraseTrie, tokenize

WORDS = ["fin", "fin ray", "dorsal fin", "dorsal", "ray", "scale", "eye"]


def _oracle_longest_match(tokens, entries):
    """Greedy longest non-overlapping match, leftmost-first."""
    surf = {tuple(tokenize(s)): iri for s, iri in entries if tokenize(s)}
    out = []
    i = 0
    while i < len(tokens):
        best = None
        for toks, iri in surf.items():
            n = len(toks)
            if tuple(tokens[i : i + n]) == toks:
                if best is None or n > best[0]:
                    best = (n, iri, " ".join(toks))
        if best:
            n, iri, s = best
            out.append((i, n, s, iri))
            i += n
        else:
            i += 1
    return out


@st.composite
def dict_and_text(draw):
    surfaces = draw(
        st.lists(st.sampled_from(WORDS), min_size=1, max_size=5, unique=True)
    )
    entries = [(s, f"iri:{j}") for j, s in enumerate(surfaces)]
    tokens = draw(st.lists(st.sampled_from(
        ["fin", "ray", "dorsal", "scale", "eye", "the", "with"]), max_size=12))
    return entries, tokens


@settings(max_examples=300, deadline=None)
@given(dict_and_text())
def test_trie_matches_oracle(case):
    entries, tokens = case
    trie = _PhraseTrie(entries)
    got = trie.find(tokens)
    assert got == _oracle_longest_match(tokens, entries)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from(["fin", "ray", "dorsal"]), max_size=10))
def test_trie_matches_are_non_overlapping_and_in_range(tokens):
    trie = _PhraseTrie([("fin ray", "a"), ("ray", "b"), ("dorsal fin", "c")])
    matches = trie.find(tokens)
    last_end = -1
    for start, n, surface, iri in matches:
        assert start > last_end
        assert start + n <= len(tokens)
        assert surface == " ".join(tokens[start : start + n])
        last_end = start + n - 1


@settings(max_examples=300, deadline=None)
@given(st.lists(st.floats(min_value=0, max_value=10_000, allow_nan=False), max_size=30),
       st.floats(min_value=1, max_value=1000))
def test_session_fold_invariants(ts, gap):
    """Sessionizing a sorted event list: counts partition the events, each
    session spans <= its event gaps, consecutive sessions separated > gap."""
    from phenoscape_owl_tools_spark.streaming.ingest import _sessionize_group

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.exists, self.got = True, v

        def setTimeoutDuration(self, ms):
            pass

    import pandas as pd

    state = FakeState()
    (out,) = list(
        _sessionize_group((1,), iter([pd.DataFrame({"ts_sec": ts})]), state, gap)
    )
    if not ts:
        assert out.empty
        return
    assert out["n_events"].sum() == len(ts)
    rows = out.sort_values("session_start").reset_index(drop=True)
    for i in range(len(rows) - 1):
        assert rows["session_start"][i + 1] - rows["session_end"][i] > gap
    assert (rows["session_end"] >= rows["session_start"]).all()
    # exactly one open session (the last), the rest closed
    assert (~rows["closed"]).sum() == 1
    assert not rows["closed"].iloc[-1]


# ---------------------------------------------------------------------------
# Ontology-serialization round-trips (pure Python: parser/renderer pairs)
# ---------------------------------------------------------------------------

_IRI_CHARS = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789_", min_size=1, max_size=8
)
_iri = st.builds(lambda s: f"http://ex.org/{s}", _IRI_CHARS)


@st.composite
def _expr(draw, depth=0):
    if depth >= 2 or draw(st.booleans()):
        return draw(_iri)
    ctor = draw(st.sampled_from(["some", "and", "not"]))
    if ctor == "some":
        return (f"ObjectSomeValuesFrom({draw(_iri)} "
                f"{draw(_expr(depth + 1))})")  # noqa: B023
    if ctor == "not":
        return f"ObjectComplementOf({draw(_expr(depth + 1))})"
    args = sorted({draw(_expr(depth + 1)), draw(_expr(depth + 1))})
    if len(args) == 1:
        return args[0]
    return f"ObjectIntersectionOf({' '.join(args)})"


_DECL_KIND = st.sampled_from(
    ["Class", "ObjectProperty", "AnnotationProperty", "NamedIndividual"])
_TEXT = st.text(alphabet=st.characters(blacklist_categories=("Cs",),
                                       blacklist_characters="\x00"),
                max_size=20)


def _axiom_rows(pred, text):
    """Rows of every kind but object-property assertions, with annotation
    predicates drawn from ``pred`` and literal values from ``text``."""
    return st.one_of(
        st.builds(lambda s, k: ("declaration", s, None, k), _iri, _DECL_KIND),
        st.builds(lambda s, o: ("subclass_of", s, None, o), _expr(), _expr()),
        st.builds(lambda s, o: ("equivalent_classes", s, None, o), _iri, _expr()),
        st.builds(lambda s, o: ("disjoint_classes", s, None, o), _iri, _expr()),
        st.builds(lambda s, o: ("sub_object_property", s, None, o), _iri, _iri),
        st.builds(lambda a, b, o: ("property_chain", f"{a} {b}", None, o),
                  _iri, _iri, _iri),
        st.builds(lambda s, p, o: ("annotation", s, p, o), _iri, pred, text),
        st.builds(lambda s, o: ("class_assertion", s, None, o), _iri, _expr()),
    )


_axiom_row = _axiom_rows(_iri, _TEXT)

# RDF/XML names a predicate by an XML element, so its IRI needs an NCName
# suffix, and a literal must be made of XML 1.0 characters.
_ncname_iri = st.builds(lambda s: f"http://ex.org/{s}",
                        st.from_regex(r"[a-z_][a-z0-9_]{0,7}", fullmatch=True))
_XML_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)).filter(
        lambda c: c in "\t\n\r" or " " <= c <= "\ud7ff"
        or "\ue000" <= c <= "\ufffd" or c >= "\U00010000"),
    max_size=20,
)

# Object-property assertions and IRI-valued annotations over three IRIs,
# each IRI declared as up to two kinds (punned when two), so declarations
# collide with subjects, predicates and objects.
_NAME = st.sampled_from(["http://ex.org/a", "http://ex.org/b", "http://ex.org/c"])
_colliding_decls = st.builds(
    lambda d: [("declaration", s, None, k) for s, kinds in d.items() for k in kinds],
    st.dictionaries(_NAME, st.sets(_DECL_KIND, min_size=1, max_size=2)),
)
_colliding_row = st.one_of(
    st.builds(lambda s, p, o: ("object_property_assertion", s, p, o),
              _NAME, _NAME, _NAME),
    st.builds(lambda s, p, o: ("annotation", s, p, o), _NAME, _NAME, _NAME),
)


def _with_collisions(rows):
    return st.builds(
        lambda a, b, c: a + b + c, st.lists(rows, max_size=6), _colliding_decls,
        st.lists(_colliding_row, min_size=1, max_size=4),
    )


_rdf_rows = _with_collisions(_axiom_row)
_xml_rows = _with_collisions(_axiom_rows(_ncname_iri, _XML_TEXT))


def _added_declarations(rows):
    """The declarations an RDF writer adds to ``rows``: one
    ``ObjectProperty`` declaration per object-property-assertion predicate
    not so declared; None when one lands on a declared annotation property
    (the writer raises)."""
    decls = {}
    for kind, s, _, o in rows:
        if kind == "declaration":
            decls.setdefault(s, set()).add(o)
    added = set()
    for kind, _, p, _ in rows:
        if kind == "object_property_assertion" and "ObjectProperty" not in decls.get(p, ()):
            if "AnnotationProperty" in decls.get(p, ()):
                return None
            added.add(("declaration", p, None, "ObjectProperty"))
    return sorted(added)


def _check_rdf_writer(rows, render, parse):
    """parse(render(rows)) is rows plus the added declarations, and a
    second round trip is exact."""
    added = _added_declarations(rows)
    if added is None:
        with pytest.raises(ValueError, match="AnnotationProperty"):
            render(rows)
        return
    want = sorted([tuple(r) for r in rows] + added, key=repr)
    once = [r[1:] for r in parse(render(rows), src="x")]
    assert sorted(once, key=repr) == want
    twice = [r[1:] for r in parse(render(once), src="x")]
    assert sorted(twice, key=repr) == want


@settings(max_examples=60, deadline=None)
@given(st.lists(_axiom_row, min_size=1, max_size=12))
def test_ofn_render_parse_roundtrip(rows):
    from phenoscape_owl_tools_spark.sources import ofn

    text = ofn.render_document(rows)
    again = [r[1:] for r in ofn.parse_document(text, src="x")]
    # renderer sorts; annotation literal values that LOOK like absolute
    # IRIs round-trip as IRIs (documented heuristic) — normalize both ways
    assert sorted(set(again)) == sorted(set(tuple(r) for r in rows))


@settings(max_examples=60, deadline=None)
@given(st.lists(_axiom_row, min_size=1, max_size=12))
def test_ttl_render_parse_roundtrip(rows):
    from phenoscape_owl_tools_spark.sources import ttl

    text = ttl.render_turtle_document(rows)
    again = [r[1:] for r in ttl.parse_document(text, src="x")]
    assert sorted(set(again)) == sorted(set(tuple(r) for r in rows))


@settings(max_examples=60, deadline=None)
@given(_rdf_rows)
def test_ofn_ttl_cross_serialization_agree(rows):
    """OFN and Turtle renderings of the same axiom frame parse back to the
    SAME rows — the serialization-agnostic contract both readers share —
    apart from the object-property declarations the Turtle writer adds.
    OFN is exact."""
    from phenoscape_owl_tools_spark.sources import ofn, ttl

    added = _added_declarations(rows)
    via_ofn = sorted((r[1:] for r in ofn.parse_document(
        ofn.render_document(rows), src="x")), key=repr)
    assert via_ofn == sorted(map(tuple, rows), key=repr)
    if added is None:
        return  # the Turtle writer refuses; test_turtle_writer_contract
    via_ttl = sorted((r[1:] for r in ttl.parse_document(
        ttl.render_turtle_document(rows), src="x")), key=repr)
    assert sorted(via_ofn + added, key=repr) == via_ttl


@settings(max_examples=200, deadline=None)
@given(_rdf_rows)
def test_turtle_writer_contract(rows):
    from phenoscape_owl_tools_spark.sources import ttl

    _check_rdf_writer(rows, ttl.render_turtle_document, ttl.parse_document)


@settings(max_examples=200, deadline=None)
@given(_xml_rows)
def test_rdfxml_writer_contract(rows):
    from phenoscape_owl_tools_spark.sources import rdfxml

    _check_rdf_writer(rows, rdfxml.render_rdfxml_document, rdfxml.parse_document)
