from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from phenoscape_owl_tools_spark.operators import mention


def test_span_sequence_invariant(spark, corpus):
    """Extraction must preserve (kind, text, media_ref, order) per row (F1)."""
    c, paths = corpus
    docs = spark.read.parquet(paths["documents"])
    spans = mention.explode_text_spans(docs)
    back = (
        spans.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("span_idx", "kind", "text", "media_ref", "offset"))
            ).alias("spans_back")
        )
    )
    orig = {r["doc_id"]: r["spans"] for r in docs.collect()}
    for row in back.collect():
        expected = orig[row["doc_id"]]
        got = row["spans_back"]
        assert len(got) == len(expected)
        for i, (g, e) in enumerate(zip(got, expected)):
            assert g["span_idx"] == i
            assert g["kind"] == e["kind"]
            assert g["text"] == e["text"]
            assert g["media_ref"] == e["media_ref"]
            assert g["offset"] == e["offset"]


def test_mention_detection_recall_precision(spark, corpus):
    c, paths = corpus
    docs = spark.read.parquet(paths["documents"])
    terms = spark.read.parquet(paths["terms"])
    synonyms = spark.read.parquet(paths["synonyms"])
    d = mention.build_dictionary(terms, synonyms)
    got = {
        (r["doc_id"], r["span_idx"], r["term"])
        for r in mention.detect_mentions(spark, docs, d).collect()
    }
    em = c.tables["expected_mentions"]
    expected = set(zip(em["doc_id"], em["span_idx"], em["term"]))
    tp = len(got & expected)
    precision = tp / len(got)
    recall = tp / len(expected)
    # fillers are disjoint from label alphabet => near-exact match expected
    assert recall >= 0.95, f"recall={recall}"
    assert precision >= 0.95, f"precision={precision}"


def test_phrase_trie_longest_match():
    trie = mention._PhraseTrie([("optic nerve", "iri:optic_nerve"), ("optic", "iri:optic")])
    toks = mention.tokenize("the optic nerve and optic cup")
    found = trie.find(toks)
    assert ("iri:optic_nerve" in [f[3] for f in found])
    assert ("iri:optic" in [f[3] for f in found])
    # longest match wins at position 1
    assert found[0][1] == 2


def test_trie_ambiguous_tokenization_resolves_to_min_iri():
    from phenoscape_owl_tools_spark.operators.mention import _PhraseTrie

    # both surfaces tokenize to ['big', 'toe']; resolution must not depend
    # on insertion order
    t1 = _PhraseTrie([("big-toe", "iri:B"), ("big toe", "iri:A")])
    t2 = _PhraseTrie([("big toe", "iri:A"), ("big-toe", "iri:B")])
    assert t1.find(["big", "toe"]) == t2.find(["big", "toe"])
    assert t1.find(["big", "toe"])[0][3] == "iri:A"


# single-token surfaces: case collisions, tokens with ':', "'" and '_',
# punctuation around a word, non-ASCII letters inside one
WORD_SURFACES = ["fin", "Fin", "FIN", "toe", "fin's", "fin:ray", "toe_1", "(fin)",
                 "[toe].", "ray", "café", "ïve", "é", "", "--"]
TEXT_WORDS = ["fin", "Fin", "FIN", "toe", "TOE", "fin's", "fin:ray", "toe_1", "ray",
              "café", "naïve", "finé", "the", "with", "Ray's"]


@st.composite
def word_dictionary_and_texts(draw):
    surfaces = draw(st.lists(st.sampled_from(WORD_SURFACES), max_size=8))
    entries = [(s, draw(st.sampled_from(["iri:a", "iri:b", "iri:c"]))) for s in surfaces]
    word = st.tuples(st.sampled_from(TEXT_WORDS), st.sampled_from([" ", ", ", " (", ") ", ".", "é"]))
    text = st.lists(word, max_size=10).map(lambda ws: "".join(w + sep for w, sep in ws))
    texts = draw(st.lists(st.one_of(st.none(), st.just(""), text), min_size=1, max_size=40))
    return entries, texts


@settings(max_examples=15, deadline=None)
@given(word_dictionary_and_texts())
def test_word_route_matches_phrase_trie(spark, case):
    """On single-token dictionaries the JVM word route returns the rows the
    phrase trie finds in ``tokenize(text)``, NULL and empty text included."""
    entries, texts = case
    assert mention._single_token_surfaces(entries) is not None
    docs = spark.createDataFrame(
        [(f"d{i}", [("text", t, None, 0), ("media", None, "m", 1)]) for i, t in enumerate(texts)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = mention.detect_mentions(spark, docs, spark.sparkContext.broadcast(entries)).collect()
    trie = mention._PhraseTrie(entries)
    expected = sorted(
        (f"d{i}", 0, iri, surface, start, n)
        for i, t in enumerate(texts) if t
        for start, n, surface, iri in trie.find(mention.tokenize(t))
    )
    assert sorted(tuple(r) for r in got) == expected
