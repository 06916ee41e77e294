from __future__ import annotations

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


def test_word_matcher_equivalent_to_trie():
    from phenoscape_owl_tools_spark.operators.mention import (
        _PhraseTrie,
        _WordMatcher,
        build_matcher,
        tokenize,
    )

    entries = [("toe", "iri:toe"), ("fin", "iri:fin"), ("Fin", "iri:aaa")]
    wm = build_matcher(entries)
    assert isinstance(wm, _WordMatcher)
    trie = _PhraseTrie(entries)
    for text in ["fin toe fin", "FIN unknown toe", "", "finto toe"]:
        assert wm.find(tokenize(text)) == trie.find(tokenize(text)), text
    # phrase dictionaries must NOT take the word path
    assert isinstance(build_matcher(entries + [("big toe", "x")]), _PhraseTrie)
