"""Text-analysis operators: language-ID, quality score, BPE-ish token
count, rolling fingerprint."""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from functools import reduce

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import DataFrame, Row, functions as F

from phenoscape_owl_tools_spark.operators import dedup, textstats


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_language_id_markers(spark):
    d = _docs(spark, [
        (1, "the cat and the dog of a house"),
        (2, "der hund und die katze und ein haus"),
        (3, "le chat et les chiens des une maison"),
        (4, "xyzzy plugh qwerty"),
    ])
    got = {r["doc_id"]: r["pred_lang"] for r in textstats.language_id(d).collect()}
    assert got["1"] == "en"
    assert got["2"] == "de"
    assert got["3"] == "fr"
    assert got["4"] == "und"


def test_quality_score_components(spark):
    d = _docs(spark, [(1, "the the the the"), (2, "interesting novel content here")])
    got = {r["doc_id"]: r for r in textstats.quality_score(d).collect()}
    assert got["1"]["stop_ratio"] == 1.0
    assert got["1"]["q"] == 0.0
    assert got["2"]["stop_ratio"] == 0.0
    assert got["2"]["q"] == pytest.approx(4 / 50, abs=1e-6)
    assert got["2"]["n_tokens"] == 4


def test_bpe_token_count(spark):
    d = _docs(spark, [(1, "hello, world 42")])
    got = textstats.bpe_token_count(d).collect()[0]
    # hello | , | world | 4 | 2
    assert got["n_bpe_tokens"] == 5


def test_rolling_fingerprint_is_min_window_hash(spark):
    text = "abcdefgh"
    d = _docs(spark, [(1, text)])
    got = textstats.rolling_fingerprint(d, window=5).collect()[0]["fp"]
    expect = min(
        hashlib.sha256(text[i : i + 5].encode()).hexdigest()
        for i in range(len(text) - 4)
    )
    assert got == expect


def test_rolling_fingerprint_local_edit_far_from_min_window(spark):
    # identical around the minimizing window => same fingerprint class often;
    # here just check determinism and shape
    d = _docs(spark, [(1, "a" * 60), (2, "a" * 60)])
    fps = [r["fp"] for r in textstats.rolling_fingerprint(d).collect()]
    assert fps[0] == fps[1]
    assert len(fps[0]) == 64


def test_repetition_stats_hand_case(spark):
    from pyspark.sql import Row

    d = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a a b"),       # dup words 2/4; 2grams: aa,aa,ab -> dup 1/3; top a=3/4
            Row(doc_id=2, text="w x y z"),       # no repetition
        ]
    )
    from phenoscape_owl_tools_spark.operators import textstats

    out = {r["doc_id"]: r for r in textstats.repetition_stats(d).collect()}
    r1 = out["1"]
    assert r1["dup_word_frac"] == 0.5
    assert r1["dup_2gram_frac"] == round(1 / 3, 6)
    assert r1["top_word_frac"] == 0.75
    r2 = out["2"]
    assert (r2["dup_word_frac"], r2["dup_2gram_frac"], r2["top_word_frac"]) == (
        0.0, 0.0, 0.25)


def test_unigram_logppl_hand_case(spark):
    import math

    from pyspark.sql import Row

    rows = [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="b c")]
    # corpus counts: a=2, b=2, c=1, N=5
    out = {
        r["doc_id"]: (r["n_tokens"], r["bits_per_token"])
        for r in textstats.unigram_logppl(spark.createDataFrame(rows)).collect()
    }
    n = 5.0

    def bits(cnts):
        return round(
            -sum(math.log2(c / n) for c in cnts) / len(cnts), 6
        )

    assert out["1"] == (3, bits([2, 2, 2]))
    assert out["2"] == (2, bits([2, 1]))


def test_pii_stats_hand_case(spark):
    d = _docs(spark, [
        (1, "mail me at bob.smith+x@sub.example.org or 192.168.1.1"),
        (2, "call 555-867-5309 ssn 123-45-6789"),
        (3, "clean text with no pii at all"),
        (4, "two mails a@b.io c@d.co and ip 10.0.0.1 10.0.0.2"),
    ])
    out = {r["doc_id"]: r for r in textstats.pii_stats(d).collect()}
    assert (out["1"]["n_email"], out["1"]["n_ipv4"]) == (1, 1)
    assert (out["2"]["n_phone"], out["2"]["n_ssn"]) == (1, 1)
    assert out["2"]["pii_total"] == 2
    assert out["3"]["pii_total"] == 0
    assert out["3"]["redacted_len"] == len("clean text with no pii at all")
    assert (out["4"]["n_email"], out["4"]["n_ipv4"]) == (2, 2)
    # redaction: every match replaced by the 5-char [PII] tag
    assert out["2"]["redacted_len"] == len("call [PII] ssn [PII]")


def test_pii_stats_nested_span_counts_once(spark):
    # the IPv4 sits (at word boundaries) inside the email's domain: the
    # email redaction removes it, so it is counted ZERO times and
    # pii_total equals the single [PII] tag in the redacted text
    d = _docs(spark, [(1, "user@mail.192.168.0.1.net wrote")])
    r = textstats.pii_stats(d).collect()[0]
    assert (r["n_email"], r["n_ipv4"], r["pii_total"]) == (1, 0, 1)
    assert r["redacted_len"] == len("[PII] wrote")


def test_pii_stats_null_text_counts_as_empty(spark):
    d = spark.createDataFrame([Row(doc_id=1, text=None)],
                              "doc_id int, text string")
    r = textstats.pii_stats(d).collect()[0]
    assert (r["n_email"], r["n_ipv4"], r["n_phone"], r["n_ssn"]) == (0, 0, 0, 0)
    assert (r["pii_total"], r["redacted_len"]) == (0, 0)


def test_pii_stats_map_only_plan(spark):
    d = _docs(spark, [(1, "a@b.io x")])
    plan = textstats.pii_stats(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only: zero shuffle


# ---------------------------------------------------------------------------
# parity with a pure-Python statement of the window and repetition rules
# ---------------------------------------------------------------------------

# "" tokens joined by " " give double, leading and trailing spaces; "a" is
# drawn twice as often, so texts repeat words
_TEXTS = st.one_of(
    st.none(),
    st.lists(st.sampled_from(["a", "b", "a", "the", "of", "x,y", ""]), max_size=12).map(" ".join),
)
_BATCHES = st.lists(_TEXTS, min_size=20, max_size=60)
_NS = (1, 2, 3, 8)


def _ref_windows(text, n):
    """Window i is tokens i..i+n-1; a text shorter than n is one window."""
    if text is None:
        return []
    toks = text.split(" ")
    return [" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)]


def _ref_stats(text):
    """(n_tokens, stop_ratio, q, dup_word, dup_2gram, top_word), unrounded."""
    if text is None:
        return (None, None, None, None, 0.0, None)
    toks = text.split(" ")
    n = len(toks)
    stop = sum(t in textstats.STOPWORDS for t in toks) / n
    punct = len(re.sub("[A-Za-z0-9 ]", "", text)) / len(text) if text else None
    q = None if punct is None else min(1.0, n / 50.0) * (1.0 - stop) * (1.0 - punct)
    g2 = _ref_windows(text, 2)
    return (n, stop, q, (n - len(set(toks))) / n, (len(g2) - len(set(g2))) / len(g2),
            max(Counter(toks).values()) / n)


def _batch(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


@settings(max_examples=3, deadline=None)
@given(_BATCHES)
def test_windows_match_reference(spark, texts):
    docs = _batch(spark, texts)
    parts = []
    for n in _NS:
        parts.append(dedup.word_shingles(docs, n).select(
            F.lit(n).alias("n"), "doc_id", F.lit(-1).alias("pos"), F.col("shingle").alias("gram")))
        parts.append(dedup.positional_windows(docs, n).select(
            F.lit(n).alias("n"), "doc_id", "pos", "gram"))
    got = Counter(tuple(r) for r in reduce(DataFrame.unionByName, parts).collect())
    expect = Counter()
    for i, text in enumerate(texts):
        for n in _NS:
            grams = _ref_windows(text, n)
            expect.update((n, str(i), -1, g) for g in set(grams) if g != "")
            expect.update((n, str(i), p, g) for p, g in enumerate(grams) if g != "")
    assert got == expect


@settings(max_examples=3, deadline=None)
@given(_BATCHES)
def test_repetition_and_quality_match_reference(spark, texts):
    docs = _batch(spark, texts)
    rows = textstats.quality_score(docs).join(
        textstats.repetition_stats(docs), "doc_id"
    ).collect()
    cols = ("n_tokens", "stop_ratio", "q", "dup_word_frac", "dup_2gram_frac", "top_word_frac")
    got = {r["doc_id"]: tuple(r[c] for c in cols) for r in rows}
    assert set(got) == {str(i) for i in range(len(texts))}
    for i, text in enumerate(texts):
        for c, g, e in zip(cols, got[str(i)], _ref_stats(text)):
            assert (g is None) == (e is None), (text, c, g, e)
            if e is not None:
                assert g == pytest.approx(e, abs=1e-6), (text, c)
