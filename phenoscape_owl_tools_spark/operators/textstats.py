"""Text analysis over the document corpus: language-ID, quality scoring,
BPE-ish token counting, rolling-window fingerprinting.

Everything here is pure column expressions (map-only, no shuffle, no
Python) — at 100 TB these run at scan speed with filters and column pruning
pushed into the parquet/Iceberg reader. Word windows are built from
code-generated array functions (:func:`word_windows`), never from a
``transform`` lambda, which Spark evaluates interpreted, per element. Two
lambdas remain: ``repetition_stats``' one ``aggregate`` pass over the sorted
tokens, and ``rolling_fingerprint``'s ``transform`` over character windows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Character n-gram marker profiles (public-knowledge function-word n-grams).
# Scores are occurrence counts of each marker in the padded text; the
# prediction is the alphabetically-first argmax, 'und' (undetermined) when
# every score is zero — fully deterministic and SQL-reproducible.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": (" der ", " und ", " die ", " ein "),
    "en": (" the ", " and ", " of ", " a "),
    "es": (" el ", " los ", " las ", " una "),
    "fr": (" le ", " les ", " des ", " une "),
    "zh": ("的", "是", "了"),
}

# GPT-2-style pre-tokenizer simplification: letter runs, single digits,
# punctuation runs (shared regex dialect between Spark's Java regex and
# DuckDB's RE2 for these constructs).
BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

STOPWORDS = ("the", "a", "and", "of")


def word_windows(toks: F.Column, n: int) -> tuple[F.Column, Callable[[F.Column], F.Column]]:
    """Sliding word ``n``-gram windows of the token array ``toks``, with no
    lambda: ``arrays_zip(slice(toks, 1, m), ..., slice(toks, n, m))`` with
    ``m = greatest(size(toks) - n + 1, 1)``, so element ``i`` is the struct
    of tokens ``i .. i+n-1``. A document shorter than ``n`` gives ONE
    window of all its tokens (the missing fields are NULL); NULL ``toks``
    gives NULL. Returns the window array and ``render``, which turns one
    window struct into its space-joined string."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    windows = F.arrays_zip(*(F.slice(toks, j, m) for j in range(1, n + 1)))

    def render(window: F.Column) -> F.Column:
        return F.concat_ws(" ", *(window[str(j)] for j in range(n)))

    return windows, render


def _occurrences(padded, marker: str) -> F.Column:
    return (F.length(padded) - F.length(F.replace(padded, F.lit(marker)))) / len(marker)


def language_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, score): n-gram-profile language identification."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    scores = {
        lang: sum((_occurrences(padded, m) for m in markers), F.lit(0.0))
        for lang, markers in sorted(LANG_PROFILES.items())
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # alphabetically-first argmax: build the when-chain in reverse order
    for lang in sorted(scores, reverse=True):
        pred = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        pred.alias("pred_lang"),
        F.round(best, 2).alias("score"),
    )


def quality_score(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, stop_ratio, q): heuristic quality in [0, 1] —
    length saturation x (1 - stopword ratio) x (1 - non-alnum char ratio)."""
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks)
    rest = toks
    for w in STOPWORDS:
        rest = F.array_remove(rest, w)
    stop_ratio = (n_tokens - F.size(rest)) / n_tokens
    stripped = F.regexp_replace(F.col(text_col), "[A-Za-z0-9 ]", "")
    # empty text has no characters to score: NULL q, which the gate drops
    punct_ratio = F.try_divide(F.length(stripped), F.length(F.col(text_col)))
    q = F.least(F.lit(1.0), n_tokens / F.lit(50.0)) * (1.0 - stop_ratio) * (1.0 - punct_ratio)
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(q, 6).alias("q"),
    )


def bpe_token_count(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_bpe_tokens): BPE-pre-tokenizer-style regex token count."""
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def rolling_fingerprint(
    documents: DataFrame, window: int = 5, text_col: str = "text"
) -> DataFrame:
    """(doc_id, fp): winnowing-style fingerprint — the minimum digest over
    all character ``window``-grams. Robust to local edits anywhere except
    around the minimizing window (unlike the whole-text hash)."""
    grams = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {window - 1}, 1)),"
        f" i -> sha2(substring({text_col}, i, {window}), 256))"
    )
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array_min(grams).alias("fp"),
    )


def repetition_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, dup_word_frac, dup_2gram_frac, top_word_frac): Gopher-style
    within-document repetition metrics (Rae et al. 2021 §A1.1 repetition
    filters) — fraction of tokens that are repeats beyond first occurrence,
    same for word 2-grams, and the frequency share of the most common token.

    Map-only: pure array expressions per row, no shuffle — scan-speed at
    100 TB. The 2-grams are :func:`word_windows` structs cast to strings
    (``{a, b}``), so ``array_distinct`` hashes them instead of comparing
    structs pairwise; tokens hold no space, so the cast is one-to-one.
    ``top_word_frac`` is the longest run in the sorted tokens, found in one
    ``aggregate`` pass: O(len log len) per row. NULL text gives
    ``dup_2gram_frac`` 0.0 and NULL elsewhere.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    dup_word = (n - F.size(F.array_distinct(toks))) / n
    grams2 = word_windows(toks, 2)[0]
    n2 = F.size(grams2)
    distinct2 = F.size(F.array_distinct(grams2.cast("array<string>")))
    dup_2gram = F.coalesce((n2 - distinct2) / n2, F.lit(0.0))

    def step(acc, t):
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(1)
        return F.struct(t.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best"))

    start = F.struct(
        F.lit(None).cast("string").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    top = F.aggregate(F.sort_array(toks), start, step, lambda acc: acc["best"])
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.round(dup_word, 6).alias("dup_word_frac"),
        F.round(dup_2gram, 6).alias("dup_2gram_frac"),
        F.round(top / n, 6).alias("top_word_frac"),
    )


def unigram_logppl(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, bits_per_token): per-document cross-entropy under
    the corpus's own unigram language model — the shape of the CCNet /
    Gopher LM-perplexity quality filter (Wenzek et al. 2020 train a 5-gram
    KenLM; the unigram version is the same pipeline with a model the engine
    can fit itself). Low bits/token = repetitive or stopword-heavy text;
    high = rare-token soup. bits_per_token = -mean(log2 p(tok)), with
    p(tok) = corpus_count(tok) / corpus_total.

    Scale shape: per-document token counts first (one groupBy — collapses
    repeated tokens before any join), vocabulary = one map-side-combinable
    aggregate over those counts, then ONE equi-join on token. Stopword-type
    heavy hitters skew that join's key distribution — bounded by AQE
    skew-join (and the left side is (doc, tok, c), already collapsed, so a
    hot token costs one row per *document*, not per occurrence). The corpus
    total rides along as a broadcast 1-row frame (no driver action, stays
    lazy/resumable).
    """
    toks = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    per_doc = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    vocab = per_doc.groupBy("tok").agg(F.sum("c").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("corpus_total"))
    agg = (
        per_doc.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.log(F.col("cnt"))).alias("slc"),
        )
    )
    return agg.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        F.round(
            (F.log(F.col("corpus_total")) - F.col("slc") / F.col("n_tokens"))
            / F.log(F.lit(2.0)),
            6,
        ).alias("bits_per_token"),
    )


# Anchored, lookaround-free patterns shared verbatim between Spark's Java
# regex and DuckDB's RE2 (both support \b and non-capturing groups) so the
# oracle runs the SAME expressions. Coverage is the standard corpus-pipeline
# set (email / IPv4 / NANP phone / SSN shapes), not a compliance claim.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_email, n_ipv4, n_phone, n_ssn, pii_total, redacted_len):
    PII pattern detection + redaction accounting — the pre-training scrub
    pass every public corpus pipeline runs (C4 and The Pile both strip
    pattern-matched PII before training).

    Each count is taken on the text AFTER the previous patterns' redaction
    (email first, then IPv4, phone, SSN), so a span nested inside an
    earlier match (an IPv4 inside an email domain) is counted zero times
    and ``pii_total`` equals the exact number of ``[PII]`` tags in the
    redacted text — detection and redaction accounting reconcile by
    construction. NULL text counts as empty.

    Map-only pure column expressions (regexp_extract_all + chained
    regexp_replace), zero shuffle — at 100 TB this runs at scan speed next
    to the other textstats. ``redacted_len`` is the length after every
    match is replaced with the fixed tag ``[PII]``, so downstream token
    budgets can be computed on the post-scrub text without writing it.
    """
    stage = F.coalesce(F.col(text_col), F.lit(""))
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(F.size(F.regexp_extract_all(stage, F.lit(pat), 0)).alias(f"n_{name}"))
        stage = F.regexp_replace(stage, pat, "[PII]")
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        *counts,
        F.length(stage).alias("redacted_len"),
    ).withColumn(
        "pii_total",
        sum(F.col(f"n_{name}") for name in PII_PATTERNS),
    )
