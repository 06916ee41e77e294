"""Mention detection + entity linking over span documents.

The reference links matrix cells / TSV rows to ontology classes by exact
term-ID reference (PhenexToOWL.scala:370, OBOUtil.iriForTermID); our
interleaved-document input instead carries free text, so the engine performs
dictionary-based mention detection over ontology labels + synonyms. Text and
dictionary surfaces go through one tokenizer (:func:`tokenize`: ASCII word
tokens, lowercased), and matching is token-level longest match. The
dictionary is collected once on the driver, which picks one of two routes
from its shape:

- **every surface is a single token** -> the match is a lookup per token,
  planned in the JVM: ``posexplode(regexp_extract_all(text))`` tokenizes,
  an ASCII ``translate`` lowercases (equal to ``str.lower`` on these
  tokens), and a broadcast hash join against the (surface, term) table
  links them. No Python worker starts;
- **some surface is a phrase** -> the entries are broadcast, compiled once
  per Python worker into a token-level longest-match trie
  (:class:`_PhraseTrie`), and applied to Arrow batches via ``mapInPandas``.

Scale notes (100 TB): the dictionary (~10^6 labels, tens of MB) broadcasts;
documents never shuffle — extraction is map-only, so throughput scales
linearly with executors. Ambiguous surfaces resolve deterministically to
``min(iri)`` so output is partitioning-independent.
"""

from __future__ import annotations

import re
import string
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TOKEN_PATTERN = r"[A-Za-z0-9_:']+"
_TOKEN_RE = re.compile(_TOKEN_PATTERN)

MENTION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("span_idx", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("surface", T.StringType()),
        T.StructField("start_token", T.IntegerType()),
        T.StructField("n_tokens", T.IntegerType()),
    ]
)


def tokenize(text: str) -> list[str]:
    return [t.lower() for t in _TOKEN_RE.findall(text)]


def build_dictionary(terms: DataFrame, synonyms: DataFrame | None = None) -> DataFrame:
    """(surface, iri) pairs from labels + synonyms.

    Mirrors the reference's vocabulary maps built from rdfs:label +
    oboInOwl exact/related synonyms (Vocab.scala:57-58, PhenoscapeKB ontology
    loads). Surfaces keep their case: matching lowercases them through
    :func:`tokenize`, the tokenizer the text goes through.
    """
    d = terms.select(F.col("label").alias("surface"), F.col("iri"))
    if synonyms is not None:
        d = d.unionByName(synonyms.select(F.col("synonym").alias("surface"), F.col("iri")))
    # deterministic ambiguity resolution: min(iri) per surface
    return d.groupBy("surface").agg(F.min("iri").alias("iri"))


class _PhraseTrie:
    """Token-level longest-match phrase trie (built once per worker)."""

    __slots__ = ("root", "max_len")

    def __init__(self, entries: list[tuple[str, str]]):
        self.root: dict = {}
        self.max_len = 1
        for surface, iri in entries:
            toks = tokenize(surface)
            if not toks:
                continue
            self.max_len = max(self.max_len, len(toks))
            node = self.root
            for t in toks:
                node = node.setdefault(t, {})
            # distinct surfaces can tokenize identically ("big-toe" vs
            # "big toe"): resolve to min(iri) so the trie is independent of
            # dictionary collect() order (determinism contract)
            cur = node.get("\x00")
            if cur is None or iri < cur:
                node["\x00"] = iri

    def find(self, tokens: list[str]) -> list[tuple[int, int, str, str]]:
        """Longest non-overlapping matches: (start, n_tokens, surface, iri)."""
        out = []
        i, n = 0, len(tokens)
        root = self.root
        while i < n:
            node = root.get(tokens[i])
            if node is None:
                i += 1
                continue
            best_end, best_iri = None, None
            j = i
            cur = node
            while True:
                iri = cur.get("\x00")
                if iri is not None:
                    best_end, best_iri = j, iri
                j += 1
                if j >= n:
                    break
                cur = cur.get(tokens[j])
                if cur is None:
                    break
            if best_end is not None:
                out.append((i, best_end - i + 1, " ".join(tokens[i : best_end + 1]), best_iri))
                i = best_end + 1
            else:
                i += 1
        return out


def explode_text_spans(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans[]) -> one row per span, order-preserving.

    ``posexplode`` carries the array position so the span-sequence invariant
    (kind, text, media_ref, order) is verifiable per row (FIXTURES.md F1) —
    never re-derived from a sort.
    """
    return documents.select(
        "doc_id",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def broadcast_dictionary(spark: SparkSession, dictionary: DataFrame):
    """Collect + broadcast (surface, iri) entries once; reuse across stages.

    A pipeline calls this a single time per ontology dictionary — re-collecting
    per query adds a serial driver step that erodes scaling (Amdahl)."""
    entries = [(r["surface"], r["iri"]) for r in dictionary.collect()]
    return spark.sparkContext.broadcast(entries)


def _single_token_surfaces(entries: list[tuple[str, str]]) -> dict[str, str] | None:
    """token -> min(iri) when no surface tokenizes to more than one token
    (the trie's answer for such a dictionary is a lookup per token), else
    None. Surfaces with no token never match and are left out."""
    words: dict[str, str] = {}
    for surface, iri in entries:
        toks = tokenize(surface)
        if len(toks) > 1:
            return None
        if toks and (toks[0] not in words or iri < words[toks[0]]):
            words[toks[0]] = iri
    return words


def _word_mentions(spark: SparkSession, spans: DataFrame, words: dict[str, str]) -> DataFrame:
    """The single-token route: every token of every span joined to the
    broadcast (surface, term) table, in the JVM."""
    table = spark.createDataFrame(
        pd.DataFrame({"surface": list(words), "term": list(words.values())}, dtype=object),
        "surface string, term string",
    )
    tokens = spans.select(
        "doc_id", "span_idx",
        F.posexplode(F.regexp_extract_all("text", F.lit(_TOKEN_PATTERN), 0))
        .alias("start_token", "token"),
    ).select(
        "doc_id", "span_idx", "start_token",
        F.translate("token", string.ascii_uppercase, string.ascii_lowercase).alias("surface"),
    )
    return tokens.join(F.broadcast(table), on="surface").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "span_idx", "term", "surface", "start_token",
        F.lit(1).alias("n_tokens"),
    )


def detect_mentions(
    spark: SparkSession,
    documents: DataFrame,
    dictionary,
) -> DataFrame:
    """Extract linked mentions from every text span.

    ``dictionary`` is a (surface, iri) DataFrame or a prebuilt broadcast from
    :func:`broadcast_dictionary`. Returns
    ``(doc_id, span_idx, term, surface, start_token, n_tokens)``, the same
    rows on both routes (module docstring) as ``_PhraseTrie.find`` over
    ``tokenize(text)``.
    """
    bc = (
        dictionary
        if not isinstance(dictionary, DataFrame)
        else broadcast_dictionary(spark, dictionary)
    )
    spans = explode_text_spans(documents).where(F.col("kind") == "text")
    words = _single_token_surfaces(bc.value)
    if words is not None:
        return _word_mentions(spark, spans, words)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trie = _PhraseTrie(bc.value)
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "span_idx": [], "term": [],
                "surface": [], "start_token": [], "n_tokens": [],
            }
            for doc_id, span_idx, text in zip(pdf["doc_id"], pdf["span_idx"], pdf["text"]):
                if not text:
                    continue
                for start, ntok, surface, iri in trie.find(tokenize(text)):
                    rows["doc_id"].append(doc_id)
                    rows["span_idx"].append(span_idx)
                    rows["term"].append(iri)
                    rows["surface"].append(surface)
                    rows["start_token"].append(start)
                    rows["n_tokens"].append(ntok)
            yield pd.DataFrame(rows)

    return spans.select("doc_id", "span_idx", "text").mapInPandas(run, MENTION_SCHEMA)


def mention_triples(mentions: DataFrame, predicate: str) -> DataFrame:
    """Distinct (doc_iri, predicate, term) triples from mentions."""
    return mentions.select(
        F.col("doc_id").alias("subj"),
        F.lit(predicate).alias("pred"),
        F.col("term").alias("obj"),
    ).dropDuplicates()
