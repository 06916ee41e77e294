"""Dedup operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine — semantics checked against tiny hand-computable inputs
plus a Python oracle for Jaccard/LSH recall on real data."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from phenoscape_owl_tools_spark.operators import dedup

from tests.conftest import SF001


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_exact_dedup_groups(spark):
    d = _docs(spark, [(1, "a b c"), (2, "A B C"), (3, "x y z"), (4, "a b c")])
    out = {r["doc_id"]: (r["keep_id"], r["is_dup_group"]) for r in dedup.exact_dedup(d).collect()}
    # case-insensitive: 1, 2, 4 collapse; keeper is min doc_id as string
    assert out["1"] == ("1", True)
    assert out["2"] == ("1", True)
    assert out["4"] == ("1", True)
    assert out["3"] == ("3", False)


def test_word_shingles(spark):
    d = _docs(spark, [(1, "a b c d")])
    got = sorted(r["shingle"] for r in dedup.word_shingles(d, n=3).collect())
    assert got == ["a b c", "b c d"]


def _py_jaccard(t1: str, t2: str, n: int = 3) -> float:
    def sh(t):
        w = t.split(" ")
        return {" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1))}

    a, b = sh(t1), sh(t2)
    return len(a & b) / len(a | b)


def test_ngram_jaccard_matches_python_oracle(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "a completely different sentence with other words"),
        (4, "the quick brown fox jumps over the lazy dog today"),
    ]
    d = _docs(spark, texts)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(d, n=3, threshold=0.2).collect()
    }
    expect = {}
    for (i, t1), (j, t2) in itertools.combinations(texts, 2):
        jc = _py_jaccard(t1, t2)
        if jc >= 0.2:
            expect[(str(i), str(j))] = round(jc, 6)
    assert set(got) == set(expect)
    for k in expect:
        assert got[k] == pytest.approx(expect[k], abs=1e-6)


def test_minhash_lsh_finds_near_dups_and_verifies(spark):
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_dedup(docs, n=3, k=8, threshold=0.2).collect()
    }
    # precision is exact (verified); every reported jaccard matches brute force
    for k, v in lsh.items():
        assert k in exact and exact[k] == v
    # recall of banded minhash on high-similarity pairs should be high
    high = {k for k, v in exact.items() if v >= 0.5}
    if high:
        assert len(high & set(lsh)) / len(high) >= 0.8


def test_simhash_identical_docs_share_fingerprint(spark):
    d = _docs(spark, [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "zz yy xx ww vv uu")])
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(d, bits=8).collect()}
    # simhash is set-based: word order doesn't matter
    assert got["1"] == got["2"]
    assert len(got["1"]) == 8 and set(got["1"]) <= {"0", "1"}
    groups = dedup.simhash_dup_groups(d, bits=8).collect()
    gids = {r["doc_id"] for r in groups}
    assert {"1", "2"} <= gids


def test_embedding_near_dups(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.99, 0.1, 0.0]),
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=4, embedding=[-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    got = {(r["id_a"], r["id_b"]): r["cos"] for r in dedup.embedding_near_dups(emb, 0.9).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == pytest.approx(0.99 / (0.99**2 + 0.1**2) ** 0.5, abs=1e-5)


def test_embedding_gemm_matches_brute(spark):
    """Tiled-GEMM exact path is bitwise-identical to the crossJoin baseline
    (same float64 math, same round-6), across a block count that forces
    multi-tile coverage (n_blocks > 1 incl. diagonal + off-diagonal tiles),
    for long ids, string ids, a NULL id (it pairs with nothing) and ids
    above 2^53 (they must stay exact)."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, base))
        if i % 7 == 0:  # planted near-dup
            rows.append((1000 + i, [x + rng.uniform(-0.05, 0.05) for x in base]))
    big = 2**53 + 1
    cases = {
        "long": ("long", rows),
        "string": ("string", [(f"d{i:05d}", e) for i, e in rows]),
        "null": ("long", [(None if i == 0 else i, e) for i, e in rows]),
        "big": ("long", [(big + 2 * i, e) for i, e in rows]),
    }
    for name, (id_t, case_rows) in cases.items():
        emb = spark.createDataFrame(case_rows, f"vec_id {id_t}, embedding array<float>")
        # multiset compare: an accidental double-emission (e.g. both triangle
        # halves of a diagonal tile) must fail, not vanish into a set
        brute = sorted(
            (r.id_a, r.id_b, r.cos)
            for r in dedup.embedding_near_dups(emb, threshold=0.4).collect()
        )
        gemm = sorted(
            (r.id_a, r.id_b, r.cos)
            for r in dedup.embedding_near_dups_gemm(emb, threshold=0.4, n_blocks=5).collect()
        )
        assert gemm == brute and len(brute) > 0, name


def test_dedup_clusters_collapses_transitive_chain(spark):
    """a~b and b~c (no a~c pair) must collapse to ONE kept doc; pairless
    docs are singleton clusters that keep themselves."""
    docs = spark.createDataFrame(
        [(i,) for i in ["a", "b", "c", "d", "x", "y"]], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    got = {
        r.doc_id: (r.cluster, r.keep_flag)
        for r in dedup.dedup_clusters(docs, pairs).collect()
    }
    assert got == {
        "a": ("a", 1), "b": ("a", 0), "c": ("a", 0),
        "d": ("d", 1), "x": ("x", 1), "y": ("x", 0),
    }


def test_dedup_clusters_corpus_join_is_broadcast(spark):
    """The corpus-side labeling join must broadcast the component table —
    at 100 TB the corpus must not shuffle to learn its cluster labels."""
    docs = spark.createDataFrame([(str(i),) for i in range(50)],
                                 "doc_id string")
    pairs = spark.createDataFrame([("1", "2")], "doc_a string, doc_b string")
    plan = dedup.dedup_clusters(docs, pairs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_flags_benchmark_overlap(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta")])
    corpus = _docs(
        spark,
        [
            (1, "x alpha beta gamma y"),      # shares 3-grams "alpha beta gamma"
            (2, "p q r s t"),                  # no overlap
            (3, "beta gamma delta q alpha beta gamma"),  # shares 2 distinct grams
        ],
    )
    got = {r["doc_id"]: r["n_overlap"]
           for r in dedup.decontaminate(corpus, bench, n=3).collect()}
    assert got == {"1": 1, "3": 2}


def test_decontaminate_min_overlap_threshold(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta")])
    corpus = _docs(spark, [(1, "x alpha beta gamma y"),
                           (3, "beta gamma delta q alpha beta gamma")])
    got = [r["doc_id"]
           for r in dedup.decontaminate(corpus, bench, n=3, min_overlap=2).collect()]
    assert got == ["3"]


def test_duplicated_windows_cross_doc_only(spark):
    # k=3: docs 1 and 2 share "a b c" (1 window each); doc 3 repeats its own
    # window INTERNALLY only ("p q r p q r" -> "p q r" twice in one doc) and
    # must NOT be flagged (cross-document means >= 2 distinct docs).
    d = _docs(
        spark,
        [
            (1, "a b c x y"),
            (2, "z a b c w"),
            (3, "p q r p q r"),
            (4, "m n o m n"),
        ],
    )
    out = {r["doc_id"]: (r["n_dup_windows"], r["dup_window_frac"])
           for r in dedup.duplicated_windows(d, k=3).collect()}
    assert out == {"1": (1, round(1 / 3, 6)), "2": (1, round(1 / 3, 6))}


def test_duplicated_windows_counts_positions(spark):
    # the shared gram occurs at TWO positions in doc 1 -> both count
    d = _docs(spark, [(1, "a b a b"), (2, "a b c")])
    out = {r["doc_id"]: r["n_dup_windows"]
           for r in dedup.duplicated_windows(d, k=2).collect()}
    assert out == {"1": 2, "2": 1}


# ---------------------------------------------------------------------------
# SimHash Hamming<=d near-dup (Manku block index)
# ---------------------------------------------------------------------------


def _py_hamming_pairs(fp_rows, d):
    """Brute-force oracle over collected (doc_id, blk0..blk3) fingerprints."""
    out = set()
    for (ia, *a), (ib, *b) in itertools.combinations(sorted(fp_rows), 2):
        ham = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
        if ham <= d:
            out.add((ia, ib, ham))
    return out


def test_simhash_near_dups_matches_bruteforce(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away slow"),
        (3, "a completely different sentence with other words entirely here"),
        (4, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (5, "table scan merge join window sort hash group filter batch row"),
    ]
    d = _docs(spark, texts)
    fp = [
        (r["doc_id"], r["blk0"], r["blk1"], r["blk2"], r["blk3"])
        for r in dedup.simhash64_blocks(d, n=3).collect()
    ]
    expect = _py_hamming_pairs(fp, 3)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_dups(d, max_hamming=3, n=3).collect()
    }
    assert got == expect
    # identical docs 1/4 must be a hamming-0 pair
    assert ("1", "4", 0) in got


def test_simhash_near_dups_pigeonhole_at_boundary(spark):
    # fingerprints differing in exactly max_hamming bits still share a block
    # (pigeonhole) and must be found; brute-force confirms none are missed
    # on real near-dup data at sf0.001
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    fp = [
        (r["doc_id"], r["blk0"], r["blk1"], r["blk2"], r["blk3"])
        for r in dedup.simhash64_blocks(docs, n=3).collect()
    ]
    expect = _py_hamming_pairs(fp, 3)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_dups(docs, max_hamming=3, n=3).collect()
    }
    assert got == expect
    assert expect, "fixture should contain at least one near-dup pair"
