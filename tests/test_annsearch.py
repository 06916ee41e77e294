"""ANN search: brute-force top-k vs a numpy oracle; bucket-LSH is a strict
subset of brute force restricted to the query's bucket."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from phenoscape_owl_tools_spark.operators import annsearch

from tests.conftest import SF001


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF001}/embeddings.parquet")


def _np_topk(vecs: dict[int, np.ndarray], qids: list[int], k: int):
    out = {}
    for qid in qids:
        qv = vecs[qid].astype(np.float64)
        scored = []
        for nid, cv in vecs.items():
            if nid == qid:
                continue
            cv = cv.astype(np.float64)
            cos = round(float(qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv))), 6)
            scored.append((-cos, nid))
        scored.sort()
        out[qid] = [(nid, -negcos) for negcos, nid in scored[:k]]
    return out


def test_brute_force_topk_matches_numpy(spark, emb):
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    qids = [q for q in vecs if q < 8]
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = annsearch.brute_force_topk(emb, queries, k=5).collect()
    by_q: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cos"]))
    expect = _np_topk(vecs, qids, 5)
    for qid in qids:
        assert [n for n, _ in by_q[qid]] == [n for n, _ in expect[qid]]
        for (gn, gc), (en, ec) in zip(by_q[qid], expect[qid]):
            assert gc == pytest.approx(ec, abs=2e-6)


def test_bucket_lsh_is_bucket_restricted_brute_force(spark, emb):
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = annsearch.bucket_lsh_topk(emb, queries, k=5).collect()
    # every LSH neighbor shares the query's bucket
    buckets = {
        r["vec_id"]: r["b"]
        for r in emb.select("vec_id", annsearch.sign_bucket(F.col("embedding")).alias("b")).collect()
    }
    assert len(lsh) > 0
    for r in lsh:
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]
    # within a bucket, ranking is exact: rank sequence starts at 1, increasing
    by_q: dict[int, list] = {}
    for r in sorted(lsh, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        cos = [r["cos"] for r in rows]
        assert cos == sorted(cos, reverse=True)


def test_matmul_topk_matches_brute_force(spark, emb):
    """matmul_topk returns brute_force_topk's rows for long ids, string
    ids, a NULL vec_id (never a neighbor; here it holds a query's own
    vector, so it would rank first) and ids past 2^53 next to a NULL."""
    from pyspark.sql import functions as FF

    def check(vecs):
        queries = vecs.where(FF.col("vec_id").isin(*qids)).select(
            FF.col("vec_id").alias("query_id"), "embedding"
        )
        bf = annsearch.brute_force_topk(vecs, queries, k=5).collect()
        mm = annsearch.matmul_topk(vecs, queries, k=5).collect()
        key = lambda r: (r["query_id"], r["rank"])
        bf_s, mm_s = sorted(bf, key=key), sorted(mm, key=key)
        assert len(bf_s) == 5 * len(qids)
        assert [(r["query_id"], r["neighbor_id"], r["rank"]) for r in bf_s] == [
            (r["query_id"], r["neighbor_id"], r["rank"]) for r in mm_s
        ]
        for a, b in zip(bf_s, mm_s):
            assert a["cos"] == pytest.approx(b["cos"], abs=2e-6)

    qids = list(range(8))
    check(emb)
    null_row = emb.where(FF.col("vec_id") == 0).select(
        FF.lit(None).cast("long").alias("vec_id"), "embedding"
    )
    with_null = emb.select("vec_id", "embedding").unionByName(null_row)
    check(with_null)
    big = 2**53 + 1
    qids = [big + i for i in range(8)]
    check(with_null.select((FF.col("vec_id") + big).alias("vec_id"), "embedding"))
    qids = [f"d{i}" for i in range(8)]
    check(emb.select(FF.concat(FF.lit("d"), "vec_id").alias("vec_id"), "embedding"))


def test_matmul_topk_empty_queries(spark, emb):
    from pyspark.sql import functions as FF

    empty = emb.where(FF.col("vec_id") < 0).select(
        FF.col("vec_id").alias("query_id"), "embedding"
    )
    assert annsearch.matmul_topk(emb, empty, k=5).count() == 0


def test_zero_norm_embedding_is_not_nan(spark):
    from pyspark.sql import Row, functions as FF
    from phenoscape_owl_tools_spark.operators.dedup import embedding_near_dups

    rows = [Row(vec_id=1, embedding=[0.0, 0.0]), Row(vec_id=2, embedding=[1.0, 0.0])]
    emb = spark.createDataFrame(rows).select(
        "vec_id", FF.col("embedding").cast("array<float>").alias("embedding")
    )
    # zero vector has cosine 0 with everything: below threshold, no NaNs
    assert embedding_near_dups(emb, threshold=0.1).count() == 0


def test_ivf_full_probe_matches_brute_force(spark):
    """nprobe == n_cells probes every cell -> exact search; results must
    equal brute_force_topk including tie-breaks."""
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
             for r in annsearch.brute_force_topk(emb, queries, k=5).collect()}
    ivf = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
           for r in annsearch.ivf_topk(emb, queries, k=5, n_cells=8,
                                       nprobe=8, n_iters=3).collect()}
    assert ivf == exact


def test_ivf_partial_probe_recall(spark):
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = annsearch.brute_force_topk(emb, queries, k=5)
    got = annsearch.ivf_topk(emb, queries, k=5, n_cells=8, nprobe=4, n_iters=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    g = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    recall = len(e & g) / len(e)
    assert recall >= 0.5  # half the cells probed; embeddings are near-random
    # every query still returns k rows (probed cells are non-empty)
    from collections import Counter
    per_q = Counter(q for q, _ in g)
    assert all(v == 5 for v in per_q.values())


def test_ivf_fit_deterministic(spark):
    import numpy as np

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    c1 = annsearch.ivf_fit(emb, n_cells=4, n_iters=2)
    c2 = annsearch.ivf_fit(emb.repartition(7), n_cells=4, n_iters=2)
    assert np.allclose(c1, c2, atol=1e-12)


def test_ivf_full_probe_keeps_query_id_type(spark, emb):
    """String ids and long ids past 2^53 (neighbours differ only in bits a
    double drops) come back as brute_force_topk returns them."""
    big = 2**53 + 1
    for ids in (F.col("vec_id") + big, F.concat(F.lit("d"), "vec_id")):
        vecs = emb.select(ids.alias("vec_id"), "embedding")
        queries = vecs.orderBy("vec_id").limit(4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
                 for r in annsearch.brute_force_topk(vecs, queries, k=5).collect()}
        ivf = annsearch.ivf_topk(vecs, queries, k=5, n_cells=8, nprobe=8, n_iters=3)
        assert ivf.schema["query_id"].dataType == vecs.schema["vec_id"].dataType
        got = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
               for r in ivf.collect()}
        assert len(exact) == 20 and got == exact
