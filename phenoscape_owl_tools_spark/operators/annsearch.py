"""Similarity search over an embedding column (array<float>).

Four top-k paths, mirroring the reference's two-phase similarity design
(exhaustive OWLsim cartesian scoring, sim/OWLsim.scala:94-139, vs its
100-way sharding for scale, RunPairwiseOWLSim.scala:40-46):

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  Query side broadcasts (queries are small); the scan side streams, so cost
  is one pass over the corpus per query batch, no shuffle of the corpus.
- ``matmul_topk``: the same exact answer from one numpy GEMM per Arrow
  batch against the broadcast query matrix, plus a global top-k window.
- ``bucket_lsh_topk``: sign-bit LSH (axis-aligned random-hyperplane family):
  bucket key = sign bits of fixed dimensions. Corpus and queries co-shuffle
  on the bucket key only, so each query scores only its bucket — the
  100-TB path. Recall is tunable via bits/multi-probe; candidates can be
  exactly re-verified downstream.
- ``ivf_topk``: a trained inverted file. ``ivf_fit`` learns the cells
  (deterministic k-means), SemDeDup's assigner places every vector in its
  nearest cell, and each query scores only its ``nprobe`` nearest cells.

Pair scores outside ``matmul_topk`` are JVM-side column math
(zip_with/aggregate over unit vectors, double precision).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from phenoscape_owl_tools_spark.operators.dedup import dot_col, unit_vector_col


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries``: (query_id, embedding). Returns
    (query_id, neighbor_id, cos, rank), rank 1..k by (cos desc, neighbor_id)
    — the deterministic tie-break keeps results partitioning-independent.
    Self-matches (same id) are excluded. Both sides are normalized once so
    each scored pair is a single array fold.
    """
    q = queries.select(F.col("query_id"), unit_vector_col(F.col("embedding")).alias("qe"))
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), unit_vector_col(F.col("embedding")).alias("ce")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_col(F.col("qe"), F.col("ce")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def sign_bucket(embedding_col, dims: tuple[int, ...] = (1, 8, 16, 24)) -> F.Column:
    """LSH bucket key: concatenated sign bits of the given (1-based) dims.

    Axis-aligned member of the random-hyperplane (SRP) family; deterministic
    so buckets are reproducible across runs and engines.
    """
    bits = [
        F.when(F.element_at(embedding_col, d).cast("double") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for d in dims
    ]
    return F.concat(*bits)


def bucket_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dims: tuple[int, ...] = (1, 8, 16, 24),
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's bucket.

    Join is an equi-join on the bucket key — at scale the corpus shuffles
    once by bucket (or is bucketed at write time) and each query touches
    ~n/2^bits candidates. Returns (query_id, neighbor_id, cos, rank).
    """
    q = queries.select(
        "query_id",
        unit_vector_col(F.col("embedding")).alias("qe"),
        sign_bucket(F.col("embedding"), dims).alias("bucket"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        unit_vector_col(F.col("embedding")).alias("ce"),
        sign_bucket(F.col("embedding"), dims).alias("bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_col(F.col("qe"), F.col("ce")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


MATMUL_SCHEMA = "query_id long, neighbor_id long, cos double, rank int"


def matmul_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul — the dense-vector
    fast path (one BLAS GEMM per corpus batch instead of per-pair array
    folds; ~10-100x the interpreted higher-order-function route).

    The (small) query matrix broadcasts to every executor; the corpus
    streams through ``mapInPandas`` partition-by-partition, each batch
    scoring against all queries at once and emitting only its local top-k
    candidates. A final window over (queries x per-partition candidates)
    yields the global top-k — identical results to :func:`brute_force_topk`
    (same double math, same (cos desc, neighbor_id) tie-break).
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    spark = embeddings.sparkSession
    q_rows = queries.select("query_id", "embedding").collect()
    if not q_rows:
        return spark.createDataFrame([], MATMUL_SCHEMA)
    qids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    qm = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    qm /= np.where(qn == 0, 1.0, qn)  # zero vectors stay zero, not NaN
    bc = spark.sparkContext.broadcast((qids, qm))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qm_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            nids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cm = np.array(list(pdf["embedding"]), dtype=np.float64)
            cn = np.linalg.norm(cm, axis=1, keepdims=True)
            cm /= np.where(cn == 0, 1.0, cn)
            sims = qm_ @ cm.T  # (n_queries, batch)
            out = {"query_id": [], "neighbor_id": [], "cos": [], "rank": []}
            top = min(k, sims.shape[1])
            for qi in range(len(qids_)):
                row = np.round(sims[qi], 6)
                mask = nids != qids_[qi]
                cand_ids, cand_cos = nids[mask], row[mask]
                # local top-k: sort by (-cos, neighbor_id) for determinism
                order = np.lexsort((cand_ids, -cand_cos))[:top]
                out["query_id"].extend([qids_[qi]] * len(order))
                out["neighbor_id"].extend(cand_ids[order])
                out["cos"].extend(cand_cos[order])
                out["rank"].extend([0] * len(order))
            yield pd.DataFrame(out)

    local = embeddings.select("vec_id", "embedding").mapInPandas(run, MATMUL_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index: k-means coarse quantizer + probed cell search
# ---------------------------------------------------------------------------

def ivf_fit(embeddings: DataFrame, n_cells: int = 16, n_iters: int = 5):
    """Deterministic k-means coarse quantizer over unit vectors.

    Returns a numpy (n_cells, dim) centroid matrix (driver-side — the
    codebook is dimension-scale and broadcasts; only the corpus is big).

    Determinism contract (engine-wide: identical output across runs and
    partitionings):
    - init = the ``n_cells`` lowest ``vec_id`` vectors (content-derived,
      not sampled);
    - fixed ``n_iters`` Lloyd rounds (no data-dependent stopping);
    - each round computes per-partition partial (cell, sum, count) via
      Arrow-batched GEMM assignment, then reduces the partials on the
      driver in sorted cell order — float addition order is fixed, so
      centroids are bit-stable under re-partitioning up to the partial
      grouping, which parquet layout fixes for a given input.

    Empty cells keep their previous centroid (standard Lloyd fallback).
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    spark = embeddings.sparkSession
    seed_rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(n_cells)
        .collect()
    )
    if not seed_rows:
        raise ValueError("ivf_fit: embeddings frame is empty")
    cent = np.array([r["embedding"] for r in seed_rows], dtype=np.float64)
    norms = np.linalg.norm(cent, axis=1, keepdims=True)
    cent /= np.where(norms == 0, 1.0, norms)

    partial_schema = "cell int, cnt long, vsum array<double>"
    for _ in range(n_iters):
        bc = spark.sparkContext.broadcast(cent)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.array(list(pdf["embedding"]), dtype=np.float64)
                n = np.linalg.norm(m, axis=1, keepdims=True)
                m = m / np.where(n == 0, 1.0, n)
                cells = np.argmax(m @ c.T, axis=1)
                out = []
                for cell in np.unique(cells):
                    sel = m[cells == cell]
                    out.append((int(cell), len(sel), sel.sum(axis=0).tolist()))
                yield pd.DataFrame(out, columns=["cell", "cnt", "vsum"])

        rows = (
            embeddings.select("embedding").mapInPandas(partials, partial_schema)
            .collect()
        )
        bc.unpersist()
        sums = np.zeros_like(cent)
        counts = np.zeros(len(cent))
        for r in sorted(rows, key=lambda r: (r["cell"], r["cnt"], tuple(r["vsum"]))):
            sums[r["cell"]] += np.array(r["vsum"])
            counts[r["cell"]] += r["cnt"]
        nonempty = counts > 0
        cent[nonempty] = sums[nonempty] / counts[nonempty, None]
        norms = np.linalg.norm(cent, axis=1, keepdims=True)
        cent /= np.where(norms == 0, 1.0, norms)
    return cent


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    n_iters: int = 5,
    centroids=None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest cells per query.

    The third ANN path next to exact GEMM (:func:`matmul_topk`) and
    sign-bucket LSH (:func:`bucket_lsh_topk`): a *trained* partition of the
    corpus, so candidate counts track the data's cluster structure instead
    of fixed hyperplanes. ``nprobe == n_cells`` degenerates to exact search
    (recall 1 by construction — the parity test uses this).

    Cells come from :func:`semdedup.assign_clusters` with the trained
    centroids: one Arrow GEMM per batch, argmax of round(cos, 6), ties to
    the smallest cell. The JVM-fold unit vectors it returns are the scored
    side, and neighbor ids keep the type of ``vec_id``.

    Scale shape: corpus shuffles ONCE on ``cell`` (or is bucketed at write
    time); queries explode to their probe list and equi-join on ``cell`` —
    no cartesian anywhere; scoring is the same JVM-side fold as LSH.
    """
    import numpy as np

    from .semdedup import assign_clusters

    spark = embeddings.sparkSession
    # collect queries FIRST: an empty query set must not pay the k-means fit
    q_rows = queries.select("query_id", "embedding").collect()
    if not q_rows:
        return spark.createDataFrame([], MATMUL_SCHEMA)
    if centroids is None:
        centroids = ivf_fit(embeddings, n_cells=n_cells, n_iters=n_iters)
    c = np.asarray(centroids, dtype=np.float64)
    assigned = assign_clusters(embeddings, centroids=list(enumerate(c))).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster").alias("cell"),
        F.col("u").alias("ce"),
    )
    probe_rows = []
    for r in q_rows:
        v = np.array(r["embedding"], dtype=np.float64)
        n = np.linalg.norm(v)
        v = v / (n if n else 1.0)
        order = np.argsort(-(c @ v), kind="stable")[: min(nprobe, len(c))]
        probe_rows.extend((r["query_id"], int(cell)) for cell in order)
    probes = spark.createDataFrame(probe_rows, "query_id long, cell int")
    q = queries.select("query_id", unit_vector_col(F.col("embedding")).alias("qe"))
    scored = (
        F.broadcast(probes.join(q, "query_id"))
        .join(assigned, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_col(F.col("qe"), F.col("ce")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
