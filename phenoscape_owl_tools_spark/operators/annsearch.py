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
from pyspark.sql.types import IntegerType, StructField, StructType
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


def _topk_schema(embeddings: DataFrame, queries: DataFrame) -> str:
    """(query_id, neighbor_id, cos, rank), each id keeping its input type."""
    from .semdedup import _id_type

    q_t = queries.schema["query_id"].dataType.simpleString()
    return f"query_id {q_t}, neighbor_id {_id_type(embeddings)}, cos double, rank int"


def matmul_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul — the dense-vector
    fast path (one BLAS GEMM per corpus batch instead of per-pair array
    folds; ~10-100x the interpreted higher-order-function route).

    The (small) query matrix broadcasts to every executor; the corpus
    streams through ``mapInArrow`` partition-by-partition, each batch
    scoring against all queries at once and emitting only its local top-k
    candidates. A final window over (queries x per-partition candidates)
    yields the global top-k — the answer of :func:`brute_force_topk`
    (JVM-fold unit vectors, round(cos, 6), (cos desc, neighbor_id)
    tie-break). Ids stay Arrow, so string ids and ids past 2^53 keep
    their values and types; a NULL ``vec_id`` is never a neighbor and a
    NULL ``query_id`` has none, as ``query_id != neighbor_id`` decides in
    :func:`brute_force_topk`.
    """
    import numpy as np
    import pyarrow as pa
    from typing import Iterator

    from .semdedup import _id_array, _unit_matrix

    spark = embeddings.sparkSession
    schema = _topk_schema(embeddings, queries)
    q_tbl = queries.where(F.col("query_id").isNotNull()).select(
        "query_id", unit_vector_col(F.col("embedding")).alias("u")
    ).toArrow()
    if not q_tbl.num_rows:
        return spark.createDataFrame([], schema)
    bc = spark.sparkContext.broadcast(
        (q_tbl.column("query_id").combine_chunks(), _unit_matrix(q_tbl.column("u")))
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        q_ids, q_units = bc.value
        qids = _id_array(q_ids.to_pylist())
        for batch in batches:
            if not batch.num_rows:
                continue
            vec_ids = batch.column("vec_id")
            nids = _id_array(vec_ids.to_pylist())
            sims = np.round(q_units @ _unit_matrix(batch.column("u")).T, 6)
            known = np.flatnonzero(vec_ids.is_valid().to_numpy(zero_copy_only=False))
            by_id = known[np.argsort(nids[known], kind="stable")]
            q_idx, n_idx = [], []
            for qi, qid in enumerate(qids):
                cand = by_id[nids[by_id] != qid]
                # local top-k by (cos desc, neighbor_id): stable on by_id
                top = cand[np.argsort(-sims[qi, cand], kind="stable")[:k]]
                q_idx.extend([qi] * len(top))
                n_idx.extend(top)
            q_idx = np.asarray(q_idx, dtype=np.int64)
            n_idx = np.asarray(n_idx, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    q_ids.take(pa.array(q_idx)),
                    vec_ids.take(pa.array(n_idx)),
                    pa.array(sims[q_idx, n_idx], pa.float64()),
                    pa.array(np.zeros(len(q_idx), np.int32)),
                ],
                names=["query_id", "neighbor_id", "cos", "rank"],
            )

    local = embeddings.select(
        "vec_id", unit_vector_col(F.col("embedding")).alias("u")
    ).mapInArrow(run, schema)
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
    import pandas as pd

    from .semdedup import assign_clusters

    spark = embeddings.sparkSession
    # collect queries FIRST: an empty query set must not pay the k-means fit
    q_rows = queries.select("query_id", "embedding").collect()
    if not q_rows:
        return spark.createDataFrame([], _topk_schema(embeddings, queries))
    if centroids is None:
        centroids = ivf_fit(embeddings, n_cells=n_cells, n_iters=n_iters)
    c = np.asarray(centroids, dtype=np.float64)
    assigned = assign_clusters(embeddings, centroids=list(enumerate(c))).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster").alias("cell"),
        F.col("u").alias("ce"),
    )
    probe_ids, probe_cells = [], []
    for r in q_rows:
        v = np.array(r["embedding"], dtype=np.float64)
        n = np.linalg.norm(v)
        v = v / (n if n else 1.0)
        order = np.argsort(-(c @ v), kind="stable")[: min(nprobe, len(c))]
        probe_ids.extend([r["query_id"]] * len(order))
        probe_cells.append(order)
    # a pandas frame over Arrow, typed from the queries: ids keep their type
    # (strings, longs past 2^53) and no Python worker runs
    probes = spark.createDataFrame(
        pd.DataFrame({
            "query_id": pd.Series(probe_ids, dtype=object),
            "cell": np.concatenate(probe_cells).astype(np.int32),
        }),
        StructType([queries.schema["query_id"], StructField("cell", IntegerType())]),
    )
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
