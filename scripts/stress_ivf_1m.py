"""IVF ANN top-k at 10^6 x 64 vectors: recall-vs-nprobe against exact
brute-force on the SAME queries (exact side = matmul_topk over the full
corpus, feasible because queries are few). Completes the r4 verdict's
IVF-at-1M ask alongside stress_semdedup_1m. One JSON line for BENCH §20."""
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# Spark's Python workers import the package through PYTHONPATH, not sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F

from phenoscape_owl_tools_spark.session import get_spark
from phenoscape_owl_tools_spark.operators import annsearch

REPS = 50
K = 10
N_CELLS = 1024
N_QUERIES = 40


def main():
    spark = get_spark("stress-ivf-1m")
    base = spark.read.parquet(str(ROOT / ".scratch" / "sf1" / "embeddings.parquet"))
    reps = spark.range(REPS).select(F.col("id").cast("int").alias("rep"))
    emb = (
        base.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") * REPS + F.col("rep")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x + F.col("rep") * F.lit(0.0003) * (i + 1) / 64.0,
            ).alias("embedding"),
        )
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    n = emb.count()
    queries = (
        emb.where(F.pmod(F.col("vec_id"), 25000) == 7)
        .limit(N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .localCheckpoint(eager=True)
    )
    nq = queries.count()
    out = {"n_vectors": n, "n_queries": nq, "k": K, "n_cells": N_CELLS}

    t0 = time.perf_counter()
    exact = annsearch.matmul_topk(emb, queries, k=K).localCheckpoint(eager=True)
    out["exact_s"] = round(time.perf_counter() - t0, 1)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    t0 = time.perf_counter()
    cents = annsearch.ivf_fit(emb, n_cells=N_CELLS, n_iters=5)
    out["fit_s"] = round(time.perf_counter() - t0, 1)
    for nprobe in (1, 4, 16, 64):
        t0 = time.perf_counter()
        approx = annsearch.ivf_topk(
            emb, queries, k=K, n_cells=N_CELLS, nprobe=nprobe, centroids=cents
        )
        got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        out[f"nprobe_{nprobe}"] = {
            "s": round(time.perf_counter() - t0, 1),
            "recall": round(len(got & truth) / len(truth), 4),
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
