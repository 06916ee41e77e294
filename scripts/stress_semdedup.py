"""Stress A/B: exact all-pairs GEMM (X5) vs SemDeDup within-cluster GEMM
(X27) at 100k x 64-dim vectors — the quadratic-reduction claim, measured.

Vectors derive deterministically from sf1 embeddings (20k) replicated 5x
with a tiny per-replica epsilon (same recipe as make_sf.py), so both paths
see realistic near-dup structure. Reports wall + pair counts + the
within-cluster recall of the exact pair set (the documented SemDeDup
approximation: pairs split across cells are missed).
"""
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
from phenoscape_owl_tools_spark.operators import dedup, semdedup

REPS = 5
THRESH = 0.95  # tight threshold: the SemDeDup regime (near-identical docs)


def main():
    spark = get_spark("stress-semdedup")
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
        .localCheckpoint(eager=True)
    )
    n = emb.count()
    print(f"vectors: {n}")

    for k in (64,):
        t0 = time.perf_counter()
        sem = semdedup.semantic_near_dups(emb, k=k, threshold=THRESH, n_blocks=8)
        n_sem = sem.count()
        t_sem = time.perf_counter() - t0
        print(f"semdedup k={k}: {n_sem} pairs in {t_sem:.1f}s")

    t0 = time.perf_counter()
    exact = dedup.embedding_near_dups_gemm(emb, threshold=THRESH, n_blocks=32)
    n_exact = exact.count()
    t_exact = time.perf_counter() - t0
    print(f"exact all-pairs: {n_exact} pairs in {t_exact:.1f}s")
    print(f"within-cluster recall: {n_sem / n_exact:.4f}  speedup {t_exact / t_sem:.1f}x")
    spark.stop()


if __name__ == "__main__":
    main()
