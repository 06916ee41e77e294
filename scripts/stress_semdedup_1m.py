"""SemDeDup + IVF at 10^6 x 64-dim vectors — the r4 verdict's item 6.

Measures, on a deterministic 1M-vector corpus (sf1 embeddings x50 with a
per-replica epsilon — realistic near-dup structure, same recipe as
make_sf.py):

1. trained-centroid fit wall (ivf_fit, k cells, 5 Lloyd rounds) and the
   size of the per-round partial-reduce collect (partitions x cells rows);
2. cluster-size histogram (max / p99 / median / mean) for fixed smallest-k
   vs trained centroids — the mega-cluster failure mode at scale;
3. per-stage wall: assign -> within-cluster pair GEMM -> keep/drop
   decisions (the full semantic_dedup path);
4. recall vs EXACT on a sampled slice: exact tiled-GEMM pairs within a
   50k-vector slice, compared to the slice-internal subset of the full
   run's within-cluster pairs (exact all-pairs at 1M is 5x10^11
   comparisons — the slice is the only honest way to measure recall here,
   and it is reported as such).

Emits one JSON line for BENCH.md §20.
"""
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
from phenoscape_owl_tools_spark.operators import dedup, semdedup

REPS = 50
THRESH = 0.95
K = 1024
N_BLOCKS = 4
SLICE = 50_000


def main():
    spark = get_spark("stress-semdedup-1m")
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
    out = {"n_vectors": n, "dim": 64, "k": K, "n_blocks": N_BLOCKS,
           "threshold": THRESH}

    def hist(assigned):
        sizes = [r["c"] for r in assigned.groupBy("cluster")
                 .agg(F.count("*").alias("c")).orderBy("c").collect()]
        import statistics
        return {
            "n_clusters": len(sizes),
            "max": sizes[-1],
            "p99": sizes[int(0.99 * (len(sizes) - 1))],
            "median": int(statistics.median(sizes)),
            "mean": round(n / len(sizes), 1),
            "max_over_median": round(sizes[-1] / statistics.median(sizes), 2),
        }

    # fixed smallest-k centroids: the oracle-expressible default
    t0 = time.perf_counter()
    fixed_assigned = semdedup.assign_clusters(emb, K).localCheckpoint(eager=True)
    out["fixed_assign_s"] = round(time.perf_counter() - t0, 1)
    out["fixed_hist"] = hist(fixed_assigned)

    # trained centroids: 5 Lloyd rounds
    t0 = time.perf_counter()
    cents = semdedup.trained_centroids(emb, K)
    out["train_s"] = round(time.perf_counter() - t0, 1)
    out["partial_reduce_rows_per_round"] = 64 * K  # partitions x cells bound

    t0 = time.perf_counter()
    assigned = semdedup.assign_clusters(emb, K, cents).localCheckpoint(eager=True)
    out["trained_assign_s"] = round(time.perf_counter() - t0, 1)
    out["trained_hist"] = hist(assigned)

    t0 = time.perf_counter()
    pairs = semdedup._within_cluster_pairs(assigned, THRESH, N_BLOCKS)
    pairs = pairs.localCheckpoint(eager=True)
    out["n_pairs"] = pairs.count()
    out["pairs_s"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    dropped = (
        pairs.select(F.col("id_b").alias("vec_id")).dropDuplicates()
    )
    out["n_dropped"] = dropped.count()
    out["decide_s"] = round(time.perf_counter() - t0, 1)

    # recall on a sampled slice: exact pairs within the slice vs the
    # slice-internal subset of the full run's pairs
    slice_ids = emb.select("vec_id").orderBy(F.md5(F.col("vec_id").cast("string"))).limit(SLICE)
    slice_emb = emb.join(slice_ids, "vec_id", "left_semi").localCheckpoint(eager=True)
    t0 = time.perf_counter()
    exact = dedup.embedding_near_dups_gemm(slice_emb, threshold=THRESH, n_blocks=16)
    exact = exact.localCheckpoint(eager=True)
    n_exact = exact.count()
    out["slice_exact_pairs"] = n_exact
    out["slice_exact_s"] = round(time.perf_counter() - t0, 1)
    in_slice = (
        pairs.join(slice_ids.select(F.col("vec_id").alias("id_a")), "id_a", "left_semi")
        .join(slice_ids.select(F.col("vec_id").alias("id_b")), "id_b", "left_semi")
    )
    found = in_slice.join(
        exact.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
    ).count()
    out["slice_recall"] = round(found / n_exact, 4) if n_exact else None
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
