"""Composed corpus pipeline at sf10 (r4 verdict item 2): end-to-end wall
for the eight-stage pipeline (gates -> exact -> LSH clusters -> SemDeDup
-> decontam -> quota -> kept -> packed) on 500k documents / 200k
embeddings, plus full-resume wall. One JSON line for BENCH.md §20."""
import json
import shutil
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
from phenoscape_owl_tools_spark.plans import corpus_build

SF10 = ROOT / ".scratch" / "sf10"
OUT = ROOT / ".scratch" / "corpus_sf10"


def main():
    spark = get_spark("stress-corpus-sf10")
    spark.range(10**6).selectExpr("sum(id)").collect()  # full-width warmup
    docs = spark.read.parquet(f"{SF10}/documents.parquet")
    emb = spark.read.parquet(f"{SF10}/embeddings.parquet")
    bench = docs.orderBy("doc_id").limit(200).select("doc_id", "text")
    bench = bench.localCheckpoint(eager=True)
    cfg = corpus_build.CorpusConfig(
        budget_tokens=2_000_000, sem_trained=True, seq_len=2048
    )
    shutil.rmtree(OUT, ignore_errors=True)
    t0 = time.perf_counter()
    res = corpus_build.run(
        spark, docs, benchmark=bench, embeddings=emb, out_dir=OUT, config=cfg
    )
    n = res.corpus.count()
    t_full = round(time.perf_counter() - t0, 1)
    funnel = res.funnel()
    t0 = time.perf_counter()
    res2 = corpus_build.run(
        spark, docs, benchmark=bench, embeddings=emb, out_dir=OUT, config=cfg
    )
    n2 = res2.corpus.count()
    t_resume = round(time.perf_counter() - t0, 1)
    resumed = all(m.get("resumed") for m in res2.manifests.values())
    print(json.dumps({
        "n_docs": docs.count(), "n_embeddings": emb.count(),
        "corpus_docs": n, "funnel": funnel,
        "full_s": t_full, "resume_s": t_resume,
        "resume_docs_equal": n == n2, "all_stages_resumed": resumed,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
