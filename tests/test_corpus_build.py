"""Composed training-corpus pipeline: stage semantics equal the individual
operators applied in sequence; manifests + resume behave like the KB build."""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import functions as F

from phenoscape_owl_tools_spark.operators import dedup, textstats
from phenoscape_owl_tools_spark.operators.sampling import quota_sample
from phenoscape_owl_tools_spark.plans import corpus_build

from tests.conftest import SF001


def _docs(spark):
    return spark.read.parquet(f"{SF001}/documents.parquet")


def _expected_ids(spark, docs, benchmark, cfg):
    """The pipeline semantics, restated independently operator by operator."""
    docs = docs.withColumn("doc_id", F.col("doc_id").cast("string"))
    stats = textstats.quality_score(docs).join(
        textstats.repetition_stats(docs), "doc_id"
    )
    good = stats.where(
        (F.col("q") >= cfg.min_quality)
        & (F.col("dup_word_frac") <= cfg.max_dup_word_frac)
    ).select("doc_id")
    filtered = docs.join(good, "doc_id", "left_semi")
    exact = dedup.exact_dedup(filtered)
    kept1 = filtered.join(
        exact.where(F.col("doc_id") == F.col("keep_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    pairs = dedup.minhash_lsh_dedup(kept1, threshold=cfg.lsh_threshold)
    cl = dedup.dedup_clusters(kept1, pairs)
    kept2 = kept1.join(
        cl.where(F.col("keep_flag") == 1).select("doc_id"), "doc_id", "left_semi"
    )
    if benchmark is not None:
        bad = dedup.decontaminate(
            kept2, benchmark, n=cfg.decontam_ngram,
            min_overlap=cfg.decontam_min_overlap,
        )
        kept2 = kept2.join(bad.select("doc_id"), "doc_id", "left_anti")
    if cfg.budget_tokens is not None:
        samp = quota_sample(kept2, cfg.budget_tokens, by=cfg.budget_by)
        kept2 = kept2.join(samp.select("doc_id"), "doc_id", "left_semi")
    return {r["doc_id"] for r in kept2.select("doc_id").collect()}


def test_pipeline_equals_operator_sequence(spark):
    docs = _docs(spark)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus_in = docs.where(F.col("doc_id") % 97 != 0)
    cfg = corpus_build.CorpusConfig(budget_tokens=800)
    res = corpus_build.run(spark, corpus_in, benchmark=bench, config=cfg)
    got = {r["doc_id"] for r in res.corpus.select("doc_id").collect()}
    expect = _expected_ids(spark, corpus_in, bench, cfg)
    assert got == expect
    assert got, "pipeline should keep at least one document"
    # the funnel only shrinks
    n_in = corpus_in.count()
    assert len(got) < n_in


def test_pipeline_persists_and_resumes(spark, tmp_path):
    docs = _docs(spark)
    cfg = corpus_build.CorpusConfig(budget_tokens=600)
    out = tmp_path / "corpus"
    r1 = corpus_build.run(spark, docs, out_dir=out, config=cfg)
    ids1 = {r["doc_id"] for r in r1.corpus.select("doc_id").collect()}
    funnel1 = r1.funnel()
    assert funnel1["doc_stats"] == docs.count()
    assert funnel1["kept_ids"] == len(ids1)
    assert all(not m.get("resumed") for m in r1.manifests.values())

    # second run resumes every stage from its manifest
    r2 = corpus_build.run(spark, docs, out_dir=out, config=cfg)
    ids2 = {r["doc_id"] for r in r2.corpus.select("doc_id").collect()}
    assert ids2 == ids1
    assert all(m.get("resumed") for m in r2.manifests.values())

    # changing a threshold invalidates the fingerprint: stages rebuild
    cfg2 = corpus_build.CorpusConfig(budget_tokens=300)
    r3 = corpus_build.run(spark, docs, out_dir=out, config=cfg2)
    assert all(not m.get("resumed") for m in r3.manifests.values())
    ids3 = {r["doc_id"] for r in r3.corpus.select("doc_id").collect()}
    assert ids3 < ids1  # smaller budget keeps strictly fewer docs


def test_pipeline_without_optional_stages(spark):
    docs = _docs(spark)
    res = corpus_build.run(spark, docs)  # no benchmark, no budget
    assert "contaminated" not in res.stages
    assert "sampled" not in res.stages
    got = res.corpus.count()
    assert 0 < got <= docs.count()


def test_pipeline_semantic_and_packing_stages(spark, tmp_path, both_routes):
    from phenoscape_owl_tools_spark.operators import semdedup
    from phenoscape_owl_tools_spark.operators.packing import pack_sequences

    docs = _docs(spark)
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    cfg = corpus_build.CorpusConfig(seq_len=512)
    base = _expected_ids(spark, docs, None, corpus_build.CorpusConfig())

    @both_routes
    def _():
        # a fresh out_dir per route, so the second route does not resume
        out = Path(tempfile.mkdtemp(prefix="corpus_sem_", dir=tmp_path))
        res = corpus_build.run(spark, docs, embeddings=emb, out_dir=out, config=cfg)
        got = {r["doc_id"] for r in res.corpus.select("doc_id").collect()}

        # restate: text-dedup survivors, then SemDeDup over THEIR embeddings only
        surv = emb.where(F.col("vec_id").cast("string").isin(*base))
        sem = semdedup.semantic_dedup(surv, k=cfg.sem_k, threshold=cfg.sem_threshold)
        sem_kept = {
            str(r["vec_id"]) for r in sem.where(F.col("kept")).collect()
        }
        assert got == base & sem_kept
        assert got < base  # the synthetic corpus HAS semantic near-dups

        # the packed stage is a true decision table over exactly the corpus
        packed = res.stages["packed"]
        assert {r["doc_id"] for r in packed.select("doc_id").collect()} == got
        expect_packed = {
            tuple(r) for r in pack_sequences(res.corpus, 512).collect()
        }
        assert {tuple(r) for r in packed.collect()} == expect_packed

        # resume covers the new stages too
        r2 = corpus_build.run(spark, docs, embeddings=emb, out_dir=out, config=cfg)
        assert r2.manifests["semantic_kept"].get("resumed")
        assert r2.manifests["packed"].get("resumed")


def test_semantic_stage_keeps_unembedded_docs(spark, both_routes):
    docs = _docs(spark)
    # embeddings for only half the corpus: un-embedded docs have no
    # semantic verdict and MUST survive the stage
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet").where(
        F.col("vec_id") % 2 == 0
    )
    base = _expected_ids(spark, docs, None, corpus_build.CorpusConfig())
    odd_base = {d for d in base if int(d) % 2 == 1}

    @both_routes
    def _():
        res = corpus_build.run(spark, docs, embeddings=emb)
        got = {r["doc_id"] for r in res.corpus.select("doc_id").collect()}
        assert odd_base <= got  # nothing un-embedded was dropped
        sem = res.stages["semantic_kept"]
        dropped = {r["doc_id"] for r in sem.where(~F.col("kept")).collect()}
        assert got == base - dropped


def test_semantic_stage_trained_mode(spark):
    docs = _docs(spark)
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    cfg = corpus_build.CorpusConfig(sem_trained=True)
    res = corpus_build.run(spark, docs, embeddings=emb, config=cfg)
    sem = res.stages["semantic_kept"]
    # decision table covers exactly the text-dedup survivors' embeddings,
    # keep rule internally consistent under the trained codebook
    base = _expected_ids(spark, docs, None, corpus_build.CorpusConfig())
    assert {r["doc_id"] for r in sem.collect()} == base
    got = {r["doc_id"] for r in res.corpus.select("doc_id").collect()}
    dropped = {r["doc_id"] for r in sem.where(~F.col("kept")).collect()}
    assert got == base - dropped


def test_trained_mode_with_no_embedded_survivors_falls_back(spark):
    docs = _docs(spark)
    # an embedding id namespace disjoint from the corpus: zero survivors embed
    emb = spark.read.parquet(f"{SF001}/embeddings.parquet").withColumn(
        "vec_id", F.col("vec_id") + 10_000_000
    )
    cfg = corpus_build.CorpusConfig(sem_trained=True)
    res = corpus_build.run(spark, docs, embeddings=emb, config=cfg)  # must not raise
    assert res.stages["semantic_kept"].count() == 0
    got = {r["doc_id"] for r in res.corpus.select("doc_id").collect()}
    assert got == _expected_ids(spark, docs, None, corpus_build.CorpusConfig())


def test_empty_text_gets_null_quality_and_is_dropped(spark):
    """An empty document has no characters to score: its q is NULL, as in
    the DuckDB oracle (no divide-by-zero under ANSI), and the quality gate
    drops it while the build completes."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod

    texts = {
        1: "",
        2: "graph nodes carry typed labels across seven shards",
        3: "vector search ranks nearby embeddings within probed cells",
        4: "stream batches append fresh rows into partitioned tables",
    }
    pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    docs = spark.createDataFrame(pdf)
    got = {tuple(r) for r in textstats.quality_score(docs.where("doc_id = 1")).collect()}
    assert got == {("1", 1, 0.0, None)}
    con = duckdb.connect()
    con.register("documents", pdf[pdf["doc_id"] == 1])
    assert {tuple(r) for r in con.execute(entrymod.SQL_QUALITY_SCORE).fetchall()} == got

    res = corpus_build.run(spark, docs, config=corpus_build.CorpusConfig())
    assert {r["doc_id"] for r in res.corpus.select("doc_id").collect()} == {"2", "3", "4"}
