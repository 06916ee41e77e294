"""Streaming training-corpus funnel — the availableNow twin of the batch
``plans/corpus_build.run`` pipeline's streamable prefix.

Composes the streaming-feasible stages into ONE drain-style pipeline over
a document file stream:

    documents (file stream)
      -> quality/repetition gates   map-only, per micro-batch
      -> exact dedup                cross-batch keeper state (decision dir)
      -> decontamination            broadcast benchmark grams, map-side
      -> per-batch DECISION table   (doc_id, hash, gate/keeper/contam/kept)

Near-dup LSH clustering, SemDeDup and quota sampling are whole-corpus
operators with no incremental equivalent — the batch twin for equality is
``corpus_build.run`` with ``lsh_threshold=None`` and no budget/embeddings
(the config documents this pairing). Everything the stream decides is
written as a decision table; like the batch plan, the text column is never
persisted — the corpus is a semi-join of the source against the kept ids.

Semantics contract (asserted by tests/test_streaming.py):

- gates and decontamination are PER-DOCUMENT decisions — batch and stream
  agree unconditionally;
- the exact-dedup keeper is the batch plan's lexicographic-minimum
  stringified doc_id. The stream keeps a document iff it is the minimum
  of its micro-batch AND no other batch recorded a keeper with the same
  content hash and a smaller doc_id — equal to the batch decision whenever
  documents arrive in doc_id order (the natural discipline for
  monotonically-keyed ingest). Under that discipline, replay after
  checkpoint loss is idempotent: each batch overwrites its own
  content-keyed partition (the ``ingest._drive_extraction_stream``
  discipline). Out of doc_id order it is NOT: a smaller-id duplicate that
  arrives in a later batch leaves both keepers ``kept`` (the kept ids then
  hold duplicate content), and an out-of-order replay can flip an earlier
  batch's decision. No post-drain ``min(doc_id)`` per content hash
  reconciliation exists yet.

Every micro-batch writes a lineage manifest (row count, checksum,
fingerprint = batch content key) via ``catalog.write_table`` — the
streaming counterpart of the batch plan's per-stage manifests.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from phenoscape_owl_tools_spark import catalog
from phenoscape_owl_tools_spark.operators import dedup
from phenoscape_owl_tools_spark.plans.corpus_build import CorpusConfig, doc_stats
from phenoscape_owl_tools_spark.streaming.ingest import drain, read_document_stream

DECISIONS = "decisions"
# Read with this schema, never inferred: partition type inference turns an
# all-digit batch key (a hex checksum can be one) into a long, which drops
# its leading zeros, and comparing it with a hex key then fails under ANSI
# casts or, without them, silently drops every prior keeper.
DECISION_SCHEMA = (
    "doc_id string, content_hash string, gate_pass boolean, exact_keeper boolean, "
    "contaminated boolean, kept boolean, batch string"
)


def _prior_keepers(
    spark: SparkSession, out_path: str, current_key: str
) -> DataFrame | None:
    """Exact-dedup keeper rows from every OTHER batch's decision table.

    Scale note: this reads the whole decision directory per micro-batch
    (column-pruned to (content_hash, doc_id), partition-pruned by
    ``batch``), so a drain of B batches does O(B) scans of a table that
    grows with the corpus — acceptable for drain-style availableNow runs,
    but a long-lived continuous deployment should periodically COMPACT
    the keeper rows into a bucketed-by-``content_hash`` table (one
    ``catalog.write_table`` of this frame) and read that instead; the
    id-comparison rule is unaffected because compaction preserves
    (hash, keeper_id) rows verbatim."""
    root = Path(out_path) / DECISIONS
    if not any(root.glob("batch=*")):
        return None
    df = read_corpus_decisions(spark, out_path)
    return (
        df.where(F.col("batch") != current_key)
        .where(F.col("exact_keeper"))
        .select("content_hash", F.col("doc_id").alias("keeper_id"))
    )


def run_streaming_corpus(
    spark: SparkSession,
    documents_path: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    benchmark: DataFrame | None = None,
    config: CorpusConfig | None = None,
    max_files_per_trigger: int | None = 1,
    text_col: str = "text",
) -> None:
    """Drain all available document files through the corpus funnel,
    writing one decision table + manifest per micro-batch.

    ``benchmark`` (static) is shingled once up front and broadcast into
    every micro-batch join — the stream-static pattern of
    ``run_incremental_ingest``; the corpus side never shuffles for it.
    """
    cfg = config or CorpusConfig()
    if benchmark is not None:
        bench_grams = (
            dedup.word_shingles(benchmark, cfg.decontam_ngram, text_col)
            .select("shingle")
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )

    docs = read_document_stream(spark, documents_path, schema, max_files_per_trigger)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.isEmpty():
            return
        key = format(
            catalog.content_checksum(batch_df) & 0xFFFFFFFFFFFFFFFF, "016x"
        )
        b = batch_df.withColumn("doc_id", F.col("doc_id").cast("string"))

        # stage 1: map-only gates (identical expressions to the batch plan)
        stats = doc_stats(b, text_col)
        gates = stats.select(
            "doc_id",
            (
                (F.col("q") >= cfg.min_quality)
                & (F.col("dup_word_frac") <= cfg.max_dup_word_frac)
            ).alias("gate_pass"),
        )

        # stage 2: exact dedup — within-batch minimum, then cross-batch
        # keeper suppression by id comparison (replay-order independent)
        fp = dedup.exact_fingerprints(b, text_col)
        passing = fp.join(gates.where("gate_pass"), "doc_id", "left_semi")
        batch_min = passing.groupBy("fp").agg(F.min("doc_id").alias("min_id"))
        keepers = passing.join(
            batch_min,
            (passing["fp"] == batch_min["fp"])
            & (passing["doc_id"] == batch_min["min_id"]),
            "left_semi",
        )
        prior = _prior_keepers(spark, out_path, key)
        if prior is not None:
            suppressed = (
                keepers.join(
                    prior, keepers["fp"] == prior["content_hash"], "inner"
                )
                .where(F.col("keeper_id") < F.col("doc_id"))
                .select("doc_id")
                .dropDuplicates()
            )
            keepers = keepers.join(suppressed, "doc_id", "left_anti")
        keeper_ids = keepers.select("doc_id").withColumn(
            "exact_keeper", F.lit(True)
        )

        # stage 3: decontamination of surviving keepers only (per-doc
        # decision; broadcast benchmark grams, corpus never shuffles)
        if benchmark is not None:
            surv = b.join(keepers.select("doc_id"), "doc_id", "left_semi")
            grams = dedup.word_shingles(surv, cfg.decontam_ngram, text_col)
            contam_ids = (
                grams.join(F.broadcast(bench_grams), "shingle")
                .groupBy("doc_id")
                .agg(F.count("*").alias("n_overlap"))
                .where(F.col("n_overlap") >= cfg.decontam_min_overlap)
                .select("doc_id")
                .withColumn("contaminated", F.lit(True))
            )
        else:
            contam_ids = None

        decisions = (
            fp.withColumnRenamed("fp", "content_hash")
            .join(gates, "doc_id", "left")
            .join(keeper_ids, "doc_id", "left")
        )
        if contam_ids is not None:
            decisions = decisions.join(contam_ids, "doc_id", "left")
        else:
            decisions = decisions.withColumn("contaminated", F.lit(None).cast("boolean"))
        decisions = decisions.select(
            "doc_id",
            "content_hash",
            F.coalesce("gate_pass", F.lit(False)).alias("gate_pass"),
            F.coalesce("exact_keeper", F.lit(False)).alias("exact_keeper"),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
            (
                F.coalesce("gate_pass", F.lit(False))
                & F.coalesce("exact_keeper", F.lit(False))
                & ~F.coalesce("contaminated", F.lit(False))
            ).alias("kept"),
        )
        catalog.write_table(
            decisions,
            Path(out_path) / DECISIONS / f"batch={key}",
            fingerprint=key,
        )

    drain(docs, sink, checkpoint_path)


def read_corpus_decisions(spark: SparkSession, out_path: str) -> DataFrame:
    """All per-batch decision tables (adds the ``batch`` partition key)."""
    return spark.read.schema(DECISION_SCHEMA).parquet(str(Path(out_path) / DECISIONS))


def streaming_kept_ids(spark: SparkSession, out_path: str) -> DataFrame:
    """doc_ids the streamed funnel kept — the batch twin of
    ``corpus_build.run(...).stages['kept_ids']``."""
    return (
        read_corpus_decisions(spark, out_path)
        .where(F.col("kept"))
        .select("doc_id")
        .dropDuplicates()
    )
