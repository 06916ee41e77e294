"""Composed training-corpus construction pipeline.

The X-series operators (quality scoring, repetition filters, exact +
near-dup dedup, benchmark decontamination, token-budget sampling) are each
individually oracle-verified; this plan composes them into the pipeline a
pretraining-data team actually runs, in the canonical order (cheap map-only
filters first, so every later shuffle sees a smaller corpus):

    documents
      -> doc_stats        quality + repetition metrics (map-only)
      -> filtered         threshold gate (semi-join on doc_id)
      -> exact_groups     X1 exact dedup; keep one per content hash
      -> neardup_pairs    X3 MinHash+LSH verified pairs over survivors
      -> dup_clusters     X14 pair graph -> CC -> one keeper per cluster
      -> semantic_kept    X27 SemDeDup over doc embeddings (optional)
      -> decontaminated   X15 drop benchmark-overlapping docs (optional)
      -> sampled          X19 per-group token-budget cut (optional)
      -> corpus           final document set
      -> packed           X24 training-sequence spans (optional)

Stage persistence reuses the KB build's lineage machinery
(``catalog.write_table``): every materialized stage carries a manifest with
fingerprint, row count, per-bucket partition counts, and an
order-insensitive content checksum, and a re-run with an unchanged input
fingerprint resumes from the persisted stage instead of recomputing
(``kb_build.run`` is the pattern; reference parity:
phenoscape-owl-tools' Makefile-style staged KB assembly, where each
artifact is a file with explicit provenance).

Scale notes: stages persist doc-id-level DECISION tables (stats, groups,
pairs, clusters, kept ids), never a copy of the corpus text — the final
corpus is one semi-join of ``documents`` against the kept-id table, so the
100 TB text column is written zero times. The funnel metrics come from the
stage manifests (row counts collected at write time), not extra actions; a
run without ``out_dir`` writes no manifests and reports an empty funnel.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from phenoscape_owl_tools_spark import catalog
from phenoscape_owl_tools_spark.operators import dedup, textstats
from phenoscape_owl_tools_spark.operators.sampling import quota_sample


@dataclass
class CorpusConfig:
    """Thresholds follow the Gopher/CCNet filter conventions, loosened for
    synthetic fixtures; production values are corpus-specific."""

    min_quality: float = 0.05  # quality_score.q lower bound
    max_dup_word_frac: float = 0.95  # repetition_stats upper bound
    lsh_threshold: float | None = 0.5  # near-dup cut; None skips the
    # pairs/clusters stages entirely (the streaming funnel's batch twin —
    # LSH clustering is a whole-corpus op with no incremental equivalent)
    decontam_ngram: int = 3
    decontam_min_overlap: int = 1
    budget_tokens: int | None = None  # per-group cut; None = keep all
    budget_by: str = "lang"
    n_buckets: int = 16
    sem_k: int = 8  # X27 semantic-dedup clusters (embeddings provided)
    sem_threshold: float = 0.4  # within-cluster cosine near-dup cut
    sem_trained: bool = False  # k-means codebook (mega-cluster protection)
    seq_len: int | None = None  # X24 packing; None = skip the packed stage


@dataclass
class CorpusResult:
    corpus: DataFrame
    stages: dict[str, DataFrame] = field(default_factory=dict)
    manifests: dict[str, dict] = field(default_factory=dict)

    def funnel(self) -> dict[str, int | None]:
        """Stage -> row count, from write-time manifests (no new actions).
        An in-memory run (no ``out_dir``) writes no manifests, so its
        funnel is ``{}``."""
        return {k: m.get("row_count") for k, m in self.manifests.items()}


def doc_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality + repetition metrics. Both operators are
    map-only column math, but the plan joins two scans on ``doc_id`` (a
    ``BroadcastHashJoin`` while one side fits the broadcast threshold), not
    one projection: the join pairs each quality row with every repetition
    row of the same id, which a single select would not do for duplicate
    doc ids."""
    q = textstats.quality_score(documents, text_col)
    r = textstats.repetition_stats(documents, text_col)
    return q.join(r, "doc_id")


def run(
    spark: SparkSession,
    documents: DataFrame,
    benchmark: DataFrame | None = None,
    embeddings: DataFrame | None = None,
    out_dir: str | Path | None = None,
    resume: bool = True,
    config: CorpusConfig | None = None,
    text_col: str = "text",
) -> CorpusResult:
    cfg = config or CorpusConfig()
    out_path = Path(out_dir) if out_dir else None
    result = CorpusResult(corpus=None)  # type: ignore[arg-type]

    stage = catalog.stage_runner(spark, result, out_path, resume, cfg.n_buckets)

    # content-covering fingerprint (see kb_build.run: schema-only
    # fingerprints would serve corpus A's cache for corpus B)
    in_fp = catalog.fingerprint(
        str(documents.schema),
        str(catalog.content_checksum(documents)) if out_path is not None else "",
        str(catalog.content_checksum(benchmark))
        if out_path is not None and benchmark is not None
        else "none",
        f"q>{cfg.min_quality};rep<{cfg.max_dup_word_frac};"
        f"lsh>{cfg.lsh_threshold};dec={cfg.decontam_ngram},"
        f"{cfg.decontam_min_overlap};bud={cfg.budget_tokens},{cfg.budget_by};"
        f"sem={cfg.sem_k},{cfg.sem_threshold},{cfg.sem_trained},"
        f"{str(catalog.content_checksum(embeddings)) if out_path is not None and embeddings is not None else 'none'};"
        f"seq={cfg.seq_len}",
    )

    docs = documents.withColumn("doc_id", F.col("doc_id").cast("string"))

    stats = stage(
        "doc_stats",
        catalog.fingerprint("stats", in_fp),
        lambda: doc_stats(docs, text_col),
        bucket_col="doc_id",
    )
    good_ids = stats.where(
        (F.col("q") >= cfg.min_quality)
        & (F.col("dup_word_frac") <= cfg.max_dup_word_frac)
    ).select("doc_id")
    filtered = docs.join(good_ids, "doc_id", "left_semi")

    exact = stage(
        "exact_groups",
        catalog.fingerprint("exact", in_fp),
        lambda: dedup.exact_dedup(filtered, text_col),
        bucket_col="doc_id",
    )
    exact_kept = filtered.join(
        exact.where(F.col("doc_id") == F.col("keep_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )

    if cfg.lsh_threshold is not None:
        pairs = stage(
            "neardup_pairs",
            catalog.fingerprint("pairs", in_fp),
            lambda: dedup.minhash_lsh_dedup(
                exact_kept, threshold=cfg.lsh_threshold
            ),
        )
        clusters = stage(
            "dup_clusters",
            catalog.fingerprint("clusters", in_fp),
            lambda: dedup.dedup_clusters(exact_kept, pairs),
            bucket_col="doc_id",
        )
        deduped = exact_kept.join(
            clusters.where(F.col("keep_flag") == 1).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    else:
        deduped = exact_kept

    if embeddings is not None:
        # X27: SemDeDup over the survivors' embeddings (vec_id == doc_id).
        # Only embeddings of still-kept docs participate: a doc already
        # dropped by text-level dedup must not suppress its semantic
        # neighbours. Decision table only — (doc_id, cluster, kept).
        def _semantic():
            from phenoscape_owl_tools_spark.operators import semdedup

            surv = embeddings.withColumn(
                "vec_id_str", F.col("vec_id").cast("string")
            ).join(
                deduped.select(F.col("doc_id").alias("vec_id_str")),
                "vec_id_str",
                "left_semi",
            )
            surv = surv.drop("vec_id_str")
            cents = None
            if cfg.sem_trained:
                # training re-scans the survivors n_iters+1 times (seed
                # collect + one partial-reduce per Lloyd round): freeze the
                # join lineage ONCE first. Zero embedded survivors -> fall
                # back to untrained (ivf_fit refuses an empty frame; the
                # untrained path yields the same empty decision table).
                surv = surv.localCheckpoint(eager=True)
                if not surv.isEmpty():
                    cents = semdedup.trained_centroids(surv, cfg.sem_k)
            return semdedup.semantic_dedup(
                surv, k=cfg.sem_k, threshold=cfg.sem_threshold, centroids=cents
            ).select(
                F.col("vec_id").cast("string").alias("doc_id"),
                "cluster",
                "kept",
            )

        semantic = stage(
            "semantic_kept",
            catalog.fingerprint("semantic", in_fp),
            _semantic,
            bucket_col="doc_id",
        )
        # anti-join on the PROVEN duplicates: a document with no embedding
        # row has no semantic verdict and must survive (SemDeDup can only
        # prove duplication for vectors it saw — embedding jobs commonly
        # lag corpus ingestion)
        deduped = deduped.join(
            semantic.where(~F.col("kept")).select("doc_id"), "doc_id", "left_anti"
        )

    if benchmark is not None:
        contaminated = stage(
            "contaminated",
            catalog.fingerprint("contam", in_fp),
            lambda: dedup.decontaminate(
                deduped,
                benchmark,
                n=cfg.decontam_ngram,
                min_overlap=cfg.decontam_min_overlap,
                text_col=text_col,
            ),
        )
        deduped = deduped.join(
            contaminated.select("doc_id"), "doc_id", "left_anti"
        )

    if cfg.budget_tokens is not None:
        sampled = stage(
            "sampled",
            catalog.fingerprint("sample", in_fp),
            lambda: quota_sample(
                deduped, cfg.budget_tokens, by=cfg.budget_by, text_col=text_col
            ),
            bucket_col="doc_id",
        )
        deduped = deduped.join(sampled.select("doc_id"), "doc_id", "left_semi")

    kept = stage(
        "kept_ids",
        catalog.fingerprint("kept", in_fp),
        lambda: deduped.select("doc_id"),
        bucket_col="doc_id",
    )
    # the ONLY touch of the text column on the output side: one semi-join
    result.corpus = docs.join(kept, "doc_id", "left_semi")

    if cfg.seq_len is not None:
        # X24: training-sequence assembly over the final corpus. Reads the
        # text column (token counts) but persists only the per-doc span
        # decision table — sequence shards can be cut later from any
        # partition subset because spans are a pure function of content.
        from phenoscape_owl_tools_spark.operators.packing import pack_sequences

        stage(
            "packed",
            catalog.fingerprint("packed", in_fp),
            lambda: pack_sequences(result.corpus, cfg.seq_len, text_col),
            bucket_col="doc_id",
        )

    return result
