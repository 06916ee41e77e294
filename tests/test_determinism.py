"""Partitioning-independence: the engine's determinism contract says results
(and minted IRIs) are identical regardless of partition count or row order —
required for resume, golden-file comparison, and cluster-size invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from phenoscape_owl_tools_spark.operators import components, dedup, mention
from phenoscape_owl_tools_spark.sources import tpch_kg as KG

from tests.conftest import SF001


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_mention_detection_partition_invariant(spark):
    flat = KG.load(spark, SF001, "documents")
    dictionary = KG.terms(flat).select(F.col("label").alias("surface"), "iri")
    a = mention.detect_mentions(spark, KG.span_documents(flat.repartition(13)), dictionary)
    b = mention.detect_mentions(spark, KG.span_documents(flat.repartition(2)), dictionary)
    assert _rows(a) == _rows(b)


def test_connected_components_edge_order_invariant(spark, both_routes):
    flat = KG.load(spark, SF001, "documents")
    eq = KG.equiv_edges(flat)

    @both_routes
    def _():
        a = components.connected_components(eq.repartition(11))
        b = components.connected_components(
            eq.orderBy(F.desc("a")).repartition(3)
        )
        assert _rows(a) == _rows(b)


def test_exact_dedup_keeper_stable_across_partitioning(spark):
    flat = KG.load(spark, SF001, "documents")
    a = dedup.exact_dedup(flat.repartition(9))
    b = dedup.exact_dedup(flat.repartition(1))
    assert _rows(a) == _rows(b)


def test_minhash_signatures_partition_invariant(spark):
    flat = KG.load(spark, SF001, "documents")
    sh_a = dedup.word_shingles(flat.repartition(7))
    sh_b = dedup.word_shingles(flat.repartition(2))
    assert _rows(dedup.minhash_signatures(sh_a, k=4)) == _rows(
        dedup.minhash_signatures(sh_b, k=4)
    )
