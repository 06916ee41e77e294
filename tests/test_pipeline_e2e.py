"""End-to-end: full KB build on the fixture corpus vs the sequential Python
oracle — the P/R >= 0.95 triple-set gate (BASELINE.json north_rule), plus
checkpoint/resume semantics."""

from __future__ import annotations

import pytest

from phenoscape_owl_tools_spark.oracle import pipeline_oracle
from phenoscape_owl_tools_spark.plans import kb_build


def _inputs(spark, paths):
    return kb_build.KBInputs(
        documents=spark.read.parquet(paths["documents"]),
        terms=spark.read.parquet(paths["terms"]),
        synonyms=spark.read.parquet(paths["synonyms"]),
        subclass_edges=spark.read.parquet(paths["subclass_edges"]),
        equiv_edges=spark.read.parquet(paths["equiv_edges"]),
        restrictions=spark.read.parquet(paths["restrictions"]),
        gene_annotations=spark.read.parquet(paths["gene_annotations"]),
        homology=spark.read.parquet(paths["homology"]),
        taxonomy_edges=spark.read.parquet(paths["taxonomy_edges"]),
        state_phenotypes=spark.read.parquet(paths["state_phenotypes"]),
    )


@pytest.fixture(scope="module")
def pipeline_run(spark, corpus, tmp_path_factory):
    c, paths = corpus
    out = tmp_path_factory.mktemp("kb_out")
    res = kb_build.run(spark, _inputs(spark, paths), out_dir=out, n_buckets=4)
    got = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}
    return c, paths, out, res, got


def test_triple_pr_gate(pipeline_run):
    c, paths, out, res, got = pipeline_run
    expected = pipeline_oracle.expected_triples(c)
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    print(f"\ntriples: got={len(got)} expected={len(expected)} "
          f"P={precision:.4f} R={recall:.4f}")
    if precision < 0.95 or recall < 0.95:
        fp = list(got - expected)[:8]
        fn = list(expected - got)[:8]
        raise AssertionError(
            f"P={precision:.4f} R={recall:.4f}\nFP sample: {fp}\nFN sample: {fn}"
        )


def test_presence_absence_emitted(pipeline_run):
    from phenoscape_owl_tools_spark import vocab

    _, _, _, _, got = pipeline_run
    preds = {p for _, p, _ in got}
    assert vocab.HAS_PRESENCE_OF in preds
    assert vocab.HAS_ABSENCE_OF in preds
    assert vocab.HAS_PHENOTYPIC_PROFILE in preds
    assert vocab.DEPICTS in preds


def test_presence_absence_triples_exact(pipeline_run):
    """J4 and J5 equal the oracle's triples exactly: the P/R gate above
    would let a 5% loss of either through."""
    from phenoscape_owl_tools_spark import vocab

    c, _, _, _, got = pipeline_run
    expected = pipeline_oracle.expected_triples(c)
    for pred in (vocab.HAS_PRESENCE_OF, vocab.HAS_ABSENCE_OF):
        want = {t for t in expected if t[1] == pred}
        assert want, pred
        assert {t for t in got if t[1] == pred} == want, pred


def test_resume_rebuilds_span_annotations_of_the_old_schema(spark, pipeline_run, tmp_path):
    """An out_dir whose span_annotations stage holds per-span rows without
    their EQ class (the stage's schema under its old fingerprint tag
    "ann") is rebuilt, not resumed."""
    import shutil

    from phenoscape_owl_tools_spark import catalog

    c, paths, out, first, got = pipeline_run
    old = tmp_path / "kb_out"
    shutil.copytree(out, old)
    inputs = _inputs(spark, paths)
    per_span = first.stages["span_annotations"].select(
        "doc_id", "span_idx", "taxon", "entity", "quality", "related_entity")
    catalog.write_table(per_span, old / "span_annotations",
                        fingerprint=catalog.fingerprint("ann", kb_build._input_fingerprint(inputs)))
    res = kb_build.run(spark, inputs, out_dir=old, n_buckets=4)
    assert not res.manifests["span_annotations"].get("resumed")
    assert res.manifests["doc_triples"].get("resumed")
    assert {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()} == got


def test_resume_skips_stages(spark, pipeline_run):
    c, paths, out, first, got = pipeline_run
    res2 = kb_build.run(spark, _inputs(spark, paths), out_dir=out, n_buckets=4)
    resumed = [k for k, m in res2.manifests.items() if m.get("resumed")]
    assert "triples" in resumed and "closure" in resumed, res2.manifests.keys()
    got2 = {(r["subj"], r["pred"], r["obj"]) for r in res2.triples.collect()}
    assert got2 == got


def test_manifests_have_lineage(pipeline_run):
    _, _, out, res, _ = pipeline_run
    m = res.manifests["triples"]
    assert m["row_count"] > 0
    assert m["checksum"] is not None
    assert m["partition_counts"], "subject-hash partition counts missing"
    assert sum(m["partition_counts"].values()) == m["row_count"]


def test_resume_invalidated_by_input_change(spark, corpus, tmp_path_factory):
    """Changed input content with identical schema must NOT be served stale
    results from a previous run's stages."""
    from pyspark.sql import functions as F

    c, paths = corpus
    out = tmp_path_factory.mktemp("kb_out_inval")
    inputs = _inputs(spark, paths)
    res1 = kb_build.run(spark, inputs, out_dir=out, n_buckets=4)
    n1 = res1.triples.count()
    # drop half the documents: same schema, different content
    smaller = kb_build.KBInputs(
        **{**inputs.__dict__, "documents": inputs.documents.limit(40)}
    )
    res2 = kb_build.run(spark, smaller, out_dir=out, n_buckets=4)
    resumed = [k for k, m in res2.manifests.items()
               if isinstance(m, dict) and m.get("resumed")]
    assert resumed == [], f"stages wrongly resumed: {resumed}"
    assert res2.triples.count() != n1


def test_dimension_inputs_read_once(spark, tmp_path):
    """Each dimension input is read exactly once per run, in memory, with
    ``out_dir`` and on a fully resumed run, even when it is a lazy
    derivation of the documents (as the benchmark builds ``terms``).
    Each wrapped input adds every row it yields to an accumulator."""
    import random

    from pyspark.sql import functions as F

    from phenoscape_owl_tools_spark.sources import tpch_kg as KG

    vocab = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
    rng = random.Random(7)
    flat = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(10, 40))),
          "en", f"src{i % 20}") for i in range(60)],
        "doc_id long, text string, lang string, source string",
    )
    derive = {"terms": KG.terms, "subclass_edges": KG.subclass_edges,
              "equiv_edges": KG.equiv_edges}
    sizes = {name: d(flat).count() for name, d in derive.items()}

    def counted(df, acc):
        def rows(part):
            for r in part:
                acc.add(1)
                yield r
        return spark.createDataFrame(df.rdd.mapPartitions(rows), df.schema)

    def run(out_dir):
        accs = {name: spark.sparkContext.accumulator(0) for name in derive}
        dims = {name: counted(d(flat), accs[name]) for name, d in derive.items()}
        res = kb_build.run(spark, kb_build.KBInputs(
            documents=KG.span_documents(flat),
            synonyms=dims["terms"].limit(0).select(
                "iri", F.col("label").alias("synonym")),
            **dims,
        ), out_dir=out_dir, n_buckets=4)
        assert res.triples.count() > 0
        return res, {name: acc.value for name, acc in accs.items()}

    _, reads = run(None)
    assert reads == sizes
    _, reads = run(tmp_path)
    assert reads == sizes
    res, reads = run(tmp_path)
    assert res.manifests["triples"].get("resumed")
    assert reads == sizes
