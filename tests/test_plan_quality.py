"""Physical-plan regression tests: the optimizations we rely on at 100 TB
must be visible in the plan, not assumed — broadcast joins for dimension
tables, filter/column pushdown into the parquet scan, single extraction
pass, whole-stage codegen coverage."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

from tests.conftest import SF001


def _plan(spark, name: str, mode: str = "formatted") -> str:
    # component queries merged out of the registry stay reachable as q_<name>
    fn = entrymod.queries().get(name) or getattr(entrymod, f"q_{name}")
    df = fn(spark, SF001)
    jvm = spark._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_tpch_q3_broadcasts_customer_and_pushes_filters(spark):
    plan = _plan(spark, "tpch_q3")
    assert "BroadcastHashJoin" in plan
    # date/segment predicates reach the parquet scans
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "[]" not in l]
    assert len(pushed) >= 2, f"expected pushed filters on >=2 scans:\n{plan}"


def test_tpch_q6_filter_pushdown(spark):
    plan = _plan(spark, "tpch_q6")
    assert any(
        "PushedFilters" in l and "l_shipdate" in l for l in plan.splitlines()
    ), plan


def test_token_count_column_pruning(spark):
    plan = _plan(spark, "token_count")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "source" not in read and "n_chars" not in read


def test_extraction_runs_once_in_presence_query(spark):
    """The mention UDF subtree is materialized (localCheckpoint): the outer
    plan must reference the materialized RDD, not re-plan MapInPandas per
    branch."""
    plan = _plan(spark, "presence_query")
    assert plan.count("MapInPandas") == 0, "extraction must be pre-materialized"
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


def test_mentions_count_single_udf_pass(spark):
    plan = _plan(spark, "mentions_count")
    assert plan.count("MapInPandas") <= 1


def test_whole_stage_codegen_on_relational_anchor(spark):
    # AQE wraps everything in AdaptiveSparkPlan pre-execution, hiding codegen
    # subtrees; disable it for the static inspection only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(spark, "tpch_q1", mode="codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
    assert m and int(m.group(1)) >= 1, plan[:500]


def test_dimension_broadcasts_in_linking(spark):
    """Term-dimension joins in the KG path must broadcast, never shuffle the
    doc-derived side."""
    plan = _plan(spark, "normalized_predicates")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_dedup_contract_has_no_cartesian(spark):
    """X5 contract runs the tiled-GEMM path: equi-joined block tiles only —
    a CartesianProduct/BroadcastNestedLoopJoin here is the 100TB
    scale-killer regression."""
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivf_topk_has_no_cartesian(spark):
    """IVF search must stay an equi-join on the probed cell key."""
    from pyspark.sql import functions as F

    from phenoscape_owl_tools_spark.operators import annsearch

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = annsearch.ivf_topk(emb, queries, k=3, n_cells=4, nprobe=2, n_iters=1)
    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # probes broadcast to the corpus


def test_pairwise_similarity_blocked_mica_plan(spark):
    """J9 skew defense must be visible in the plan when the hub path is
    selected: the hub-ancestor bitmask aggregation (bit_or over shifted hub
    positions) feeding the compact-mask product, and the rare-ancestor
    equi-join excluding hub keys. hub_bits is forced on because the
    registry's tiny fixture auto-selects the naive plan (see
    test_pairwise_similarity_auto_selects_naive_below_threshold). The
    partition-histogram acceptance bar (max <= 4x median) lives in
    tests/test_similarity.py::test_pairwise_rare_join_skew_bounded."""
    from pyspark.sql import functions as F

    from phenoscape_owl_tools_spark.operators import similarity as S

    cl = spark.createDataFrame(
        [("a", "root"), ("b", "root"), ("c", "root")], ["sub", "sup"]
    )
    prof = spark.createDataFrame(
        [("g1", "a"), ("g2", "b"), ("t1", "a"), ("t2", "c")],
        ["individual", "phenotype"],
    )
    q = prof.where(F.col("individual").startswith("g"))
    c = prof.where(F.col("individual").startswith("t"))
    ic = S.information_content(
        S.indirect_associations(prof, cl), c.select("individual"), cl
    )
    df = S.pairwise_scores(q, c, cl, ic, hub_bits=2)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "bit_or" in plan, "hub bitmask aggregation missing:\n" + plan[:2000]
    # Catalyst pushes the isin-negation through the IRI-projection, so the
    # filter shows up against the source expression, not the anc alias.
    assert re.search(r"NOT .+ IN \(", plan), (
        "rare-join hub exclusion missing:\n" + plan[:2000]
    )


def test_pairwise_similarity_auto_selects_naive_below_threshold(spark):
    """hub_bits=None auto-selects: the hub machinery is fixed overhead on
    small corpora (measured: 14.1 s -> ~4 s at sf0.1), so below
    AUTO_HUB_PRODUCT_THRESHOLD the plan must be the plain equi-join —
    no bitmask aggregation anywhere."""
    plan = _plan(spark, "pairwise_similarity")
    assert "bit_or" not in plan, "naive auto-selection regressed:\n" + plan[:2000]


def test_pairwise_rare_join_keeps_explicit_width(spark):
    """The rare-ancestor join fans out (output >> input) and AQE sizes
    partitions from map-output bytes, so without an explicit
    REPARTITION_BY_NUM it collapses the join to ~1 task (observed: 83.6M
    candidate rows in one partition at the 10^4x10^4 stress). Both sides
    must carry a user-specified hash repartition on the join key, which
    AQE is forbidden to coalesce."""
    from pyspark.sql import functions as F

    from phenoscape_owl_tools_spark.operators import similarity

    qi = spark.range(100).select(
        F.col("id").alias("qid"), F.lit(0).alias("pid"),
        (F.col("id") % 7).alias("rid"),
    )
    ci = spark.range(100).select(
        F.col("id").alias("cid"), (F.col("id") % 7).alias("rid2")
    )
    df = similarity._rare_candidates(qi, ci, hub_rids=[99])
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert plan.count("REPARTITION_BY_NUM") >= 2, plan[:2500]


def test_direct_hierarchy_two_hop_keeps_explicit_width(spark):
    """Same fan-out hazard as the pairwise rare join: closure∘closure emits
    |descendants| x |ancestors| rows per key from compact inputs, so the
    two-hop self-join must carry user-specified repartitions AQE cannot
    coalesce."""
    from phenoscape_owl_tools_spark.operators import closure as closure_op

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], ["sub", "sup"]
    )
    df = closure_op.direct_hierarchy(edges)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert plan.count("REPARTITION_BY_NUM") >= 2, plan[:2500]


def test_sparql_analytics_partial_aggregation(spark):
    """The SPARQL aggregate path must compile to a two-phase hash
    aggregate (map-side partial + final after one shuffle on the group
    key) — i.e. one groupBy().agg() Catalyst can split, not a collect
    or a window."""
    plan = _plan(spark, "sparql_analytics")
    # partial + final aggregate pair on the grouping key (COUNT DISTINCT
    # compiles to the sort-based two-exchange shape; either family is a
    # distributed two-phase aggregate)
    assert len(re.findall(r"HashAggregate|SortAggregate", plan)) >= 2
    # ORDER BY + LIMIT must fuse to a top-k, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_sparql_values_broadcast(spark):
    """VALUES inline data joins must broadcast — never shuffle the big
    solution side against a literal handful of rows."""
    from phenoscape_owl_tools_spark import sparql as sparql_mod
    from pyspark.sql import functions as F

    flat = spark.read.parquet(f"{SF001}/documents.parquet")
    from phenoscape_owl_tools_spark.sources import tpch_kg as KG
    from phenoscape_owl_tools_spark import vocab

    t = KG.subclass_edges(flat).select(
        F.col("sub").alias("subj"),
        F.lit(vocab.RDFS_SUBCLASS_OF).alias("pred"),
        F.col("sup").alias("obj"),
    )
    q = """PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
    SELECT ?sub WHERE { ?sub rdfs:subClassOf ?sup .
      VALUES ?sup { "http://kg.example.org/root" } }"""
    df = sparql_mod.evaluate(t, q)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def _sparql_plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )


def test_sparql_conditioned_left_join_stays_equi(spark):
    """LeftJoin(P1, P2, F) with an outer-referencing filter must compile
    to a hash/sort-merge join on the shared-var equality keys with F as
    an extra join condition — NOT a nested-loop over the full product
    (the correlated case always has equality conjuncts; only they make
    the shape scale)."""
    from phenoscape_owl_tools_spark import sparql as sparql_mod
    from pyspark.sql import functions as F

    t = spark.createDataFrame(
        [("s%d" % i, "http://ex/p", str(i)) for i in range(100)]
        + [("s%d" % i, "http://ex/q", str(i * 2)) for i in range(100)],
        "subj string, pred string, obj string",
    )
    q = ("SELECT ?s ?o ?v WHERE { ?s <http://ex/p> ?o . "
         "OPTIONAL { ?s <http://ex/q> ?v . FILTER(?v > ?o) } }")
    plan = _sparql_plan(sparql_mod.evaluate(t, q))
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan), plan
    assert "CartesianProduct" not in plan, plan


def test_sparql_correlated_exists_stays_equi(spark):
    """A correlated FILTER EXISTS with a body filter over outer vars
    keeps its semi-join hash-based (equality on the shared var extracted
    from the conjunction; the filter rides as the join condition)."""
    from phenoscape_owl_tools_spark import sparql as sparql_mod

    t = spark.createDataFrame(
        [("s%d" % i, "http://ex/p", str(i)) for i in range(100)]
        + [("s%d" % i, "http://ex/q", str(i * 2)) for i in range(100)],
        "subj string, pred string, obj string",
    )
    q = ("SELECT ?s WHERE { ?s <http://ex/p> ?o . "
         "FILTER EXISTS { ?s <http://ex/q> ?w . FILTER(?w > ?o) } }")
    plan = _sparql_plan(sparql_mod.evaluate(t, q))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan), plan


def test_sparql_builtins_stay_jvm_side_and_push_down(spark, tmp_path):
    """SPARQL builtin functions (STRSTARTS/STRLEN/UCASE/...) compile to
    Catalyst column expressions: no Python evaluation node may appear in
    the plan, and a builtin predicate on a triple-pattern variable must
    reach the parquet scan as a pushed data-source filter — at 100 TB the
    scan, not the join, has to drop the non-matching rows."""
    from phenoscape_owl_tools_spark import sparql as sparql_mod

    EX = "http://example.org/"
    rows = [(f"{EX}s{i}", EX + ("p" if i % 2 else "q"), f"v{i}")
            for i in range(64)]
    path = str(tmp_path / "triples")
    spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    ).write.parquet(path)
    t = spark.read.parquet(path)
    q = (f"PREFIX ex: <{EX}>\n"
         "SELECT ?a ?c WHERE { ?a ex:p ?b . ?b ex:q ?c . "
         'FILTER(STRSTARTS(?a, "http") && STRLEN(?c) > 1) }')
    df = sparql_mod.evaluate(t, q)
    jvm = spark._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # STRSTARTS on ?a (bound by the first pattern only) must reach the scan
    assert any("StringStartsWith" in l for l in plan.splitlines()
               if "PushedFilters" in l), plan


def test_decontaminate_benchmark_join_is_broadcast(spark):
    # the benchmark gram set is dimension-sized: the corpus side must stream
    # through a BroadcastHashJoin (no corpus shuffle before the join)
    plan = _plan(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan, plan


def test_repetition_stats_is_map_only(spark):
    # pure column math: no Exchange (shuffle) and no Python in the plan
    plan = _plan(spark, "repetition_stats")
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_dedup_windows_shuffles_on_long_keys(spark):
    # gram strings are hashed to 64-bit keys before any shuffle: no Exchange
    # may carry the raw gram string
    plan = _plan(spark, "dedup_windows")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "gram" not in line, line


def test_simhash_near_dups_candidates_via_equi_join(spark):
    # Manku block index: candidates MUST come from an equi-join on block
    # keys, never a cartesian/nested-loop over fingerprints
    plan = _plan(spark, "simhash_near_dups")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_quota_sample_offsets_broadcast(spark):
    # the (group, bucket) offset table is dimension-sized and must broadcast;
    # the cumulative window partitions on (grp, bucket), never grp alone
    plan = _plan(spark, "quota_sample")
    assert "BroadcastHashJoin" in plan, plan
    # the corpus-side cumulative window spec must include the bucket key
    assert re.search(
        r"windowspecdefinition\(grp#\d+, bucket#\d+, rk#\d+ ASC", plan
    ), plan


def test_unigram_logppl_stays_jvm_side(spark):
    plan = _plan(spark, "unigram_logppl")
    assert "Python" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_word_windows_and_text_stats_have_no_per_element_lambdas(spark):
    # higher-order functions run interpreted, per element: word windows,
    # stopword and repetition counts are built from code-generated array
    # functions, and only repetition_stats' one aggregate pass remains
    from phenoscape_owl_tools_spark.operators import dedup, textstats

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    plans = {
        "word_shingles": dedup.word_shingles(docs, 3),
        "positional_windows": dedup.positional_windows(docs, 8),
        "quality_score": textstats.quality_score(docs),
        "repetition_stats": textstats.repetition_stats(docs),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "transform(" not in plan and "filter(" not in plan, (name, plan)
        # the aggregate's merge and finish functions are its two lambdas
        n_agg = 1 if name == "repetition_stats" else 0
        assert plan.count("aggregate(") == n_agg, (name, plan)
        assert plan.count("lambdafunction(") == 2 * n_agg, (name, plan)


PYTHON_OPERATORS = ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython")


def test_mention_routes_plan_python_only_for_phrases(spark):
    """A dictionary of single-token surfaces is matched in the JVM: no
    Python operator in the plan. A phrase dictionary runs the trie in
    exactly one MapInPandas."""
    from pyspark.sql import functions as F

    from phenoscape_owl_tools_spark.operators import mention
    from phenoscape_owl_tools_spark.sources import tpch_kg as KG

    flat = spark.read.parquet(f"{SF001}/documents.parquet")
    spans = KG.span_documents(flat)
    words = KG.terms(flat).select(F.col("label").alias("surface"), "iri")
    phrases = words.unionByName(spark.createDataFrame([("big toe", "iri:big_toe")], words.schema))

    def plan(dictionary) -> str:
        df = mention.detect_mentions(spark, spans, dictionary)
        return df._jdf.queryExecution().sparkPlan().toString()

    word_plan = plan(words)
    assert not any(op in word_plan for op in PYTHON_OPERATORS), word_plan
    assert "BroadcastHashJoin" in word_plan, word_plan
    phrase_plan = plan(phrases)
    assert phrase_plan.count("MapInPandas") == 1, phrase_plan
    assert sum(phrase_plan.count(op) for op in PYTHON_OPERATORS) == 1, phrase_plan
