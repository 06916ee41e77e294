"""OWLsim semantic-similarity layer (SURVEY.md A3-A5, J9-J10, W1-W2).

Re-expression of sim/OWLsim.scala over DataFrames:

- association accumulation up the DAG (A3, :212-225) = profiles joined with
  the reflexive subclass closure, grouped per node;
- IC (A4, :80-92, 242-262): normalizedIC(freq) = -log2(freq/corpus)/MaxIC,
  MaxIC = -log2(1/corpus); zero-frequency nodes inherit the max parent IC —
  by monotonicity (frequency is non-decreasing upward) that equals the IC of
  the smallest positive ancestor frequency, so the reference's recursive
  traversal becomes one join + min;
- pairwise scores (J9/A5, :272-306): per (query, corpus, query-annotation),
  the max common-subsumer IC (MICA) over all corpus annotations; the pair
  score is the **exact median** (incl. even-size average, :303-306) of those
  maxima — ``percentile``, never ``percentile_approx``;
- top-20 subsumers per pair (W1, :381) = window row_number;
- Jaccard (J10, :289-293) = ancestor-set intersection/union counts.

The reference shards the cartesian product over 100 SLURM JVMs
(RunPairwiseOWLSim.scala:40-46); here the "cartesian" is split by subsumer
frequency: hub subsumers (the root and other classes that subsume nearly
everything — the keys that would make a shared-ancestor equi-join collapse
into one partition) are evaluated as bitmask intersections over an evenly
tiled cross join of compact per-profile mask rows, while rare subsumers go
through a skew-bounded equi-join. See ``pairwise_scores``. Pairs that share
no subsumer never materialize, and Spark partitioning replaces manual
sharding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from phenoscape_owl_tools_spark import vocab


def reflexive_ancestors(closure: DataFrame, nodes: DataFrame) -> DataFrame:
    """(node, ancestor) incl. self, from a (sub, sup) closure table."""
    proper = closure.select(F.col("sub").alias("node"), F.col("sup").alias("ancestor"))
    selfs = nodes.select(F.col("node")).dropDuplicates().select(
        "node", F.col("node").alias("ancestor")
    )
    return proper.unionByName(selfs).dropDuplicates()


def indirect_associations(profiles: DataFrame, closure: DataFrame) -> DataFrame:
    """A3 — (individual, node): every reflexive ancestor of every direct
    annotation (OWLsim.scala:212-225 accumulateAssociations)."""
    anc = reflexive_ancestors(
        closure, profiles.select(F.col("phenotype").alias("node"))
    )
    return (
        profiles.join(anc, profiles["phenotype"] == anc["node"])
        .select("individual", F.col("ancestor").alias("node"))
        .dropDuplicates()
    )


def information_content(
    indirect: DataFrame,
    corpus_individuals: DataFrame,
    closure: DataFrame,
) -> DataFrame:
    """A4 — (node, freq, ic). ``corpus_individuals(individual)`` defines the
    corpus (reference: IRI prefix convention, ComputeICs.scala:19-23)."""
    corpus = F.broadcast(corpus_individuals.select("individual").dropDuplicates())
    corpus_size = corpus.count()
    in_corpus = indirect.join(corpus, on="individual", how="leftsemi")
    freqs = in_corpus.groupBy("node").agg(F.countDistinct("individual").alias("freq"))

    max_ic = F.log2(F.lit(float(corpus_size)))  # -log2(1/N)
    nodes = indirect.select("node").dropDuplicates()
    freqs = nodes.join(freqs, on="node", how="left").fillna(0, subset=["freq"])

    # zero-freq fallback: IC of the smallest positive ancestor frequency
    pos = freqs.where(F.col("freq") > 0).select(
        F.col("node").alias("anc_node"), F.col("freq").alias("anc_freq")
    )
    anc = closure.select(F.col("sub").alias("node"), F.col("sup").alias("ancestor"))
    min_anc_freq = (
        anc.join(pos, anc["ancestor"] == pos["anc_node"])
        .groupBy("node")
        .agg(F.min("anc_freq").alias("min_pos_anc_freq"))
    )
    out = freqs.join(min_anc_freq, on="node", how="left").select(
        "node",
        "freq",
        F.when(
            F.col("freq") > 0,
            (-F.log2(F.col("freq") / F.lit(float(corpus_size)))) / max_ic,
        )
        .otherwise(
            F.coalesce(
                (-F.log2(F.col("min_pos_anc_freq") / F.lit(float(corpus_size)))) / max_ic,
                F.lit(1.0),
            )
        )
        .alias("ic"),
    )
    return out


def _annotation_ancestors(
    query_profiles: DataFrame, corpus_profiles: DataFrame, closure: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(query, qa, anc) and (corpus, anc2) reflexive-ancestor tables."""
    q_anc = (
        query_profiles.join(
            reflexive_ancestors(closure, query_profiles.select(F.col("phenotype").alias("node"))),
            query_profiles["phenotype"] == F.col("node"),
        )
        .select(
            F.col("individual").alias("query"),
            F.col("phenotype").alias("qa"),
            F.col("ancestor").alias("anc"),
        )
        .dropDuplicates()
    )
    c_anc = (
        corpus_profiles.join(
            reflexive_ancestors(closure, corpus_profiles.select(F.col("phenotype").alias("node"))),
            corpus_profiles["phenotype"] == F.col("node"),
        )
        .select(
            F.col("individual").alias("corpus"),
            F.col("ancestor").alias("anc2"),
        )
        .dropDuplicates()
    )
    return q_anc, c_anc


def global_rank(df: DataFrame, order_cols: list[str], out_col: str) -> DataFrame:
    """Deterministic 1-based global rank over ``order_cols`` (ascending),
    without a single-task global sort: range-partition, rank locally per
    sorted range, offset by per-range counts (a dimension-scale collect).

    ``repartitionByRange`` picks boundaries by SAMPLING with a seed derived
    from the RDD id, so two executions of the same lazy plan can place rows
    in different ranges. Ranks are only correct if the per-range counts and
    the local ranks come from the SAME placement — therefore the ranged
    frame is materialized (``localCheckpoint``) FIRST, the counts are
    collected from that frozen frame, and the returned ranks derive from it
    too. Without this, a re-executed caller saw offsets from one placement
    applied to local ranks of another (duplicate/out-of-range ranks).

    Input must be duplicate-free on ``order_cols`` (ranks are then a total
    order). Dimension-scale driver cost: one count per range (<= 64 rows).
    """
    n_ranges = max(1, min(64, df.sparkSession.sparkContext.defaultParallelism))
    ranged = df.repartitionByRange(
        n_ranges, *[F.col(c) for c in order_cols]
    ).withColumn("_rid", F.spark_partition_id())
    w = Window.partitionBy("_rid").orderBy(*[F.asc(c) for c in order_cols])
    local = ranged.withColumn("_lr", F.row_number().over(w)).localCheckpoint(eager=True)
    counts = {r["_rid"]: r["count"] for r in local.groupBy("_rid").count().collect()}
    offsets, acc = {}, 0
    for rid in sorted(counts):
        offsets[rid] = acc
        acc += counts[rid]
    offset_map = (
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
        if offsets
        else F.create_map()
    )
    return local.withColumn(
        out_col, (F.col("_lr") + F.coalesce(offset_map[F.col("_rid")], F.lit(0))).cast("long")
    ).drop("_rid", "_lr")


def hub_ancestors(ic: DataFrame, hub_bits: int) -> list[tuple[str, float]]:
    """The ``hub_bits`` most corpus-frequent subsumers, returned in bit-position
    order: descending (ic, iri) so that position 0 is the BEST possible MICA —
    the first set bit of a mask intersection is then the hub MICA directly.

    Frequency ordering is total (freq desc, iri asc) so the hub set is
    deterministic across runs — required for resume/golden comparison.
    """
    if hub_bits <= 0:
        return []
    cols = set(ic.columns)
    if "freq" in cols:
        ranked = ic.where(F.col("freq") > 0).orderBy(F.desc("freq"), F.asc("node"))
    else:  # fallback: ic is monotone-decreasing in frequency
        ranked = ic.orderBy(F.asc("ic"), F.asc("node"))
    rows = ranked.select("node", "ic").limit(hub_bits).collect()
    # bit order = the MICA preference order used by max(struct(ic, anc))
    rows.sort(key=lambda r: (r["ic"], r["node"]), reverse=True)
    return [(r["node"], float(r["ic"])) for r in rows]


def _hub_masks(
    anc_df: DataFrame, anc_col: str, group_cols: list[str], hub_pos: DataFrame
) -> DataFrame:
    """One row per group with a bitmask of hub-ancestor membership."""
    return (
        anc_df.join(F.broadcast(hub_pos), anc_df[anc_col] == hub_pos["hub_rid"])
        .groupBy(*group_cols)
        .agg(F.expr("bit_or(shiftleft(1L, hub_pos))").alias("mask"))
    )


def _encoded_inputs(
    q_anc: DataFrame, c_anc: DataFrame, ic: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Integer-encode the pairwise inputs so every hot-path shuffle carries
    longs, not IRIs: (qi(qid, pid, rid), ci(cid, rid), ranked, qd, cd, pd).

    ``ranked(node, ic, rid)`` ranks ancestors ascending by (ic, node), so
    ``max(rid)`` over candidate ancestors IS ``max(struct(ic, anc))`` — the
    MICA preference order becomes a single-long comparison and the rare path
    needs no IC join at all (a candidate's value is its own rank). Ancestors
    absent from ``ic`` are dropped, matching the inner IC join of the
    un-encoded formulation. The dimension tables (query/corpus individuals,
    query annotations, ranked ancestors) are broadcast for encode/decode —
    they are ontology/profile-owner scale, orders of magnitude smaller than
    the pair product."""
    # global_rank materializes its ranged frame internally, so ranked/qd/cd/pd_
    # are frozen mappings: encode and decode see identical rank assignments.
    ranked = global_rank(ic.select("node", "ic"), ["ic", "node"], "rid")
    qd = global_rank(q_anc.select("query").dropDuplicates(), ["query"], "qid")
    cd = global_rank(c_anc.select("corpus").dropDuplicates(), ["corpus"], "cid")
    pd_ = global_rank(q_anc.select("qa").dropDuplicates(), ["qa"], "pid")
    anc_rid = F.broadcast(ranked.select(F.col("node").alias("_an"), "rid"))
    qi = (
        q_anc.join(F.broadcast(qd), on="query")
        .join(F.broadcast(pd_), on="qa")
        .join(anc_rid, q_anc["anc"] == F.col("_an"))
        .select("qid", "pid", "rid")
    )
    ci = (
        c_anc.join(F.broadcast(cd), on="corpus")
        .join(anc_rid, c_anc["anc2"] == F.col("_an"))
        .select("cid", F.col("rid").alias("rid2"))
    )
    return qi, ci, ranked, qd, cd, pd_


def _rare_candidates(qi: DataFrame, ci: DataFrame, hub_rids: list[int]) -> DataFrame:
    """Per-(qid, cid, pid) MICA candidates from NON-hub shared ancestors —
    a plain long-keyed equi-join whose hottest key is, by construction, no
    more frequent than the coldest hub (skew-bounded). The candidate value
    is the shared ancestor's rank itself.

    Both sides are explicitly co-partitioned on the join key at session
    parallelism: the join FANS OUT (tens of output rows per input row) and
    AQE sizes partitions from map-output bytes, so left to itself it
    coalesces the small long-encoded inputs into one task that then emits
    the entire candidate product serially. REPARTITION_BY_NUM shuffles are
    exempt from AQE coalescing, keeping the fan-out spread at full width."""
    if hub_rids:
        qi = qi.where(~F.col("rid").isin(hub_rids))
        ci = ci.where(~F.col("rid2").isin(hub_rids))
    par = qi.sparkSession.sparkContext.defaultParallelism
    return (
        qi.repartition(par, "rid")
        .join(ci.repartition(par, "rid2"), F.col("rid") == F.col("rid2"))
        .select("qid", "cid", "pid", F.col("rid").alias("cand"))
    )


# Below this (query-annotations x corpus-annotations) product the hub
# machinery (rank checkpoint, mask aggregations, tiled product, extra
# shuffles) is pure fixed overhead over the plain equi-join — no key can be
# hot enough to matter. Mirrors the Fitch auto-strategy pattern.
AUTO_HUB_PRODUCT_THRESHOLD = 25_000_000


def _pairwise_scores_simple(
    q_anc: DataFrame, c_anc: DataFrame, ic: DataFrame
) -> DataFrame:
    """The definitional MICA formulation — one shared-ancestor equi-join +
    ``max(struct(ic, anc))``. Row-identical to the blocked/encoded plan
    (rank order IS this struct order); used below the auto threshold where
    the encoded pipeline's fixed stage count dominates."""
    icn = ic.select(F.col("node").alias("_n"), "ic")
    return (
        q_anc.join(c_anc, q_anc["anc"] == c_anc["anc2"])
        .join(icn, F.col("anc") == F.col("_n"))
        .groupBy("query", "corpus", "qa")
        .agg(F.max(F.struct("ic", F.col("anc"))).alias("m"))
        .select(
            "query", "corpus", "qa",
            F.col("m.ic").alias("max_subsumer_ic"),
            F.col("m.anc").alias("max_subsumer"),
        )
    )


def pairwise_scores(
    query_profiles: DataFrame,
    corpus_profiles: DataFrame,
    closure: DataFrame,
    ic: DataFrame,
    hub_bits: int | None = None,
) -> DataFrame:
    """J9/A5 — per-(query, corpus, query-annotation) best common subsumer
    (MICA), the input to the exact-median pair score.

    Skew-safe blocked-MICA plan (reference semantics: sim/OWLsim.scala:272-306
    at RunPairwiseOWLSim.scala:40-46 scale). A naive shared-ancestor equi-join
    puts the FULL |query-annotations| x |corpus-profiles| product on the
    partition of each hub key (the ontology root subsumes everything), so one
    task absorbs the whole cartesian at scale. Instead:

    - the whole hot path runs INTEGER-ENCODED (``_encoded_inputs``):
      ancestors are globally ranked ascending by (ic, iri), so the MICA
      preference ``max(struct(ic, anc))`` becomes ``max(rank)`` — one long
      per candidate instead of IRI strings plus a struct, and the rare path
      needs no IC join (a candidate's value is its own rank). Individuals
      and annotations are likewise rank-encoded; IRIs are restored by
      broadcast dimension joins after the aggregate (map-side, no shuffle);
    - the ``hub_bits`` most corpus-frequent subsumers are handled WITHOUT an
      ancestor join: each (query, qa) and each corpus profile reduces to one
      row carrying a hub-membership bitmask (bit order = descending rank);
      the hub MICA of a pair is the lowest set bit of ``mask & mask2`` — an
      O(1) bit-trick per output row over an explicitly tiled cross join of
      two COMPACT mask tables (this product IS the output size, so the cross
      join is optimal and uniformly distributed, never key-skewed);
    - all remaining (rare) ancestors go through the long-keyed equi-join,
      whose hottest key is now bounded above by the coldest hub's frequency;
    - both candidate streams union into ONE groupBy (map-side combined), so
      the plan has no more shuffles than the naive one.

    ``hub_bits=0`` disables the hub path (the naive all-pairs plan, kept for
    A/B benchmarking); ``hub_bits=None`` (default) auto-selects — 0 when the
    annotation product is under ``AUTO_HUB_PRODUCT_THRESHOLD`` (the hub
    machinery's fixed overhead dominates small corpora), 48 otherwise.
    Results are exactly equal for any ``hub_bits`` — rank order IS the
    max-(ic, anc) struct order on both paths.
    """
    if hub_bits is None:
        n_q = query_profiles.count()
        n_c = corpus_profiles.count()
        if n_q * n_c <= AUTO_HUB_PRODUCT_THRESHOLD:
            # Small corpora skip the ENTIRE encode/block machinery: the
            # rank/encode/decode pipeline is ~15 fixed stages (measured 10x
            # slower than the one-join struct-max at sf0.1 scale), and no
            # key can be hot enough to need it.
            q_anc, c_anc = _annotation_ancestors(
                query_profiles, corpus_profiles, closure
            )
            return _pairwise_scores_simple(q_anc, c_anc, ic)
        hub_bits = 48
    if not 0 <= hub_bits <= 62:
        raise ValueError(f"hub_bits must be in [0, 62], got {hub_bits}")
    q_anc, c_anc = _annotation_ancestors(query_profiles, corpus_profiles, closure)
    qi, ci, ranked, qd, cd, pd_ = _encoded_inputs(q_anc, c_anc, ic)
    hubs = hub_ancestors(ic, hub_bits)
    hub_rids = _hub_rids(ranked, hubs)

    spark = query_profiles.sparkSession
    cands = _rare_candidates(qi, ci, hub_rids)

    if hub_rids:
        # bit order = descending rank, so position 0 is the BEST possible MICA
        # and the lowest set bit of a mask intersection is the hub MICA rank.
        by_pref = sorted(hub_rids, reverse=True)
        hub_pos = F.broadcast(
            spark.createDataFrame(
                [(r, i) for i, r in enumerate(by_pref)], ["hub_rid", "hub_pos"]
            )
        )
        rid_arr = F.array(*[F.lit(r) for r in by_pref])
        q_masks = _hub_masks(qi, "rid", ["qid", "pid"], hub_pos)
        c_masks = _hub_masks(
            ci.select("cid", F.col("rid2")), "rid2", ["cid"], hub_pos
        ).withColumnRenamed("mask", "mask2")
        # Explicitly tile the compact mask tables: AQE coalesces each small
        # aggregate output to ~1 partition, which would make the cross join a
        # single tile — one task generating (and partially aggregating) the
        # whole product. Tiles = parallelism on the query side.
        par = spark.sparkContext.defaultParallelism
        q_masks = q_masks.repartition(par)
        c_masks = c_masks.repartition(max(1, par // 8))
        hub_cands = (
            q_masks.crossJoin(c_masks)
            .withColumn("band", F.expr("mask & mask2"))
            .where(F.col("band") != 0)
            # lowest set bit index = trailing zeros = popcount(band ^ (band-1)) - 1
            .withColumn("pos", F.expr("bit_count(band ^ (band - 1)) - 1"))
            .select(
                "qid",
                "cid",
                "pid",
                F.element_at(rid_arr, F.col("pos") + 1).alias("cand"),
            )
        )
        cands = cands.unionByName(hub_cands)

    best = cands.groupBy("qid", "cid", "pid").agg(F.max("cand").alias("best_rid"))
    return (
        best.join(F.broadcast(qd), on="qid")
        .join(F.broadcast(cd), on="cid")
        .join(F.broadcast(pd_), on="pid")
        .join(
            F.broadcast(ranked), best["best_rid"] == ranked["rid"]
        )
        .select(
            "query",
            "corpus",
            "qa",
            F.col("ic").alias("max_subsumer_ic"),
            F.col("node").alias("max_subsumer"),
        )
    )


def _hub_rids(ranked: DataFrame, hubs: list[tuple[str, float]]) -> list[int]:
    """Ranks of the hub ancestors (driver-side lookup, <= 62 rows)."""
    if not hubs:
        return []
    names = [a for a, _ in hubs]
    return [
        int(r["rid"])
        for r in ranked.where(F.col("node").isin(names)).select("rid").collect()
    ]


def groupwise_median(pair_annotation_scores: DataFrame) -> DataFrame:
    """W2 — exact median per (query, corpus) (OWLsim.scala:303-306)."""
    return pair_annotation_scores.groupBy("query", "corpus").agg(
        F.expr("percentile(max_subsumer_ic, 0.5)").alias("score")
    )


def top_subsumers(pair_annotation_scores: DataFrame, k: int = 20) -> DataFrame:
    """W1 — per pair, subsumers of the k best annotation scores with ic > 0
    (OWLsim.scala:381)."""
    w = Window.partitionBy("query", "corpus").orderBy(
        F.desc("max_subsumer_ic"), F.asc("qa")
    )
    return (
        pair_annotation_scores.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") <= k) & (F.col("max_subsumer_ic") > 0))
        .select("query", "corpus", "max_subsumer", "max_subsumer_ic")
        .dropDuplicates()
    )


def corpus_hub_nodes(
    corpus_profiles: DataFrame, closure: DataFrame, bits: int
) -> list[str]:
    """The ``bits`` most corpus-frequent indirect-association nodes
    (deterministic tie-break by node) — the hub list
    :func:`jaccard_similarity` probes for itself when none is supplied.
    Compute once and pass via ``hubs=`` to amortize the probe (one
    groupBy/orderBy/limit/collect) across repeated similarity calls
    against the same corpus (r3 verdict nit).

    ``bits`` is bounded like ``hub_bits``: one hub per bit of a signed
    64-bit mask, so at most 62."""
    if not 0 <= bits <= 62:
        raise ValueError(f"bits must be in [0, 62], got {bits}")
    ci = indirect_associations(
        corpus_profiles.select("individual", "phenotype"), closure
    )
    return [
        r["node"]
        for r in ci.groupBy("node").count()
        .orderBy(F.desc("count"), F.asc("node")).limit(bits).collect()
    ]


def jaccard_similarity(
    query_profiles: DataFrame,
    corpus_profiles: DataFrame,
    closure: DataFrame,
    hub_bits: int | None = None,
    hubs: list[str] | None = None,
) -> DataFrame:
    """J10 — |anc(q) ∩ anc(c)| / |anc(q) ∪ anc(c)| over indirect
    association sets (OWLsim.scala:289-293).

    Same hub-skew hazard as the MICA join (every association set contains
    the root, so its key carries the full |queries| x |corpus| product) and
    the same cure, adapted to COUNTING: the ``hub_bits`` most
    corpus-frequent nodes become per-profile bitmasks, and a pair's hub
    intersection count is ``bit_count(mask & mask2)`` over the explicitly
    tiled compact-mask product (which already covers every pair, since
    every profile contains the root); rare nodes keep a skew-bounded,
    co-partitioned equi-join whose per-pair counts ADD to the hub count.
    ``hub_bits=None`` auto-selects like :func:`pairwise_scores`; 0 = the
    plain single-join plan. Results are identical for any setting —
    intersection cardinality is a sum over the disjoint hub/rare node sets
    (asserted by tests/test_similarity.py).

    ``hubs`` injects a precomputed hub-node list (see
    :func:`corpus_hub_nodes`) so repeated calls against the same corpus
    skip the per-call frequency probe; any node list works — correctness
    never depends on WHICH nodes are hubs, only the skew bound does. Without
    ``hub_bits``, the first 62 nodes of a longer list are used."""
    qi = indirect_associations(
        query_profiles.select("individual", "phenotype"), closure
    ).select(F.col("individual").alias("query"), F.col("node"))
    ci = indirect_associations(
        corpus_profiles.select("individual", "phenotype"), closure
    ).select(F.col("individual").alias("corpus"), F.col("node"))
    q_sizes = qi.groupBy("query").agg(F.countDistinct("node").alias("n_q"))
    c_sizes = ci.groupBy("corpus").agg(F.countDistinct("node").alias("n_c"))
    if hubs is not None and hub_bits is None:
        hub_bits = min(len(hubs), 62)  # one bit per hub in a signed 64-bit mask
    if hub_bits is None:
        n_q = query_profiles.count()
        n_c = corpus_profiles.count()
        hub_bits = 0 if n_q * n_c <= AUTO_HUB_PRODUCT_THRESHOLD else 62
    if not 0 <= hub_bits <= 62:
        raise ValueError(f"hub_bits must be in [0, 62], got {hub_bits}")
    if hubs is not None and len(hubs) < hub_bits:
        raise ValueError(f"hubs has {len(hubs)} nodes, hub_bits={hub_bits}")
    if hub_bits == 0:
        inter = (
            qi.join(ci, on="node")
            .groupBy("query", "corpus")
            .agg(F.countDistinct("node").alias("n_common"))
        )
    else:
        spark = qi.sparkSession
        if hubs is None:
            hubs = [
                r["node"]
                for r in ci.groupBy("node").count()
                .orderBy(F.desc("count"), F.asc("node")).limit(hub_bits).collect()
            ]
        else:
            hubs = list(hubs)[:hub_bits]
        hub_pos = F.broadcast(
            spark.createDataFrame(
                [(h, i) for i, h in enumerate(hubs)], ["node", "hub_pos"]
            )
        )

        def masks(side, key):
            m = (
                side.join(hub_pos, on="node")
                .groupBy(key)
                .agg(F.expr("bit_or(shiftleft(1L, hub_pos))").alias("mask"))
            )
            # profiles with no hub node still pair: default mask 0
            all_ids = side.select(key).dropDuplicates()
            return all_ids.join(m, on=key, how="left").fillna(0, subset=["mask"])

        par = spark.sparkContext.defaultParallelism
        q_masks = masks(qi, "query").repartition(par)
        c_masks = (
            masks(ci, "corpus").withColumnRenamed("mask", "mask2")
            .repartition(max(1, par // 8))
        )
        rare_q = qi.where(~F.col("node").isin(hubs)).repartition(par, "node")
        rare_c = ci.where(~F.col("node").isin(hubs)).repartition(par, "node")
        rare_inter = (
            rare_q.join(rare_c, on="node")
            .groupBy("query", "corpus")
            .agg(F.count("*").alias("n_rare"))
        )
        inter = (
            q_masks.crossJoin(c_masks)
            .withColumn("n_hub", F.expr("bit_count(mask & mask2)"))
            .join(rare_inter, on=["query", "corpus"], how="left")
            .select(
                "query",
                "corpus",
                (F.col("n_hub") + F.coalesce(F.col("n_rare"), F.lit(0))).alias("n_common"),
            )
            .where(F.col("n_common") > 0)  # plain plan emits only co-occurring pairs
        )
    return (
        inter.join(q_sizes, on="query")
        .join(c_sizes, on="corpus")
        .select(
            "query",
            "corpus",
            (
                F.col("n_common")
                / (F.col("n_q") + F.col("n_c") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def score_triples(medians: DataFrame) -> DataFrame:
    """Similarity triples (GroupWiseSimilarity.toTriples, OWLsim.scala:366-393)
    with content-hash comparison IRIs instead of OntUtil.nextIRI (§7.1)."""
    comparison = F.concat(
        F.lit("http://purl.org/phenoscape/comparison/"),
        F.sha2(F.concat_ws(" ", "query", "corpus"), 256),
    )
    return (
        medians.select(
            comparison.alias("subj"),
            F.lit(vocab.COMBINED_SCORE).alias("pred"),
            F.col("score").cast("string").alias("obj"),
        )
        .unionByName(
            medians.select(
                comparison.alias("subj"),
                F.lit(vocab.FOR_QUERY_PROFILE).alias("pred"),
                F.col("query").alias("obj"),
            )
        )
        .unionByName(
            medians.select(
                comparison.alias("subj"),
                F.lit(vocab.FOR_CORPUS_PROFILE).alias("pred"),
                F.col("corpus").alias("obj"),
            )
        )
    )
