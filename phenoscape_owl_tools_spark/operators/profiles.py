"""Taxon / gene phenotypic profiles (SURVEY.md A1-A2, J6-J7).

Evolutionary profiles — the reference's recursive Fitch-parsimony-style
postorder (EvolutionaryProfiles.scala:107-165) — become a **level-wise
bottom-up aggregation**: taxonomy depth is materialized once, then each tree
level (deepest first) is one ``groupBy(parent, character)`` whose set logic
runs in Spark array functions (``aggregate``/``array_intersect``/
``array_union``) — no UDF, no recursion, O(depth) small shuffles.

Reference semantics preserved exactly, including the subtle set-of-sets
collapse: duplicate child state-sets count once before the size checks
(``allStateSets = childrenStateSets + nodeStateSet`` builds a Set[Set[_]],
:139-155), and children lacking a character contribute an empty set.

Gene profiles (GeneProfiles.scala:15-39) are a distinct-projection over the
annotation triples (J6 is a triple-table self-join in the reference's
SPARQL; on relational input it reduces to select+distinct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from phenoscape_owl_tools_spark import vocab
from phenoscape_owl_tools_spark.iterbarrier import IterationBarrier

# The taxonomy tree is dimension-scale even at 100 TB corpora (VTO ~1e5
# nodes; corpus size only grows the fact side), so the level loops below run
# O(depth) small eager actions. Their shuffle width is left to the session
# and to AQE, which coalesces each small shuffle's reads to a few tasks; no
# loop here changes the session's shuffle width (iterbarrier.py).


def taxonomy_depths(taxonomy_edges: DataFrame, max_depth: int = 500) -> DataFrame:
    """(node, depth) for every node of the taxonomy tree; root depth 0.

    Iterative level propagation — O(depth) tiny joins over the (small)
    taxonomy dimension; the tree is broadcast-scale next to the fact data.
    The input must be a tree (every node one parent, no cycles) — a cycle
    would level-propagate forever, so the loop raises past ``max_depth``
    instead of hanging the driver.

    Levels go through :class:`IterationBarrier` (not bare localCheckpoint):
    a chain of checkpoint-derived frames shows per-task time doubling past
    ~13 links on Spark 4.1 (BENCH.md §5), and real taxonomies (VTO) are
    deeper than that.
    """
    barrier = IterationBarrier("taxdepth")
    edges = barrier(taxonomy_edges.select("child", "parent").dropDuplicates(), "edges")
    children = edges.select(F.col("child").alias("n"))
    parents = edges.select(F.col("parent").alias("n"))
    roots = parents.subtract(children).withColumn("depth", F.lit(0))
    levels = [barrier(roots, "level")]
    for _ in range(max_depth):
        prev = levels[-1]
        nxt = barrier(
            edges.join(prev, edges["parent"] == prev["n"])
            .select(F.col("child").alias("n"), (F.col("depth") + 1).alias("depth")),
            "level",
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)
    else:
        raise RuntimeError(
            f"taxonomy_depths exceeded max_depth={max_depth}: "
            "taxonomy_edges is not a bounded-depth tree (cycle?)"
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def _set_col(states_col):
    """Canonical set representation: sorted distinct array."""
    return F.sort_array(F.array_distinct(states_col))


# Above this row count the (node, character, states) dimension table stops
# being driver-collectable and the level-loop strategy takes over. The
# reference runs the whole Fitch pass in one JVM (EvolutionaryProfiles
# .scala is in-memory Scala) — a taxonomy is dimension-scale even at
# 10^12-document corpora; only the ASSOCIATION aggregation is fact-scale.
DRIVER_FITCH_MAX_ROWS = 2_000_000
# Rows alone under-measure a table whose payload is ARRAYS: bound the
# driver fold by estimated bytes too (state-character volume dominates).
DRIVER_FITCH_MAX_BYTES = 512 * 1024 * 1024


def evolutionary_profiles(
    taxonomy_edges: DataFrame,
    state_associations: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Returns (associations, profiles): (taxon, character, states array<string>).

    ``associations`` mirrors postorder's first tuple member (reconstructed
    state sets at every internal node); ``profiles`` the second (union events
    recorded when child state-sets fail to intersect, :146-155).

    Strategy: the asserted-state aggregation is always distributed
    (fact-scale). The bottom-up Fitch fold itself runs over the
    DIMENSION-scale (node, character) table; when that table fits the
    driver (``DRIVER_FITCH_MAX_ROWS``) the fold is one in-memory pass —
    the same architecture as the reference's single-JVM
    ``EvolutionaryProfiles`` — and O(depth) Spark jobs disappear. Larger
    inputs (over ``DRIVER_FITCH_MAX_ROWS`` or ``DRIVER_FITCH_MAX_BYTES``)
    use the barrier-checkpointed level loop. Both paths produce identical
    rows (asserted by tests/test_profiles.py).
    """
    spark = taxonomy_edges.sparkSession
    # Per-level lineage truncation via IterationBarrier, NOT bare
    # localCheckpoint chains: at taxonomy depth > ~13 a checkpoint-derived
    # chain doubles per-task wall time each level (BENCH.md §5); the barrier's
    # periodic parquet round-trip resets derivation depth.
    barrier = IterationBarrier("evoprofiles")
    # the one fact-scale aggregation: asserted state sets from the (large)
    # association table
    asserted = barrier(
        state_associations.groupBy(F.col("taxon").alias("node"), F.col("character"))
        .agg(_set_col(F.collect_set("state")).alias("states")),
        "asserted",
    )
    stats = asserted.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.aggregate("states", F.lit(0), lambda a, x: a + F.length(x))),
            F.lit(0),
        ).alias("state_chars"),
    ).collect()[0]
    n_asserted, state_chars = stats["n"], stats["state_chars"]
    # UTF-8 chars + per-row/driver-object overhead, conservative
    est_bytes = state_chars * 4 + n_asserted * 120
    n_edges = taxonomy_edges.count()
    if (
        max(n_asserted, n_edges) <= DRIVER_FITCH_MAX_ROWS
        and est_bytes <= DRIVER_FITCH_MAX_BYTES
    ):
        return _fitch_driver(spark, taxonomy_edges, asserted)
    depths = barrier(taxonomy_depths(taxonomy_edges), "depths")
    max_depth = depths.agg(F.max("depth")).collect()[0][0]
    edges = barrier(taxonomy_edges.select("child", "parent").dropDuplicates(), "edges")

    schema = "node string, character string, states array<string>"
    # Per-level frames accumulate in a list and union ONCE at the end:
    # each level's Fitch step only ever reads the level directly below it
    # (a tree: children of a depth-d node all sit at depth d+1), so joining
    # the full accumulated set per level would rescan O(depth) frames per
    # level — O(depth^2) total — for rows that can never match.
    level_frames: list[DataFrame] = []
    profile_frames: list[DataFrame] = []
    prev_level = spark.createDataFrame([], schema)
    # children counts per parent (for the empty-set contribution check)
    n_children = barrier(
        edges.groupBy(F.col("parent")).agg(F.countDistinct("child").alias("n_children")),
        "n_children",
    )

    for d in range(max_depth, -1, -1):
        nodes_d = depths.where(F.col("depth") == d).select(F.col("n").alias("node"))
        if d == max_depth:
            # deepest level: all leaves -> associations are the asserted sets
            prev_level = barrier(asserted.join(nodes_d, on="node", how="inner"), "level")
            level_frames.append(prev_level)
            continue
        # children of level-d nodes live exactly one level down
        child_assoc = (
            edges.join(nodes_d, edges["parent"] == nodes_d["node"])
            .select("child", "parent")
            .join(prev_level, F.col("child") == prev_level["node"], "left")
            .select(
                F.col("parent"),
                F.col("child"),
                F.col("character"),
                F.col("states"),
            )
        )
        # per (parent, character): distinct child sets + empty-set marker
        per_char = (
            child_assoc.where(F.col("character").isNotNull())
            .groupBy("parent", "character")
            .agg(
                F.array_distinct(F.collect_set("states")).alias("child_sets"),
                F.countDistinct("child").alias("n_with"),
            )
            .join(n_children, on="parent", how="left")
            .withColumn("has_empty_child", F.col("n_with") < F.col("n_children"))
        )
        own = asserted.join(nodes_d, on="node", how="inner").select(
            F.col("node").alias("o_parent"),
            F.col("character").alias("o_character"),
            F.col("states").alias("own_states"),
        )
        merged = per_char.join(
            own,
            (per_char["parent"] == own["o_parent"])
            & (per_char["character"] == own["o_character"]),
            how="full",
        ).select(
            F.coalesce(F.col("parent"), F.col("o_parent")).alias("parent"),
            F.coalesce(F.col("character"), F.col("o_character")).alias("character"),
            F.coalesce("child_sets", F.array().cast("array<array<string>>")).alias("child_sets"),
            F.coalesce("own_states", F.array().cast("array<string>")).alias("own_states"),
            F.coalesce("has_empty_child", F.lit(False)).alias("has_empty_child"),
            F.col("n_with").isNotNull().alias("has_child_data"),
        )
        # Own-only rows (no child carries the character): every child still
        # contributes an empty set (reference: childrenStateSets has one
        # entry per child, EvolutionaryProfiles.scala:139), so a node WITH
        # children gets the empty-set marker.
        merged = merged.join(
            n_children.select(F.col("parent").alias("nc_parent"), F.col("n_children").alias("nc")),
            merged["parent"] == F.col("nc_parent"),
            how="left",
        ).withColumn(
            "has_empty_child",
            F.when(~F.col("has_child_data") & (F.coalesce(F.col("nc"), F.lit(0)) > 0), F.lit(True))
            .otherwise(F.col("has_empty_child")),
        ).drop("nc_parent")
        all_sets = F.array_distinct(
            F.concat(
                F.col("child_sets"),
                F.array(_set_col(F.col("own_states"))),
                F.when(F.col("has_empty_child"), F.array(F.array().cast("array<string>")))
                .otherwise(F.array().cast("array<array<string>>")),
            )
        )
        stepped = merged.withColumn("all_sets", all_sets).withColumn(
            "non_empty", F.filter(F.col("all_sets"), lambda s: F.size(s) > 0)
        ).withColumn(
            "shared",
            F.when(
                F.size("non_empty") > 0,
                F.aggregate(
                    F.slice(F.col("non_empty"), 2, 100000),
                    F.col("non_empty")[0],
                    lambda acc, s: F.array_intersect(acc, s),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ).withColumn(
            "union_all",
            F.aggregate(
                F.col("all_sets"),
                F.array().cast("array<string>"),
                lambda acc, s: F.array_union(acc, s),
            ),
        ).withColumn(
            "current",
            F.when(F.size("shared") > 0, F.col("shared"))
            .when(F.size("all_sets") == 1, F.col("all_sets")[0])
            .otherwise(F.col("union_all")),
        ).withColumn(
            "profile_states",
            F.when(
                (F.size("shared") == 0) & (F.size("all_sets") >= 2) & (F.size("union_all") > 0),
                F.col("union_all"),
            ),
        )
        # ONE eager action per level: barrier a combined frame carrying
        # both outputs, then split with narrow filters — the old shape
        # left the profile rows lazy, so the final action re-ran every
        # level's join pipeline a second time.
        combined = barrier(
            stepped.select(
                F.col("parent").alias("node"),
                "character",
                F.sort_array(F.col("current")).alias("states"),
                F.when(
                    F.col("profile_states").isNotNull()
                    & (F.size("profile_states") > 0),
                    F.sort_array(F.col("profile_states")),
                ).alias("p_states"),
            ),
            "level",
        )
        prev_level = combined.where(F.size("states") > 0).select(
            "node", "character", "states"
        )
        level_frames.append(prev_level)
        profile_frames.append(
            combined.where(F.col("p_states").isNotNull()).select(
                "node", "character", F.col("p_states").alias("states")
            )
        )

    computed = level_frames[0]
    for lf in level_frames[1:]:
        computed = computed.unionByName(lf)
    profiles = spark.createDataFrame([], schema)
    for pf in profile_frames:
        profiles = profiles.unionByName(pf)
    return computed, profiles


def profile_triples(profiles: DataFrame, state_phenotypes: DataFrame) -> DataFrame:
    """Profile triples (EvolutionaryProfiles.scala:77-102):
    (taxon has_phenotypic_profile taxon#profile) and
    (taxon#profile rdf:type phenotype) for each phenotype of each profile
    state (states map to phenotypes via describes_phenotype)."""
    exploded = profiles.select(
        F.col("node"), F.explode("states").alias("state")
    ).join(state_phenotypes, on="state").select("node", "phenotype").dropDuplicates()
    profile_iri = F.concat(F.col("node"), F.lit("#profile"))  # taxonProfileURI (:102)
    typing = exploded.select(
        profile_iri.alias("subj"),
        F.lit(vocab.RDF_TYPE).alias("pred"),
        F.col("phenotype").alias("obj"),
    )
    link = exploded.select("node").dropDuplicates().select(
        F.col("node").alias("subj"),
        F.lit(vocab.HAS_PHENOTYPIC_PROFILE).alias("pred"),
        F.concat(F.col("node"), F.lit("#profile")).alias("obj"),
    )
    return typing.unionByName(link).dropDuplicates()


def gene_profiles(gene_annotations: DataFrame) -> DataFrame:
    """GeneProfiles.scala:15-39 (J6/A2): per gene, profile individual
    gene#profile typed with every phenotype class of its annotations."""
    base = gene_annotations.select("gene", "phenotype_class").dropDuplicates()
    profile_iri = F.concat(F.col("gene"), F.lit("#profile"))
    typing = base.select(
        profile_iri.alias("subj"),
        F.lit(vocab.RDF_TYPE).alias("pred"),
        F.col("phenotype_class").alias("obj"),
    )
    link = base.select("gene").dropDuplicates().select(
        F.col("gene").alias("subj"),
        F.lit(vocab.HAS_PHENOTYPIC_PROFILE).alias("pred"),
        F.concat(F.col("gene"), F.lit("#profile")).alias("obj"),
    )
    return typing.unionByName(link).dropDuplicates()


def profile_sizes(profile_triples_df: DataFrame) -> DataFrame:
    """A6 — PrintTaxonAndGeneProfileSizes.scala:25-28: per profile, count of
    direct annotations."""
    return (
        profile_triples_df.where(F.col("pred") == vocab.RDF_TYPE)
        .groupBy(F.col("subj").alias("profile"))
        .agg(F.count("*").alias("n_annotations"))
    )


def _fitch_driver(spark, taxonomy_edges: DataFrame, asserted: DataFrame):
    """One-pass in-memory Fitch fold (driver strategy).

    Exact mirror of the level-loop semantics: distinct child state-sets,
    the node's own asserted set always contributes (empty contributes the
    empty-set element), an empty-set marker when any child lacks the
    character, shared = intersection of non-empty sets, union event when
    sets fail to intersect.
    """
    from collections import defaultdict

    edge_rows = [
        (r["child"], r["parent"])
        for r in taxonomy_edges.select("child", "parent").dropDuplicates().collect()
    ]
    children: dict[str, list[str]] = defaultdict(list)
    has_parent = set()
    for c, p in edge_rows:
        children[p].append(c)
        has_parent.add(c)
    roots = [n for n in children if n not in has_parent]
    depth: dict[str, int] = {}
    stack = [(r, 0) for r in roots]
    while stack:
        n, d = stack.pop()
        if n in depth:
            raise RuntimeError("taxonomy_edges is not a tree (shared child?)")
        depth[n] = d
        for c in children.get(n, ()):
            stack.append((c, d + 1))
    max_depth = max(depth.values(), default=0)
    levels: list[list[str]] = [[] for _ in range(max_depth + 1)]
    for n, d in depth.items():
        levels[d].append(n)

    own: dict[str, dict[str, tuple]] = defaultdict(dict)
    for r in asserted.collect():
        own[r["node"]][r["character"]] = tuple(r["states"])

    computed: dict[str, dict[str, tuple]] = {}
    assoc_rows: list[tuple] = []
    prof_rows: list[tuple] = []
    for d in range(max_depth, -1, -1):
        for node in levels[d]:
            kids = children.get(node, [])
            # leaves fall through the general fold: no children -> all_sets
            # is just the own set, current = own, no profile event — exactly
            # the level loop's deepest-level assignment
            chars: set[str] = set(own.get(node, ()))
            n_children = len(set(kids))
            child_computed = [computed.get(c, {}) for c in kids]
            for cc in child_computed:
                chars.update(cc)
            out_chars = {}
            for ch in chars:
                child_sets = []
                n_with = 0
                for cc in child_computed:
                    if ch in cc:
                        n_with += 1
                        if cc[ch] not in child_sets:
                            child_sets.append(cc[ch])
                has_empty_child = n_with < n_children
                own_states = tuple(sorted(set(own.get(node, {}).get(ch, ()))))
                all_sets = list(child_sets)
                if own_states not in all_sets:
                    all_sets.append(own_states)
                if has_empty_child and () not in all_sets:
                    all_sets.append(())
                non_empty = [s for s in all_sets if s]
                if non_empty:
                    shared = set(non_empty[0])
                    for s in non_empty[1:]:
                        shared &= set(s)
                else:
                    shared = set()
                union_all: set = set()
                for s in all_sets:
                    union_all |= set(s)
                if shared:
                    current = shared
                elif len(all_sets) == 1:
                    current = set(all_sets[0])
                else:
                    current = union_all
                if not shared and len(all_sets) >= 2 and union_all:
                    prof_rows.append((node, ch, sorted(union_all)))
                if current:
                    cur = tuple(sorted(current))
                    out_chars[ch] = cur
                    assoc_rows.append((node, ch, list(cur)))
            if out_chars:
                computed[node] = out_chars

    schema = "node string, character string, states array<string>"
    assoc_df = spark.createDataFrame(sorted(assoc_rows), schema)
    prof_df = spark.createDataFrame(sorted(prof_rows), schema)
    return assoc_df, prof_df
