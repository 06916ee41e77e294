"""The KB-build pipeline (SURVEY.md §3.1) — the engine's flagship plan.

Mirrors PhenoscapeKB.scala's 13-step object initializer as a staged Spark
job graph:

    ingest docs -> mention/link (word join or phrase Arrow UDF)
    -> EQ axiom-gen (projections) -> TBox generators
    -> EL closure (fixpoint joins) -> negation rules
    -> presence/absence path queries -> profiles -> canonicalize (CC)
    -> triple emit (subject-hash buckets, salted hub joins)

Every stage writes a table + lineage manifest via catalog.py; ``run`` skips
stages whose manifest fingerprint matches the current inputs (resume).
The stages, in build order:

- ``linked_mentions``: dictionary mentions with their term's namespace;
- ``span_annotations``: per (doc, span), the EQ annotation composed into
  its phenotype class, with the span's state individual;
- ``doc_triples``, ``eq_edges``, ``depictions``: exhibits/describes and EQ
  annotation triples, the EQ classes' closure edges, image depictions;
- ``restrictions``, ``negates``, ``tbox_triples``: TBox generators plus
  the EQ classes' restriction definitions;
- ``closure``, ``negation_hierarchy``: EL closure and negation subclasses;
- ``path_triples``: J4 presence and J5 absence triples, one path pass;
- ``closure_triples``, then when their inputs are given ``gene_profiles``,
  ``evolutionary_profiles`` and ``homology_triples``;
- ``triples``: the union, property-normalized, canonicalized, deduplicated.

Inputs come in two kinds (:class:`KBInputs`):
- **dimension inputs** (``DIMENSION_INPUTS``: terms, synonyms, subclass,
  equivalence and taxonomy edges, restrictions) are the broadcast-scale
  ontology tables. ``run`` reads each exactly once, into a local
  checkpoint at entry; every stage, the closure seed and the resume
  fingerprint scan that snapshot, so a lazily derived input is not
  re-derived by each of the dozen plans that read it;
- **fact inputs** (documents, gene annotations, homology, state
  phenotypes) scale with the corpus and are streamed by the stages that
  read them.

Scale design notes:
- dictionaries (terms/synonyms/edges) are broadcast-scale; the only large
  shuffles are mention output grouping and the final triple dedup — both
  keyed on doc/subject hash, skew-salted for hub entities;
- the closure runs over the ontology dimension only (never over doc-derived
  facts), so its cost is independent of corpus size;
- doc-derived triples join closure results through ``leftsemi``/broadcast
  probes (J4/J5), which AQE turns into broadcast joins at dimension scale.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields, replace
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from phenoscape_owl_tools_spark import catalog, vocab
from phenoscape_owl_tools_spark.functions import iri as iri_fn
from phenoscape_owl_tools_spark.operators import (
    closure as closure_op,
    components,
    eq,
    generators,
    mention,
    negation,
    profiles as profiles_op,
    salting,
)

TBOX_PROPERTIES = [
    # PhenoscapeKB.scala:249-287 generates restrictions for these properties
    vocab.PART_OF,
    vocab.HAS_PART,
    vocab.IMPLIES_PRESENCE_OF,
    vocab.HAS_PART_INHERING_IN,
    vocab.PHENOTYPE_OF,
    vocab.PHENOTYPE_OF_PART_OF,
]


@dataclass
class KBInputs:
    """The build's input tables. ``DIMENSION_INPUTS`` name the dimension
    inputs, which ``run`` materializes once at entry; the rest are fact
    inputs, streamed by the stages that read them."""

    documents: DataFrame            # span shape (sources/documents.py)
    terms: DataFrame                # (iri, label, namespace)
    synonyms: DataFrame | None      # (iri, synonym, scope)
    subclass_edges: DataFrame       # (sub, sup)
    equiv_edges: DataFrame | None = None        # (a, b)
    restrictions: DataFrame | None = None       # (iri, prop, filler)
    gene_annotations: DataFrame | None = None   # (annotation, gene, phenotype_class)
    homology: DataFrame | None = None           # F4 shape
    taxonomy_edges: DataFrame | None = None     # (child, parent) tree
    state_phenotypes: DataFrame | None = None   # (state, phenotype) — fixture path


DIMENSION_INPUTS = (
    "terms", "synonyms", "subclass_edges", "equiv_edges", "restrictions", "taxonomy_edges",
)


def _read_dimensions_once(inputs: KBInputs) -> KBInputs:
    """``inputs`` with each dimension input replaced by an eager local
    checkpoint of it: one read of the source, whatever reads it after."""
    return replace(inputs, **{
        name: df.localCheckpoint(eager=True)
        for name in DIMENSION_INPUTS
        if (df := getattr(inputs, name)) is not None
    })


@dataclass
class KBResult:
    triples: DataFrame
    stages: dict[str, DataFrame] = field(default_factory=dict)
    manifests: dict[str, dict] = field(default_factory=dict)


def link_mentions(spark: SparkSession, inputs: KBInputs) -> DataFrame:
    """Stage 2: mention detection + namespace linking."""
    d = mention.build_dictionary(inputs.terms, inputs.synonyms)
    m = mention.detect_mentions(spark, inputs.documents, d)
    ns = F.broadcast(inputs.terms.select(F.col("iri").alias("term"), "namespace").dropDuplicates())
    return m.join(ns, on="term", how="left")


def compose_span_annotations(linked: DataFrame) -> DataFrame:
    """Stage 3: per (doc, span), the EQ annotation row, composed.

    Deterministic aggregation: taxon/entity/quality = min(iri) per namespace
    within the span (ambiguity resolution must not depend on partitioning).
    A second anatomy mention becomes the related entity. Spans with an
    entity or a quality carry their composed EQ class (``canonical_expr``,
    ``phenotype_cls``) and their state individual: a content-hash IRI of
    (doc, span) — the reference mints them per NeXML state element
    (PhenexToOWL.scala:219-247); our identity is the span that asserted
    them (§7.1 determinism). Every reader of EQ classes reads these rows.
    """
    per_span = linked.groupBy("doc_id", "span_idx").agg(
        F.min(F.when(F.col("namespace") == "taxon", F.col("term"))).alias("taxon"),
        F.min(F.when(F.col("namespace") == "anatomy", F.col("term"))).alias("entity"),
        F.max(F.when(F.col("namespace") == "anatomy", F.col("term"))).alias("entity2"),
        F.min(F.when(F.col("namespace") == "quality", F.col("term"))).alias("quality"),
    )
    ann = per_span.withColumn(
        "related_entity",
        F.when(F.col("entity2") != F.col("entity"), F.col("entity2")),
    ).drop("entity2").where(F.col("entity").isNotNull() | F.col("quality").isNotNull())
    state_iri = iri_fn.mint_iri("state", "doc_id", F.col("span_idx").cast("string"))
    return eq.compose_eq_phenotypes(ann).withColumn("state", state_iri)


def doc_triples(composed: DataFrame) -> dict[str, DataFrame]:
    """Stage 4: exhibits_state / describes_phenotype triples, the EQ
    classes' closure edges and restriction definitions, from the composed
    span annotations (:func:`compose_span_annotations`)."""
    with_taxon = composed.where(F.col("taxon").isNotNull())
    exhibits = with_taxon.select(
        F.col("taxon").alias("subj"),
        F.lit(vocab.EXHIBITS_STATE).alias("pred"),
        F.col("state").alias("obj"),
    )
    describes = composed.select(
        F.col("state").alias("subj"),
        F.lit(vocab.DESCRIBES_PHENOTYPE).alias("pred"),
        F.col("phenotype_cls").alias("obj"),
    )
    # presence/absence skeleton edges for the closure:
    # phenotype < implies_presence_of some E  (unless the quality is Absent)
    presence_edges = composed.where(
        F.col("entity").isNotNull() & (F.coalesce(F.col("quality"), F.lit("")) != vocab.ABSENT)
    ).select(
        F.col("phenotype_cls").alias("sub"),
        iri_fn.restriction_class_iri(F.lit(vocab.IMPLIES_PRESENCE_OF), F.col("entity")).alias("sup"),
    )
    absence_edges = composed.where(
        F.col("entity").isNotNull() & (F.col("quality") == vocab.ABSENT)
    ).select(
        F.col("phenotype_cls").alias("sub"),
        iri_fn.absence_class_iri(F.col("entity")).alias("sup"),
    )
    eq_edges = eq.eq_structure_edges(composed).unionByName(presence_edges).unionByName(absence_edges)
    # restriction definitions minted by EQ composition must be registered so
    # the closure's monotonicity rule can fire over them (e.g. quality
    # hierarchies propagating into (has_part some Q) classes)
    doc_restrictions = (
        composed.where(F.col("quality").isNotNull())
        .select(
            iri_fn.restriction_class_iri(F.lit(vocab.HAS_PART), F.col("quality")).alias("iri"),
            F.lit(vocab.HAS_PART).alias("prop"),
            F.col("quality").alias("filler"),
        )
        .unionByName(
            composed.where(F.col("entity").isNotNull()).select(
                iri_fn.restriction_class_iri(F.lit(vocab.PHENOTYPE_OF), F.col("entity")).alias("iri"),
                F.lit(vocab.PHENOTYPE_OF).alias("prop"),
                F.col("entity").alias("filler"),
            )
        )
        .unionByName(
            composed.where(F.col("entity").isNotNull()).select(
                iri_fn.restriction_class_iri(F.lit(vocab.IMPLIES_PRESENCE_OF), F.col("entity")).alias("iri"),
                F.lit(vocab.IMPLIES_PRESENCE_OF).alias("prop"),
                F.col("entity").alias("filler"),
            )
        )
        .dropDuplicates()
    )
    return {
        "triples": exhibits.unionByName(describes)
        .unionByName(eq.eq_annotation_triples(composed))
        .dropDuplicates(),
        "eq_edges": eq_edges.dropDuplicates(),
        "restrictions": doc_restrictions,
    }


def depiction_triples(documents: DataFrame, linked: DataFrame) -> DataFrame:
    """S5 — media spans: (media_ref, depicts, anatomical structure) from the
    nearest anatomy mention in the same document, plus foaf:Image typing
    (PhenoteImageDepictionsToOWL.scala:31-61)."""
    from phenoscape_owl_tools_spark.sources.documents import media_spans

    media = media_spans(documents).select("doc_id", "media_ref")
    anat = (
        linked.where(F.col("namespace") == "anatomy")
        .groupBy("doc_id")
        .agg(F.min("term").alias("structure"))
    )
    dep = media.join(anat, on="doc_id").select(
        F.col("media_ref").alias("subj"),
        F.lit(vocab.DEPICTS).alias("pred"),
        F.col("structure").alias("obj"),
    )
    typing = media.select(
        F.col("media_ref").alias("subj"),
        F.lit(vocab.RDF_TYPE).alias("pred"),
        F.lit(vocab.IMAGE).alias("obj"),
    )
    return dep.unionByName(typing).dropDuplicates()


def build_tbox(inputs: KBInputs) -> dict[str, DataFrame]:
    """Stage 5: TBox generators over all anatomy entities (PhenoscapeKB
    .scala:249-297)."""
    anatomy = inputs.terms.where(F.col("namespace") == "anatomy").select("iri")
    nr = generators.named_restrictions(anatomy, TBOX_PROPERTIES)
    ab = generators.absence_classes(anatomy)
    dfr = generators.develops_from_rules(anatomy)
    sim = generators.similarity_templates(anatomy)
    neg = generators.negation_classes(anatomy)

    restrictions = nr["restrictions"].unionByName(ab["restrictions"]).unionByName(
        dfr["restrictions"]
    ).unionByName(sim["restrictions"]).dropDuplicates()
    if inputs.restrictions is not None:
        restrictions = restrictions.unionByName(inputs.restrictions).dropDuplicates()
    negates = ab["negates"].unionByName(neg["negates"]).dropDuplicates()
    gci_edges = dfr["gci_edges"].unionByName(sim["gci_edges"]).dropDuplicates()
    tbox_triples = nr["triples"].unionByName(ab["triples"]).unionByName(neg["triples"]).dropDuplicates()
    return {
        "restrictions": restrictions,
        "negates": negates,
        "gci_edges": gci_edges,
        "triples": tbox_triples,
    }


def _taxon_phenotypes(exhibits: DataFrame, describes: DataFrame) -> DataFrame:
    """exhibits(taxon, state) x describes(state, phenotype) -> (taxon, phenotype)."""
    ex = exhibits.select(F.col("subj").alias("taxon"), F.col("obj").alias("state"))
    de = describes.select(F.col("subj").alias("state2"), F.col("obj").alias("phenotype"))
    return ex.join(de, ex["state"] == de["state2"]).select("taxon", "phenotype")


def _phenotype_ancestors(tx_ph: DataFrame, closure: DataFrame, salt: int | None) -> DataFrame:
    """Reflexive ancestor expansion of (taxon, phenotype) through the
    closure — the hub-skew join of the presence/absence path: a handful of
    hot phenotype classes appear in a large fraction of documents, so the
    probe side is salted and the closure (dim) side exploded
    (operators/salting.py). ``salt=None`` auto-chooses from the key
    histogram (one collect job; kb_build.run chooses before its stage and
    records it under ``manifests['_config']``).
    """
    cl = closure.select(F.col("sub").alias("cl_sub"), F.col("sup").alias("cl_sup"))
    if salt is None:
        salt = salting.choose_salt_factor(tx_ph, "phenotype")
    joined = salting.salted_join(tx_ph, cl, "phenotype", "cl_sub", salt, "left")
    return (
        joined.select(
            "taxon", F.coalesce(F.col("cl_sup"), F.col("phenotype")).alias("cls")
        )
        .unionByName(tx_ph.select("taxon", F.col("phenotype").alias("cls")))
        .dropDuplicates()
    )


def path_query(
    exhibits: DataFrame,
    describes: DataFrame,
    closure: DataFrame,
    path_map: DataFrame,
    taxa_under_root: DataFrame,
    salt: int | None = None,
) -> DataFrame:
    """J4 and J5 in one pass — the flagship CONSTRUCTs (PhenoscapeKB.scala:
    380-396):

    taxon exhibits_state/describes_phenotype/(subClassOf*)/
    implies_presence_of_some entity (J4) or absence-of entity (J5),
    taxon under CHORDATA -> (taxon, has_presence_of | has_absence_of,
    entity).

    The path decodes to: phenotype ⊑* C, where C is the named restriction
    (implies_presence_of some E) or the absence class of E. ``path_map``
    holds one row per such class, ``(path_cls, pred, entity)``, tagged with
    the predicate its path emits, so the taxon/phenotype join and the
    salted ancestor expansion run once for both queries.
    """
    tx_ph = _taxon_phenotypes(exhibits, describes)
    ph_anc = _phenotype_ancestors(tx_ph, closure, salt)
    hit = ph_anc.join(
        F.broadcast(path_map), ph_anc["cls"] == path_map["path_cls"]
    ).select("taxon", "pred", "entity")
    out = hit.join(F.broadcast(taxa_under_root), hit["taxon"] == taxa_under_root["t"], "leftsemi")
    return out.select(
        F.col("taxon").alias("subj"),
        "pred",
        F.col("entity").alias("obj"),
    ).dropDuplicates()


def _input_fingerprint(inputs: KBInputs) -> str:
    """The resume fingerprint of the inputs. It covers their CONTENT, not
    just their shape: a schema-only fingerprint would happily serve corpus
    A's cached stages for corpus B. One cheap checksum pass per input table
    (the order-insensitive xxhash64 sum catalog.content_checksum provides)."""
    content = []
    for f in fields(inputs):
        df = getattr(inputs, f.name)
        content.append(f"{f.name}={catalog.content_checksum(df) if df is not None else 'none'}")
    return catalog.fingerprint(
        str(inputs.documents.schema), str(sorted(inputs.terms.columns)), *content,
    )


def run(
    spark: SparkSession,
    inputs: KBInputs,
    out_dir: str | Path | None = None,
    resume: bool = True,
    n_buckets: int = 16,
) -> KBResult:
    """Run the full KB build. With ``out_dir``, stages persist with
    manifests and valid stages are skipped on re-run (resume)."""
    result = KBResult(triples=None)  # type: ignore[arg-type]
    out_path = Path(out_dir) if out_dir else None

    stage = catalog.stage_runner(spark, result, out_path, resume, n_buckets)
    inputs = _read_dimensions_once(inputs)

    # Skipped entirely when no out_dir: without persisted manifests the
    # fingerprint is never stored or compared, so the scans would be waste.
    # (With out_dir but resume=False it still runs: the manifests written
    # this run are what a FUTURE resume=True run validates against.)
    # The dimension inputs are checksummed from their checkpoints, so even a
    # fully resumed run reads each of them once.
    in_fp = "" if out_path is None else _input_fingerprint(inputs)

    linked = stage("linked_mentions", catalog.fingerprint("linked", in_fp),
                   lambda: link_mentions(spark, inputs))
    ann = stage("span_annotations", catalog.fingerprint("eq_ann", in_fp),
                lambda: compose_span_annotations(linked))
    dt = doc_triples(ann)
    doc_trip = stage("doc_triples", catalog.fingerprint("doc_triples", in_fp),
                     lambda: dt["triples"])
    eq_edges = stage("eq_edges", catalog.fingerprint("eq_edges", in_fp), lambda: dt["eq_edges"])
    depict = stage("depictions", catalog.fingerprint("depict", in_fp),
                   lambda: depiction_triples(inputs.documents, linked))

    tbox = build_tbox(inputs)
    restrictions = stage(
        "restrictions",
        catalog.fingerprint("restr", in_fp),
        lambda: tbox["restrictions"].unionByName(dt["restrictions"]).dropDuplicates(),
    )
    negates = stage("negates", catalog.fingerprint("negates", in_fp), lambda: tbox["negates"])
    tbox_triples = stage("tbox_triples", catalog.fingerprint("tboxt", in_fp),
                         lambda: tbox["triples"])

    cl = stage(
        "closure",
        catalog.fingerprint("closure", in_fp),
        lambda: closure_op.el_closure(
            inputs.subclass_edges.unionByName(eq_edges),
            equiv_edges=inputs.equiv_edges,
            gci_edges=tbox["gci_edges"],
            restrictions=restrictions,
        ),
    )

    neg_sub = stage(
        "negation_hierarchy",
        catalog.fingerprint("neg", in_fp),
        lambda: negation.negation_subclass_axioms(negates, cl),
    )

    # presence/absence path queries (J4/J5)
    anatomy = inputs.terms.where(F.col("namespace") == "anatomy").select("iri")
    path_map = anatomy.select(
        iri_fn.restriction_class_iri(F.lit(vocab.IMPLIES_PRESENCE_OF), F.col("iri")).alias("path_cls"),
        F.lit(vocab.HAS_PRESENCE_OF).alias("pred"),
        F.col("iri").alias("entity"),
    ).unionByName(anatomy.select(
        iri_fn.absence_class_iri(F.col("iri")).alias("path_cls"),
        F.lit(vocab.HAS_ABSENCE_OF).alias("pred"),
        F.col("iri").alias("entity"),
    ))
    taxa = inputs.terms.where(F.col("namespace") == "taxon").select(F.col("iri").alias("t"))
    exhibits = doc_trip.where(F.col("pred") == vocab.EXHIBITS_STATE)
    describes = doc_trip.where(F.col("pred") == vocab.DESCRIBES_PHENOTYPE)
    # choose the hub-skew salt ONCE (one histogram job) and record it for
    # resume/golden-file verification
    salt = salting.choose_salt_factor(
        _taxon_phenotypes(exhibits, describes), "phenotype"
    )
    result.manifests["_config"] = {"presence_path_salt": salt}
    paths = stage(
        "path_triples",
        catalog.fingerprint("paths", in_fp, f"salt={salt}"),
        lambda: path_query(exhibits, describes, cl, path_map, taxa, salt=salt),
    )

    # profiles
    parts = [doc_trip, depict, tbox_triples, paths]
    parts.append(
        stage(
            "closure_triples",
            catalog.fingerprint("clt", in_fp),
            lambda: cl.select(
                F.col("sub").alias("subj"),
                F.lit(vocab.RDFS_SUBCLASS_OF).alias("pred"),
                F.col("sup").alias("obj"),
            ).unionByName(
                neg_sub.select(
                    F.col("sub").alias("subj"),
                    F.lit(vocab.RDFS_SUBCLASS_OF).alias("pred"),
                    F.col("sup").alias("obj"),
                )
            ),
        )
    )
    if inputs.gene_annotations is not None:
        parts.append(
            stage("gene_profiles", catalog.fingerprint("gp", in_fp),
                  lambda: profiles_op.gene_profiles(inputs.gene_annotations))
        )
    if inputs.taxonomy_edges is not None and inputs.state_phenotypes is not None:
        def build_evo():
            assoc = ann.where(F.col("taxon").isNotNull()).select(
                F.col("taxon"),
                F.coalesce(F.col("quality"), F.lit("none")).alias("character"),
                F.col("state"),
            )
            sp = ann.where(F.col("entity").isNotNull()).select(
                "state", F.col("entity").alias("phenotype")
            ).dropDuplicates()
            _, prof = profiles_op.evolutionary_profiles(inputs.taxonomy_edges, assoc)
            return profiles_op.profile_triples(prof, sp)

        parts.append(stage("evolutionary_profiles", catalog.fingerprint("evo", in_fp), build_evo))
    if inputs.homology is not None:
        from phenoscape_owl_tools_spark.operators import homology as hom_op

        parts.append(
            stage("homology_triples", catalog.fingerprint("hom", in_fp),
                  lambda: hom_op.homology_axioms(inputs.homology))
        )

    def build_all_triples():
        all_t = parts[0]
        for p in parts[1:]:
            all_t = all_t.unionByName(p)
        all_t = generators.normalize_properties(all_t)
        if inputs.equiv_edges is not None:
            comp = components.connected_components(inputs.equiv_edges)
            all_t = components.canonicalize_triples(all_t, comp)
        return all_t.dropDuplicates()

    triples = stage("triples", catalog.fingerprint("emit", in_fp), build_all_triples,
                    bucket_col="subj")
    result.triples = triples
    if out_path is not None:
        (out_path / "_pipeline_manifest.json").write_text(
            json.dumps({k: v for k, v in result.manifests.items()}, indent=1, sort_keys=True, default=str)
        )
    return result
