"""Rule-axiom generators (SURVEY.md §2.2 P2-P6, P9, P13) as pure projections.

Each generator is a narrow ``select`` over a class/entity DataFrame — no
shuffles, fully codegen'd, trivially scalable. Outputs are either:

- **triples** ``(subj, pred, obj)`` — annotation/assertion rows, or
- **edges** ``(sub, sup)`` — subclass rows consumed by the closure fixpoint, or
- **restrictions** ``(iri, prop, filler)`` — named-restriction definitions
  that make the EL monotonicity rule joinable (closure.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from phenoscape_owl_tools_spark import iterbarrier, vocab
from phenoscape_owl_tools_spark.functions import iri as iri_fn


def _triple(subj, pred: str, obj) -> list:
    return [subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj")]


def named_restrictions(classes: DataFrame, properties: list[str], cls_col: str = "iri") -> dict[str, DataFrame]:
    """P2 — for every class C and property P mint named class N == (P some C).

    NamedRestrictionGenerator.scala:33-43: the named class plus an annotation
    ``(P)_some -> C``. Returns {'restrictions': (iri, prop, filler),
    'triples': the annotation rows}.
    """
    props = F.explode(F.array(*[F.lit(p) for p in properties])).alias("prop")
    base = classes.select(F.col(cls_col).alias("filler")).dropDuplicates().select("filler", props)
    restrictions = base.select(
        iri_fn.restriction_class_iri(F.col("prop"), F.col("filler")).alias("iri"),
        "prop",
        "filler",
    )
    triples = restrictions.select(
        F.col("iri").alias("subj"),
        F.concat(F.col("prop"), F.lit("_some")).alias("pred"),  # getClassRelationIRI (:47)
        F.col("filler").alias("obj"),
    )
    return {"restrictions": restrictions, "triples": triples}


def absence_classes(entities: DataFrame, cls_col: str = "iri") -> dict[str, DataFrame]:
    """P3 — absence class per entity (AbsenceClassGenerator.scala:13-35).

    For entity E: presence restriction (implies_presence_of some E), its
    negation Not_presence == 'absence of E', annotated ``absence_of -> E``.
    Emits the presence restriction (joinable in closure), the negates pair
    (consumed by the negation-hierarchy rule), and annotation triples.
    """
    e = entities.select(F.col(cls_col).alias("entity")).dropDuplicates()
    presence = e.select(
        iri_fn.restriction_class_iri(F.lit(vocab.IMPLIES_PRESENCE_OF), F.col("entity")).alias("iri"),
        F.lit(vocab.IMPLIES_PRESENCE_OF).alias("prop"),
        F.col("entity").alias("filler"),
    )
    absence = e.select(
        iri_fn.absence_class_iri(F.col("entity")).alias("absence_cls"),
        iri_fn.restriction_class_iri(F.lit(vocab.IMPLIES_PRESENCE_OF), F.col("entity")).alias("presence_cls"),
        F.col("entity"),
    )
    triples = absence.select(
        *_triple(F.col("absence_cls"), vocab.ABSENCE_OF, F.col("entity"))
    )
    negates = absence.select(
        F.col("absence_cls").alias("n"), F.col("presence_cls").alias("c")
    )
    return {"restrictions": presence, "negates": negates, "triples": triples}


def negation_classes(classes: DataFrame, cls_col: str = "iri") -> dict[str, DataFrame]:
    """P4 — Not_C per class C (NegationClassGenerator.scala:18-27):
    IRI = 'http://phenoscape.org/not/' + C, annotated negation_of_class -> C."""
    c = classes.select(F.col(cls_col).alias("cls")).dropDuplicates()
    out = c.select(
        iri_fn.negation_class_iri(F.col("cls")).alias("not_cls"), F.col("cls")
    )
    triples = out.select(*_triple(F.col("not_cls"), vocab.NEGATES, F.col("cls")))
    negates = out.select(F.col("not_cls").alias("n"), F.col("cls").alias("c"))
    return {"negates": negates, "triples": triples}


def develops_from_rules(entities: DataFrame, cls_col: str = "iri") -> dict[str, DataFrame]:
    """P5 — per entity E, the two GCIs of ReverseDevelopsFromRuleGenerator
    .scala:30-34:

        has_part some (develops_from some E)  SubClassOf  has_part some E
        has_part some (part_of some E)        SubClassOf  has_part some E

    Encoded over named restriction classes so the closure fixpoint can use
    them as plain edges. Emits the nested restriction definitions too.
    """
    e = entities.select(F.col(cls_col).alias("entity")).dropDuplicates()
    df_inner = iri_fn.restriction_class_iri(F.lit(vocab.DEVELOPS_FROM), F.col("entity"))
    po_inner = iri_fn.restriction_class_iri(F.lit(vocab.PART_OF), F.col("entity"))
    hp_df = iri_fn.restriction_class_iri(F.lit(vocab.HAS_PART), df_inner)
    hp_po = iri_fn.restriction_class_iri(F.lit(vocab.HAS_PART), po_inner)
    hp_e = iri_fn.restriction_class_iri(F.lit(vocab.HAS_PART), F.col("entity"))

    edges = e.select(hp_df.alias("sub"), hp_e.alias("sup")).unionByName(
        e.select(hp_po.alias("sub"), hp_e.alias("sup"))
    )
    restrictions = (
        e.select(df_inner.alias("iri"), F.lit(vocab.DEVELOPS_FROM).alias("prop"), F.col("entity").alias("filler"))
        .unionByName(e.select(po_inner.alias("iri"), F.lit(vocab.PART_OF).alias("prop"), F.col("entity").alias("filler")))
        .unionByName(e.select(hp_df.alias("iri"), F.lit(vocab.HAS_PART).alias("prop"), df_inner.alias("filler")))
        .unionByName(e.select(hp_po.alias("iri"), F.lit(vocab.HAS_PART).alias("prop"), po_inner.alias("filler")))
        .unionByName(e.select(hp_e.alias("iri"), F.lit(vocab.HAS_PART).alias("prop"), F.col("entity").alias("filler")))
    )
    return {"gci_edges": edges, "restrictions": restrictions}


def similarity_templates(entities: DataFrame, cls_col: str = "iri") -> dict[str, DataFrame]:
    """P6 — per entity, named classes for ``phenotype_of some E`` and
    ``phenotype_of some (E or part_of some E)`` (SimilarityTemplates
    .scala:10-28). The or-expression becomes two subclass rows feeding the
    closure: (phenotype_of some E) and (phenotype_of some (part_of some E))
    are both subclasses of the union template.
    """
    e = entities.select(F.col(cls_col).alias("entity")).dropDuplicates()
    phen_e = iri_fn.restriction_class_iri(F.lit(vocab.PHENOTYPE_OF), F.col("entity"))
    po_e = iri_fn.restriction_class_iri(F.lit(vocab.PART_OF), F.col("entity"))
    phen_po_e = iri_fn.restriction_class_iri(F.lit(vocab.PHENOTYPE_OF), po_e)
    union_tpl = iri_fn.expression_iri(
        F.concat_ws(" ", F.lit("ObjectUnionOf"), F.lit(vocab.PHENOTYPE_OF), F.col("entity"))
    )
    edges = e.select(phen_e.alias("sub"), union_tpl.alias("sup")).unionByName(
        e.select(phen_po_e.alias("sub"), union_tpl.alias("sup"))
    )
    restrictions = (
        e.select(phen_e.alias("iri"), F.lit(vocab.PHENOTYPE_OF).alias("prop"), F.col("entity").alias("filler"))
        .unionByName(e.select(po_e.alias("iri"), F.lit(vocab.PART_OF).alias("prop"), F.col("entity").alias("filler")))
        .unionByName(e.select(phen_po_e.alias("iri"), F.lit(vocab.PHENOTYPE_OF).alias("prop"), po_e.alias("filler")))
    )
    return {"gci_edges": edges, "restrictions": restrictions}


def taxonomy_converter(taxonomy_edges: DataFrame) -> DataFrame:
    """P9 — TaxonomyConverter.scala:23-48: taxon classes become individuals;
    child->parent subclass edges become ``subclade_of`` assertions plus
    dwc:Taxon typing."""
    sub = taxonomy_edges.select(
        *_triple(F.col("child"), vocab.SUBCLADE_OF, F.col("parent"))
    )
    typing = (
        taxonomy_edges.select(F.col("child").alias("t"))
        .unionByName(taxonomy_edges.select(F.col("parent").alias("t")))
        .dropDuplicates()
        .select(*_triple(F.col("t"), vocab.RDF_TYPE, F.lit(vocab.TAXON)))
    )
    return sub.unionByName(typing)


def defined_by(classes: DataFrame, cls_col: str = "iri") -> DataFrame:
    """P13 — AddDefinedBy.scala:9-18: rdfs:isDefinedBy from the OBO prefix of
    the term IRI (e.g. .../obo/UBERON_123 -> .../obo/uberon.owl)."""
    c = classes.select(F.col(cls_col).alias("cls")).dropDuplicates()
    prefix = F.regexp_extract(F.col("cls"), r"obo/([A-Za-z]+)_", 1)
    return c.where(prefix != "").select(
        F.col("cls").alias("subj"),
        F.lit(vocab.RDFS_IS_DEFINED_BY).alias("pred"),
        F.concat(F.lit(vocab.OBO_PREFIX), F.lower(prefix), F.lit(".owl")).alias("obj"),
    )


def normalize_properties(triples: DataFrame, pred_col: str = "pred") -> DataFrame:
    """P1 — PropertyNormalizer.scala:11-75: rename legacy property IRIs to
    canonical via a literal map lookup (broadcast-free, pure expression)."""
    mapping = vocab.PROPERTY_NORMALIZATION
    pairs = []
    for k, v in mapping.items():
        pairs.extend([F.lit(k), F.lit(v)])
    m = F.create_map(*pairs)
    return triples.withColumn(pred_col, F.coalesce(m[F.col(pred_col)], F.col(pred_col)))


def expression_labels(composed: DataFrame) -> DataFrame:
    """F7 — Manchester-syntax-style rdfs:label rendering for composed
    expression classes (ExpressionsUtil.scala:70-83: labels are annotations,
    not logic). Template columns only."""
    return composed.select(
        F.col("phenotype_cls").alias("subj"),
        F.lit(vocab.RDFS_LABEL).alias("pred"),
        F.col("canonical_expr").alias("obj"),
    ).dropDuplicates()


def instantiate_class_assertions(expressions: DataFrame) -> DataFrame:
    """P14 — ExpressionsUtil.instantiateClassAssertion (util/ExpressionsUtil
    .scala:34-50): skolemize ``p some (q some C)`` chains into fresh
    individuals + property assertions.

    Input ``expressions(root_individual, prop, inner_prop, filler)`` — the
    two-level existential shape the KB materializes for instance queries.
    Output triples: root --prop--> skolem1, skolem1 --inner_prop--> skolem2,
    skolem2 rdf:type filler. Skolem IRIs are content hashes of
    (root, path) — deterministic across runs (SURVEY.md §7.1), never the
    reference's ``OntUtil.nextIndividual`` UUIDs.
    """
    sk1 = iri_fn.mint_iri("ind", F.col("root_individual"), F.col("prop"))
    sk2 = iri_fn.mint_iri(
        "ind", F.col("root_individual"), F.col("prop"), F.col("inner_prop")
    )
    hop1 = expressions.select(
        F.col("root_individual").alias("subj"), F.col("prop").alias("pred"), sk1.alias("obj")
    )
    hop2 = expressions.select(
        sk1.alias("subj"), F.col("inner_prop").alias("pred"), sk2.alias("obj")
    )
    typing = expressions.select(
        sk2.alias("subj"), F.lit(vocab.RDF_TYPE).alias("pred"), F.col("filler").alias("obj")
    )
    return hop1.unionByName(hop2).unionByName(typing).dropDuplicates()


def expand_profile_semantics(
    class_assertions: DataFrame, expression_defs: DataFrame
) -> DataFrame:
    """ParseProfileSemantics.tboxWithSemanticsForProfiles
    (scripts/ParseProfileSemantics.scala:13-36): for every class referenced
    by a profile's class assertions, pull in the defining axioms of the
    content-named expression classes it uses.

    The reference decodes expression IRIs back into OWL expressions (its
    IRIs embed the serialized expression); the engine's expression IRIs are
    content HASHES, so invertibility comes from the definition table
    instead: ``expression_defs(subj, pred, obj)`` — the def triples every
    generator emits when it mints an expression IRI (expr ⊑ structure,
    expr in_taxon T, owl:hasSelf, ...). Semantically identical output: the
    subset of def triples REACHABLE from the asserted classes — a fixpoint,
    because nested expressions (e.g. ``has_part some (develops_from some
    E)``) define inner expression nodes that carry their own def rows (the
    reference recurses through the decoded expression the same way,
    ParseProfileSemantics.scala:20-23 ``axiomsFor`` over the signature).

    ``class_assertions(individual, cls)``. Semi-naive reachability over the
    used classes, one leftsemi join per round; depth bounded by expression
    nesting (OBO post-compositions: ≤ ~5), and a cycle in the definition
    graph ends the rounds like any node seen before.
    """
    barrier = iterbarrier.IterationBarrier("profsem")
    defs = barrier(expression_defs.select("subj", "pred", "obj").dropDuplicates(),
                   "defs")
    used = barrier(
        class_assertions.select(F.col("cls").alias("subj")).dropDuplicates(), "used"
    )

    def step(delta: DataFrame, _used: DataFrame) -> DataFrame:
        # a NULL object names no class; as a key it would be novel forever
        return (
            defs.join(delta, on="subj", how="leftsemi")
            .select(F.col("obj").alias("subj"))
            .where(F.col("subj").isNotNull())
        )

    used = iterbarrier.semi_naive(
        barrier, used, step(used, used), step, keys=["subj"], max_iterations=32,
        what="expand_profile_semantics",
    )
    return defs.join(used, on="subj", how="leftsemi")
