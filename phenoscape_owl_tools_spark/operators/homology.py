"""Homology-table conversion, REA model (SURVEY.md S3/J13).

Relational re-expression of HomologyTableWithTaxa.processEntry
(HomologyTableWithTaxa.scala:48-99):

- relation spelling -> (property, negated): 'hom to' / 'not hom to' ->
  in-historical-homology; 'ser hom to' / 'not ser hom to' -> serial homology;
- row identity = sha1(line) (reference :50); we hash the canonical
  tab-concatenation of the row's fields — content-derived, stable;
- non-negated rows emit BOTH directions (J13, :76-77) — reciprocal pairing
  is a union of two projections, no join;
- rows with evidence additionally emit an OBAN association subgraph
  (:71-93): association / evidence individuals, typing, subject/object/
  predicate facts.

Triple encoding of the class-expression subclass axiom: the anonymous
expressions (S and in_taxon some T) get deterministic expression IRIs and a
``homologous_to``-family edge between them; downstream consumers treat the
edge like any subclass/property edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from phenoscape_owl_tools_spark import vocab
from phenoscape_owl_tools_spark.functions import iri as iri_fn

IN_HISTORICAL_HOMOLOGY = "http://purl.obolibrary.org/obo/RO_HOM0000007"
SERIALLY_HOMOLOGOUS_TO = "http://purl.obolibrary.org/obo/RO_HOM0000027"
ASSOCIATION = "http://purl.org/oban/association"
HAS_SUBJECT = "http://purl.org/oban/association_has_subject"
HAS_OBJECT = "http://purl.org/oban/association_has_object"
HAS_PREDICATE = "http://purl.org/oban/association_has_predicate"
IS_NEGATED = "http://purl.org/phenoscape/oban/is_negated"
ANNOTATION_PREFIX = "http://purl.phenoscape.org/homology/annotation/"


def _structure_in_taxon_expr(structure, taxon):
    """Canonical expression IRI for (structure and in_taxon some taxon)."""
    return iri_fn.expression_iri(
        F.concat_ws(
            " ",
            F.lit("ObjectIntersectionOf"),
            structure,
            F.lit("ObjectSomeValuesFrom"),
            F.lit(vocab.IN_TAXON),
            taxon,
        )
    )


def homology_axioms(homology: DataFrame) -> DataFrame:
    """homology(structure1, taxon1, relation, structure2, taxon2,
    evidence_code, publication) -> (subj, pred, obj) triples."""
    h = homology.select(
        F.trim("structure1").alias("s1"),
        F.trim("taxon1").alias("t1"),
        F.trim("relation").alias("rel"),
        F.trim("structure2").alias("s2"),
        F.trim("taxon2").alias("t2"),
        F.col("evidence_code"),
        F.col("publication"),
    ).where(
        # strict relation vocabulary (the reference's processEntry matches
        # exact spellings, HomologyTableToOWL.scala:49-68); unknown
        # spellings are dropped rather than misclassified as serial homology
        F.col("rel").isin("hom to", "not hom to", "ser hom to", "not ser hom to")
    ).withColumn(
        "prop",
        F.when(F.col("rel").isin("hom to", "not hom to"), F.lit(IN_HISTORICAL_HOMOLOGY))
        .otherwise(F.lit(SERIALLY_HOMOLOGOUS_TO)),
    ).withColumn(
        "negated", F.col("rel").startswith("not ")
    ).withColumn(
        # sha1Hex(line) analog (HomologyTableWithTaxa.scala:50)
        "uid",
        F.sha2(F.concat_ws("\t", "s1", "t1", "rel", "s2", "t2",
                           F.coalesce("evidence_code", F.lit("")), "publication"), 256),
    ).withColumn(
        "ann", F.concat(F.lit(ANNOTATION_PREFIX), F.col("uid"))
    ).withColumn(
        "expr1", _structure_in_taxon_expr(F.col("s1"), F.col("t1"))
    ).withColumn(
        "expr2", _structure_in_taxon_expr(F.col("s2"), F.col("t2"))
    )
    # one struct per triple shape, NULL where the row does not emit it (a
    # NULL field, say a missing structure, still emits its triple)
    pos, ev = ~F.col("negated"), F.col("evidence_code").isNotNull()
    ann = F.col("ann")
    ev_ind = F.concat(ann, F.lit("#evidence"))
    s1_ind = F.concat(ann, F.lit("#structure1"))
    s2_ind = F.concat(ann, F.lit("#structure2"))
    shapes = [
        # reciprocal homology edges between the composed expressions (J13)
        (pos, F.col("expr1"), F.col("prop"), F.col("expr2")),
        (pos, F.col("expr2"), F.col("prop"), F.col("expr1")),
        # expression definition triples: expr -> structure / taxon
        (None, F.col("expr1"), F.lit(vocab.RDFS_SUBCLASS_OF), F.col("s1")),
        (None, F.col("expr1"), F.lit(vocab.IN_TAXON), F.col("t1")),
        (None, F.col("expr2"), F.lit(vocab.RDFS_SUBCLASS_OF), F.col("s2")),
        (None, F.col("expr2"), F.lit(vocab.IN_TAXON), F.col("t2")),
        # OBAN association subgraph for evidence-bearing rows (:71-93)
        (ev, ann, F.lit(vocab.RDF_TYPE), F.lit(ASSOCIATION)),
        (ev, ann, F.lit(vocab.HAS_EVIDENCE), ev_ind),
        (ev, ann, F.lit(IS_NEGATED), F.col("negated").cast("string")),
        (ev, s1_ind, F.lit(vocab.RDF_TYPE), F.col("expr1")),
        (ev, s2_ind, F.lit(vocab.RDF_TYPE), F.col("expr2")),
        (ev, ann, F.lit(HAS_SUBJECT), s1_ind),
        (ev, ann, F.lit(HAS_OBJECT), s2_ind),
        (ev, ann, F.lit(HAS_PREDICATE), F.col("prop")),
        (ev, ev_ind, F.lit(vocab.RDF_TYPE), iri_fn.obo_iri_for_term_id(F.col("evidence_code"))),
        (ev, ev_ind, F.lit("http://purl.org/dc/terms/source"), F.col("publication")),
    ]

    def shape(cond, subj, pred, obj):
        t = F.struct(subj.alias("subj"), pred.alias("pred"), obj.alias("obj"))
        return t if cond is None else F.when(cond, t)

    return (
        h.select(F.explode(F.array(*[shape(*x) for x in shapes])).alias("t"))
        .where(F.col("t").isNotNull())
        .select("t.subj", "t.pred", "t.obj")
        .dropDuplicates()
    )


DERIVED_BY_DESCENT_FROM = "http://purl.obolibrary.org/obo/RO_0002156"
HAS_DERIVED_BY_DESCENDANT = "http://purl.obolibrary.org/obo/RO_0002157"
DC_SOURCE = "http://purl.org/dc/terms/source"


def homology_axioms_ancestral(homology: DataFrame) -> DataFrame:
    """Ancestral-structure homology model
    (HomologyTableToOWLWithAncestralStructure.scala:51-73).

    For each positive historical-homology row ('hom to' ONLY — the reference
    skips serial and negated assertions, :69-72), mint an ancestral-structure
    individual and an evidence individual and emit the 7-axiom subgraph as
    triples:

    - (anc, has_evidence, ev)                       [:61]
    - (sX, derived_by_descent_from, anc) for X=1,2  [:62-63 — triple
      encoding of SubClassOf(sX, RO_0002156 value anc)]
    - (anc, has_derived_by_descendant, sX)          [:64-65 — triple
      encoding of Type(anc, RO_0002157 some sX)]
    - (ev, rdf:type, evidenceCode)                  [:66]
    - (ev, dc:source, publication)                  [:67]

    The reference mints both individuals with ``UUID.randomUUID`` (:57-59);
    we use content-derived skolems (uid = sha256 of the canonical row) per
    the engine determinism contract, so re-runs and re-partitions emit
    identical triples. Evidence triples require a non-null evidence_code;
    the structure axioms are emitted regardless.
    """
    h = homology.select(
        F.trim("structure1").alias("s1"),
        F.trim("structure2").alias("s2"),
        F.trim("relation").alias("rel"),
        F.col("evidence_code"),
        F.col("publication"),
    ).where(F.col("rel") == "hom to").withColumn(
        "uid",
        F.sha2(
            F.concat_ws(
                "\t", "s1", "rel", "s2", F.coalesce("evidence_code", F.lit("")), "publication"
            ),
            256,
        ),
    ).withColumn(
        "anc", F.concat(F.lit(ANNOTATION_PREFIX), F.col("uid"), F.lit("#ancestor"))
    ).withColumn(
        "ev", F.concat(F.lit(ANNOTATION_PREFIX), F.col("uid"), F.lit("#evidence"))
    )

    def t(subj, pred, obj):
        return [subj.alias("subj"), pred.alias("pred"), obj.alias("obj")]

    structure = (
        h.select(*t(F.col("s1"), F.lit(DERIVED_BY_DESCENT_FROM), F.col("anc")))
        .unionByName(h.select(*t(F.col("s2"), F.lit(DERIVED_BY_DESCENT_FROM), F.col("anc"))))
        .unionByName(h.select(*t(F.col("anc"), F.lit(HAS_DERIVED_BY_DESCENDANT), F.col("s1"))))
        .unionByName(h.select(*t(F.col("anc"), F.lit(HAS_DERIVED_BY_DESCENDANT), F.col("s2"))))
    )
    withev = h.where(F.col("evidence_code").isNotNull())
    evidence = (
        withev.select(*t(F.col("anc"), F.lit(vocab.HAS_EVIDENCE), F.col("ev")))
        .unionByName(
            withev.select(
                *t(F.col("ev"), F.lit(vocab.RDF_TYPE),
                   iri_fn.obo_iri_for_term_id(F.col("evidence_code")))
            )
        )
        .unionByName(withev.select(*t(F.col("ev"), F.lit(DC_SOURCE), F.col("publication"))))
    )
    return structure.unionByName(evidence).dropDuplicates()


TOP_OBJECT_PROPERTY = "http://www.w3.org/2002/07/owl#topObjectProperty"
OWL_HAS_SELF = "http://www.w3.org/2002/07/owl#hasSelf"
OWL_PROPERTY_CHAIN = "http://www.w3.org/2002/07/owl#propertyChainAxiom"
RDF_N = "http://www.w3.org/1999/02/22-rdf-syntax-ns#_"  # rdf:_1, rdf:_2, ...


def homology_axioms_rolification(homology: DataFrame) -> DataFrame:
    """Rolification demo model (HomologyTableDemoRolification.scala:41-87).

    Per positive row the reference emits, with per-row fresh roles
    ``{uid}#role1`` / ``{uid}#role2`` (:52,:64):

    - ``(SX and in_taxon some TX) SubClassOf roleX Self`` (:72-73,:81-82),
    - ``property SubPropertyChain(role1 o Top o role2)`` (:74,:83) where
      property is historical (RO_HOM0000007) or serial (RO_HOM0000027)
      homology (:23-24,:46-51);

    negated rows emit no role/chain axioms; evidence-bearing rows always
    emit ``evidence Type evidenceCode`` + ``evidence dc:source pub``
    (:68-79).

    Triple encoding (engine convention — deterministic content skolems,
    public vocab only): the self-restriction is a named expression node
    ``(exprX, rdfs:subClassOf, selfX)`` + ``(selfX, owl:hasSelf, roleX)``;
    the ternary chain is a list node ``(prop, owl:propertyChainAxiom, ch)``
    + ``(ch, rdf:_1, role1) (ch, rdf:_2, owl:topObjectProperty)
    (ch, rdf:_3, role2)``. ``uid`` is sha256 of the canonical row, standing
    in for the reference's sha1Hex(line) (:42).
    """
    h = homology.select(
        F.trim("structure1").alias("s1"),
        F.trim("taxon1").alias("t1"),
        F.trim("relation").alias("rel"),
        F.trim("structure2").alias("s2"),
        F.trim("taxon2").alias("t2"),
        F.col("evidence_code"),
        F.col("publication"),
    ).where(
        F.col("rel").isin("hom to", "not hom to", "ser hom to", "not ser hom to")
    ).withColumn(
        "prop",
        F.when(F.col("rel").isin("hom to", "not hom to"), F.lit(IN_HISTORICAL_HOMOLOGY))
        .otherwise(F.lit(SERIALLY_HOMOLOGOUS_TO)),
    ).withColumn(
        "negated", F.col("rel").startswith("not ")
    ).withColumn(
        "uid",
        F.sha2(F.concat_ws("\t", "s1", "t1", "rel", "s2", "t2",
                           F.coalesce("evidence_code", F.lit("")), "publication"), 256),
    ).withColumn(
        "ann", F.concat(F.lit(ANNOTATION_PREFIX), F.col("uid"))
    ).withColumn(
        "expr1", _structure_in_taxon_expr(F.col("s1"), F.col("t1"))
    ).withColumn(
        "expr2", _structure_in_taxon_expr(F.col("s2"), F.col("t2"))
    ).withColumn(
        "role1", F.concat(F.col("ann"), F.lit("#role1"))
    ).withColumn(
        "role2", F.concat(F.col("ann"), F.lit("#role2"))
    )

    def t(subj, pred, obj):
        return [subj.alias("subj"), pred.alias("pred"), obj.alias("obj")]

    pos = h.where(~F.col("negated"))
    self1 = F.concat(F.col("ann"), F.lit("#self1"))
    self2 = F.concat(F.col("ann"), F.lit("#self2"))
    chain = F.concat(F.col("ann"), F.lit("#chain"))
    role_axioms = (
        # expr defs (shared shape with homology_axioms)
        pos.select(*t(F.col("expr1"), F.lit(vocab.RDFS_SUBCLASS_OF), F.col("s1")))
        .unionByName(pos.select(*t(F.col("expr1"), F.lit(vocab.IN_TAXON), F.col("t1"))))
        .unionByName(pos.select(*t(F.col("expr2"), F.lit(vocab.RDFS_SUBCLASS_OF), F.col("s2"))))
        .unionByName(pos.select(*t(F.col("expr2"), F.lit(vocab.IN_TAXON), F.col("t2"))))
        # rolification: exprX ⊑ roleX Self
        .unionByName(pos.select(*t(F.col("expr1"), F.lit(vocab.RDFS_SUBCLASS_OF), self1)))
        .unionByName(pos.select(*t(self1, F.lit(OWL_HAS_SELF), F.col("role1"))))
        .unionByName(pos.select(*t(F.col("expr2"), F.lit(vocab.RDFS_SUBCLASS_OF), self2)))
        .unionByName(pos.select(*t(self2, F.lit(OWL_HAS_SELF), F.col("role2"))))
        # prop ⊒ role1 o Top o role2
        .unionByName(pos.select(*t(F.col("prop"), F.lit(OWL_PROPERTY_CHAIN), chain)))
        .unionByName(pos.select(*t(chain, F.lit(RDF_N + "1"), F.col("role1"))))
        .unionByName(pos.select(*t(chain, F.lit(RDF_N + "2"), F.lit(TOP_OBJECT_PROPERTY))))
        .unionByName(pos.select(*t(chain, F.lit(RDF_N + "3"), F.col("role2"))))
    )
    ev = h.where(F.col("evidence_code").isNotNull())
    ev_ind = F.concat(F.col("ann"), F.lit("#evidence"))
    evidence = (
        ev.select(*t(ev_ind, F.lit(vocab.RDF_TYPE),
                     iri_fn.obo_iri_for_term_id(F.col("evidence_code"))))
        .unionByName(ev.select(*t(ev_ind, F.lit(DC_SOURCE), F.col("publication"))))
        # axiom_has_evidence hook on the annotation node (:72-74 Annotation)
        .unionByName(
            ev.where(~F.col("negated"))
            .select(*t(F.col("ann"), F.lit(vocab.HAS_EVIDENCE), ev_ind))
        )
    )
    return role_axioms.unionByName(evidence).dropDuplicates()


def rolification_chain_rules(homology: DataFrame) -> DataFrame:
    """Binary decomposition of the rolification chains for the saturation
    operator: ``role1 o Top ⊑ aux`` and ``aux o role2 ⊑ prop`` — the
    (first, second, sup) shape ``closure.property_chain_closure`` consumes.
    Lets the demo model's ternary chains run through the engine's EL
    saturation without a dedicated ternary-chain operator.
    """
    base = homology_axioms_rolification(homology)
    chains = base.where(F.col("pred") == OWL_PROPERTY_CHAIN).select(
        F.col("subj").alias("sup"), F.col("obj").alias("ch")
    )
    members = base.where(F.col("pred").startswith(RDF_N)).select(
        F.col("subj").alias("ch2"),
        F.col("pred").substr(F.lit(len(RDF_N) + 1), F.lit(2)).cast("int").alias("pos"),
        F.col("obj").alias("role"),
    )
    m = chains.join(members, chains["ch"] == members["ch2"]).groupBy("ch", "sup").agg(
        F.max(F.when(F.col("pos") == 1, F.col("role"))).alias("r1"),
        F.max(F.when(F.col("pos") == 2, F.col("role"))).alias("r2"),
        F.max(F.when(F.col("pos") == 3, F.col("role"))).alias("r3"),
    )
    aux = F.concat(F.col("ch"), F.lit("#aux"))
    first_half = m.select(
        F.col("r1").alias("first"), F.col("r2").alias("second"), aux.alias("sup")
    )
    second_half = m.select(
        aux.alias("first"), F.col("r3").alias("second"), F.col("sup")
    )
    return first_half.unionByName(second_half)


HH_MEMBER_OF = "http://example.org/historical_homology_member_of"
HAS_HH_MEMBER = "http://example.org/has_historical_homology_member"
SH_MEMBER_OF = "http://example.org/serial_homology_member_of"
HAS_SH_MEMBER = "http://example.org/has_serial_homology_member"
OWL_INVERSE_OF = "http://www.w3.org/2002/07/owl#inverseOf"

# SubPropertyChain axioms of the AVA model (HomologyTableToOWLVAHM.scala:
# 47-51), in the (first, second, sup) shape property_chain_closure consumes.
VAHM_CHAIN_RULES = [
    (HH_MEMBER_OF, HAS_HH_MEMBER, IN_HISTORICAL_HOMOLOGY),
    (SH_MEMBER_OF, HAS_SH_MEMBER, SERIALLY_HOMOLOGOUS_TO),
]


def homology_axioms_vahm(homology: DataFrame) -> DataFrame:
    """AVA/VAHM homology model (HomologyTableToOWLVAHM.scala:55-97).

    Per positive row, with a per-row ancestor individual (:78) and the
    relation's member properties (:60-65):

    - ``(SX and in_taxon some TX) SubClassOf (memberOf value ancestor)``
      (:82,:84) — encoded as a direct edge ``(exprX, memberOf, anc)``
      (value restriction with a known individual),
    - ``ancestor Type (hasMember some (SX and in_taxon some TX))``
      (:83,:85) — encoded ``(anc, hasMember, exprX)``,
    - evidence (:86-92): ``(ev, rdf:type, code)``, ``(ev, dc:source, pub)``,
      ``(anc, has_evidence, ev)``.

    Ontology-level axioms (:44-51), emitted once when any positive row of
    the relation exists: ``(memberOf, owl:inverseOf, hasMember)`` and the
    ``SubPropertyChain`` encoded as an rdf:_n list node, same convention as
    :func:`homology_axioms_rolification`. Negated rows emit nothing (:80,
    the reference guards the whole block with ``if (!negated)``).

    Expression defs (expr ⊑ structure, expr in_taxon taxon) are emitted so
    the expression nodes resolve, matching :func:`homology_axioms`.
    """
    h = homology.select(
        F.trim("structure1").alias("s1"),
        F.trim("taxon1").alias("t1"),
        F.trim("relation").alias("rel"),
        F.trim("structure2").alias("s2"),
        F.trim("taxon2").alias("t2"),
        F.col("evidence_code"),
        F.col("publication"),
    ).where(
        F.col("rel").isin("hom to", "ser hom to")  # positive rows only (:80)
    ).withColumn(
        "up",
        F.when(F.col("rel") == "hom to", F.lit(HH_MEMBER_OF))
        .otherwise(F.lit(SH_MEMBER_OF)),
    ).withColumn(
        "down",
        F.when(F.col("rel") == "hom to", F.lit(HAS_HH_MEMBER))
        .otherwise(F.lit(HAS_SH_MEMBER)),
    ).withColumn(
        "uid",
        F.sha2(F.concat_ws("\t", "s1", "t1", "rel", "s2", "t2",
                           F.coalesce("evidence_code", F.lit("")), "publication"), 256),
    ).withColumn(
        "ann", F.concat(F.lit(ANNOTATION_PREFIX), F.col("uid"))
    ).withColumn(
        "anc", F.concat(F.col("ann"), F.lit("#ancestor"))
    ).withColumn(
        "expr1", _structure_in_taxon_expr(F.col("s1"), F.col("t1"))
    ).withColumn(
        "expr2", _structure_in_taxon_expr(F.col("s2"), F.col("t2"))
    )

    def t(subj, pred, obj):
        return [subj.alias("subj"), pred.alias("pred"), obj.alias("obj")]

    member = (
        h.select(*t(F.col("expr1"), F.col("up"), F.col("anc")))
        .unionByName(h.select(*t(F.col("anc"), F.col("down"), F.col("expr1"))))
        .unionByName(h.select(*t(F.col("expr2"), F.col("up"), F.col("anc"))))
        .unionByName(h.select(*t(F.col("anc"), F.col("down"), F.col("expr2"))))
        # expression defs so expr nodes resolve downstream
        .unionByName(h.select(*t(F.col("expr1"), F.lit(vocab.RDFS_SUBCLASS_OF), F.col("s1"))))
        .unionByName(h.select(*t(F.col("expr1"), F.lit(vocab.IN_TAXON), F.col("t1"))))
        .unionByName(h.select(*t(F.col("expr2"), F.lit(vocab.RDFS_SUBCLASS_OF), F.col("s2"))))
        .unionByName(h.select(*t(F.col("expr2"), F.lit(vocab.IN_TAXON), F.col("t2"))))
    )
    ev = h.where(F.col("evidence_code").isNotNull())
    ev_ind = F.concat(F.col("ann"), F.lit("#evidence"))
    evidence = (
        ev.select(*t(ev_ind, F.lit(vocab.RDF_TYPE),
                     iri_fn.obo_iri_for_term_id(F.col("evidence_code"))))
        .unionByName(ev.select(*t(ev_ind, F.lit(DC_SOURCE), F.col("publication"))))
        .unionByName(ev.select(*t(F.col("anc"), F.lit(vocab.HAS_EVIDENCE), ev_ind)))
    )
    # ontology-level property axioms: the reference adds BOTH relations'
    # inverse + chain axioms unconditionally in convertFile
    # (HomologyTableToOWLVAHM.scala:44-50) — static rows, not derived from
    # the input, so an input with only one relation's rows (or only negated
    # rows) still carries the full property vocabulary.
    static_rows = []
    for up, down, sup in (
        (HH_MEMBER_OF, HAS_HH_MEMBER, IN_HISTORICAL_HOMOLOGY),
        (SH_MEMBER_OF, HAS_SH_MEMBER, SERIALLY_HOMOLOGOUS_TO),
    ):
        ch = sup + "#chain"
        static_rows += [
            (up, OWL_INVERSE_OF, down),
            (sup, OWL_PROPERTY_CHAIN, ch),
            (ch, RDF_N + "1", up),
            (ch, RDF_N + "2", down),
        ]
    onto = homology.sparkSession.createDataFrame(
        static_rows, "subj string, pred string, obj string"
    )
    return member.unionByName(evidence).unionByName(onto).dropDuplicates()


HOMOLOGY_ANNOTATION = "http://example.org/HomologyAnnotation"
NEG_HOMOLOGY_ANNOTATION = "http://example.org/NegativeHomologyAnnotation"
ABOUT_STRUCTURE = "http://example.org/about_structure"


def homology_axioms_simple(homology: DataFrame) -> DataFrame:
    """Plain class-level model (HomologyTableToOWL.scala:49-67): positive
    'hom to' rows ONLY (negative assertions would make the ontology
    inconsistent — the reference's FIXME at :62-65 skips them), reciprocal
    ``SX SubClassOf (homologous_to some SY)`` encoded as direct
    ``(SX, homologous_to, SY)`` edges, plus the evidence individual.
    Content-derived skolems replace the reference's UUIDs (:55)."""
    h = homology.select(
        F.trim("structure1").alias("s1"),
        F.trim("structure2").alias("s2"),
        F.trim("relation").alias("rel"),
        F.col("evidence_code"),
        F.col("publication"),
    ).where(F.col("rel") == "hom to").withColumn(
        "uid",
        F.sha2(F.concat_ws("\t", "s1", "rel", "s2",
                           F.coalesce("evidence_code", F.lit("")), "publication"), 256),
    ).withColumn(
        "ev", F.concat(F.lit(ANNOTATION_PREFIX), F.col("uid"), F.lit("#evidence"))
    )

    def t(subj, pred, obj):
        return [subj.alias("subj"), pred.alias("pred"), obj.alias("obj")]

    edges = (
        h.select(*t(F.col("s1"), F.lit(vocab.HOMOLOGOUS_TO), F.col("s2")))
        .unionByName(h.select(*t(F.col("s2"), F.lit(vocab.HOMOLOGOUS_TO), F.col("s1"))))
    )
    ev = h.where(F.col("evidence_code").isNotNull())
    evidence = (
        ev.select(*t(F.col("ev"), F.lit(vocab.RDF_TYPE),
                     iri_fn.obo_iri_for_term_id(F.col("evidence_code"))))
        .unionByName(ev.select(*t(F.col("ev"), F.lit(DC_SOURCE), F.col("publication"))))
    )
    return edges.unionByName(evidence).dropDuplicates()


def homology_axioms_annotations(homology: DataFrame) -> DataFrame:
    """Annotation-individual model (HomologyTableToOWLAsAnnotations.scala:
    54-71): EVERY row (positive and negative) gets an annotation individual
    typed HomologyAnnotation / NegativeHomologyAnnotation, with
    ``about_structure`` facts to both structures and the evidence subgraph.
    Content-derived skolems replace the reference's UUIDs (:56,:60)."""
    h = homology.select(
        F.trim("structure1").alias("s1"),
        F.trim("structure2").alias("s2"),
        F.trim("relation").alias("rel"),
        F.col("evidence_code"),
        F.col("publication"),
    ).withColumn(
        "uid",
        F.sha2(F.concat_ws("\t", "s1", "rel", "s2",
                           F.coalesce("evidence_code", F.lit("")), "publication"), 256),
    ).withColumn(
        "ann", F.concat(F.lit(ANNOTATION_PREFIX), F.col("uid"))
    ).withColumn(
        "ev", F.concat(F.col("ann"), F.lit("#evidence"))
    ).withColumn(
        # the reference types every non-'hom to' row — INCLUDING serial
        # homology — as negativeHomologyAnnotation, and processes all rows
        # without a relation whitelist (scala:62-65); mirrored exactly
        "cls",
        F.when(F.col("rel") == "hom to", F.lit(HOMOLOGY_ANNOTATION))
        .otherwise(F.lit(NEG_HOMOLOGY_ANNOTATION)),
    )

    def t(subj, pred, obj):
        return [subj.alias("subj"), pred.alias("pred"), obj.alias("obj")]

    core = (
        h.select(*t(F.col("ann"), F.lit(vocab.RDF_TYPE), F.col("cls")))
        .unionByName(h.select(*t(F.col("ann"), F.lit(ABOUT_STRUCTURE), F.col("s1"))))
        .unionByName(h.select(*t(F.col("ann"), F.lit(ABOUT_STRUCTURE), F.col("s2"))))
    )
    ev = h.where(F.col("evidence_code").isNotNull())
    evidence = (
        ev.select(*t(F.col("ann"), F.lit(vocab.HAS_EVIDENCE), F.col("ev")))
        .unionByName(ev.select(*t(F.col("ev"), F.lit(vocab.RDF_TYPE),
                                  iri_fn.obo_iri_for_term_id(F.col("evidence_code")))))
        .unionByName(ev.select(*t(F.col("ev"), F.lit(DC_SOURCE), F.col("publication"))))
    )
    return core.unionByName(evidence).dropDuplicates()
