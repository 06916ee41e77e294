"""Join-based EL subclass-closure materialization (replaces ELK).

The reference classifies with the ELK reasoner and then materializes the
inferred hierarchy (MaterializeInferences.scala:44-57,
MaterializeSubClassOfClosure.scala:33-43; SPARQL flavor
src/main/sparql/subclass_closure_construct.rq). We materialize the same
closure with an iterative **semi-naive** fixpoint over DataFrames:

    closure_0 = E            (asserted edges, equivalences seeded both ways)
    delta_0   = E
    delta_i+1 = project(delta_i join E) minus closure_i     -- new facts only
    closure_i+1 = closure_i union delta_i+1

EL rules beyond transitivity run *inside the same fixpoint* (SURVEY.md §7.2):
restriction monotonicity (X subClassOf Y implies (P some X) subClassOf
(P some Y) for named restriction classes) fires on each delta, so GCI-derived
edges participate in subsequent transitive steps exactly as ELK's saturation
would.

Scale notes: iterations ~ graph diameter (20-40 for OBO); each iteration is
one shuffle on the join key. ``localCheckpoint`` truncates lineage per
iteration (mandatory: plan depth would otherwise grow linearly and overwhelm
the driver). Hub-class skew on the ``sup`` side (ANATOMICAL_ENTITY etc.) is
handled by AQE skew-join plus the explicit salting helper in
``operators/salting.py`` for the post-closure probe joins.

Routing: each Spark round costs a handful of jobs (barrier checkpoint,
anti-join, emptiness probe) whatever the data size, while a
dimension-scale TBox seed is tiny (a 2k-document KB: 493 edges and 110
restrictions, closing to 1.5k rows in 4 rounds). When the seed and the
restriction set fit one barrier partition (``iterbarrier.fits_driver``),
they are collected once and the same semi-naive rounds run in Python on
the driver; a closure that outgrows one partition mid-run hands its
``(closure, delta)`` state to the Spark loop, which resumes from there.
Measured on that KB build plus its SPARQL path queries (4 cores,
local[4], BENCH.md §22): the five closure calls' jobs fell from 113 to 38.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .. import iterbarrier


def _edges(df: DataFrame, sub: str = "sub", sup: str = "sup") -> DataFrame:
    return df.select(F.col(sub).alias("sub"), F.col(sup).alias("sup")).where(
        F.col("sub").isNotNull() & F.col("sup").isNotNull() & (F.col("sub") != F.col("sup"))
    )


def equiv_to_subclass(equiv: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """EquivalentClasses(a, b) == mutual SubClassOf (C4)."""
    fwd = equiv.select(F.col(a).alias("sub"), F.col(b).alias("sup"))
    rev = equiv.select(F.col(b).alias("sub"), F.col(a).alias("sup"))
    return fwd.unionByName(rev)


def _monotonicity_rule(delta: DataFrame, r1: DataFrame) -> DataFrame:
    """EL monotonicity: (X ⊑ Y) ∧ R1=(P some X) ∧ R2=(P some Y) ⟹ R1 ⊑ R2.

    ``r1`` columns: (r_prop, r_filler, r_iri), see :func:`_restriction_index`.
    Shared by the batch fixpoint (:func:`transitive_closure`) and
    incremental maintenance (:func:`incremental_closure_apply`: overdelete,
    rederive and insertion rounds) so the rule cannot diverge.
    """
    lhs = delta.join(r1, delta["sub"] == r1["r_filler"]).select(
        F.col("r_iri").alias("m_sub"),
        F.col("r_prop").alias("m_prop"),
        F.col("sup").alias("m_sup_filler"),
    )
    r2 = r1.select(
        F.col("r_prop").alias("m_prop2"),
        F.col("r_filler").alias("m_filler2"),
        F.col("r_iri").alias("m_iri2"),
    )
    return lhs.join(
        r2,
        (lhs["m_prop"] == r2["m_prop2"]) & (lhs["m_sup_filler"] == r2["m_filler2"]),
    ).select(F.col("m_sub").alias("sub"), F.col("m_iri2").alias("sup"))


def _restriction_index(restrictions: DataFrame) -> DataFrame:
    """``restrictions(iri, prop, filler)`` as the ``r1`` columns that
    :func:`_monotonicity_rule` joins on."""
    return restrictions.select(
        F.col("prop").alias("r_prop"),
        F.col("filler").alias("r_filler"),
        F.col("iri").alias("r_iri"),
    )


def _with_monotonicity(step: DataFrame, delta: DataFrame, r1: DataFrame | None) -> DataFrame:
    """``step`` plus the monotonicity facts ``delta`` fires (none without
    restrictions)."""
    return step if r1 is None else step.unionByName(_monotonicity_rule(delta, r1))


def _compose(a: DataFrame, b: DataFrame) -> DataFrame:
    """Relational composition: (x, z) for every (x, y) in ``a`` and (y, z)
    in ``b``."""
    return (
        a.alias("x").join(b.alias("y"), F.col("x.sup") == F.col("y.sub"))
        .select(F.col("x.sub").alias("sub"), F.col("y.sup").alias("sup"))
    )


def _no_loops(step: DataFrame) -> DataFrame:
    """``step`` without self-loops: a closure holds none (``_edges`` drops
    them from every input), and a cycle composes them."""
    return step.where(F.col("sub") != F.col("sup"))


def _both_sides(delta: DataFrame, rel: DataFrame, r1: DataFrame | None) -> DataFrame:
    """One non-linear round's facts: ``delta∘rel ∪ rel∘delta`` plus the
    monotonicity facts ``delta`` fires, without self-loops."""
    return _no_loops(_with_monotonicity(
        _compose(delta, rel).unionByName(_compose(rel, delta)), delta, r1
    ))


def _monotonicity_index(restrictions: list[tuple]):
    """Driver twin of :func:`_monotonicity_rule` over ``(prop, filler, iri)``
    rows; SQL join semantics, so a NULL prop or filler never matches."""
    by_filler: dict = defaultdict(list)
    by_prop_filler: dict = defaultdict(list)
    for prop, filler, iri in restrictions:
        if prop is not None and filler is not None:
            by_filler[filler].append((prop, iri))
            by_prop_filler[(prop, filler)].append(iri)

    def mono(delta: set) -> set:
        return {
            (r1, r2)
            for x, y in delta
            for prop, r1 in by_filler.get(x, ())
            for r2 in by_prop_filler.get((prop, y), ())
        }

    return mono


def _driver_rounds(
    seed: list[tuple], restrictions: list[tuple] | None, max_iterations: int
) -> tuple[set, set | None, int]:
    """The Spark loop's round recurrence of :func:`transitive_closure` over
    Python sets, for a seed that fits one barrier partition.

    Returns ``(closure, delta, rounds)``. ``delta`` is None once the
    fixpoint converged; otherwise the closure outgrew one partition after
    ``rounds`` rounds and the caller resumes the Spark loop from
    ``(closure, delta)``, which are exactly that loop's state at that round.
    """
    closure = set(seed)
    delta = closure
    if restrictions is None:
        succ: dict = defaultdict(list)
        for a, b in closure:
            succ[a].append(b)
    else:
        mono = _monotonicity_index(restrictions)
        delta = closure | mono(closure)
        closure = set(delta)
        # closure by sub and by sup; NULL keys (only a NULL restriction iri
        # can make one) are left out so they never join, as in SQL
        out_idx: dict = defaultdict(set)
        in_idx: dict = defaultdict(set)

        def index(rows: set) -> None:
            for a, b in rows:
                if a is not None:
                    out_idx[a].add(b)
                if b is not None:
                    in_idx[b].add(a)

        index(closure)
    for it in range(max_iterations):
        if not iterbarrier.fits_driver(len(closure)):
            return closure, delta, it
        if restrictions is None:
            step = {(a, c) for a, b in delta for c in succ.get(b, ())}
        else:
            step = {(a, c) for a, b in delta for c in out_idx.get(b, ())}
            step |= {(a, c) for b, c in delta for a in in_idx.get(b, ())}
            step |= mono(delta)
        new = {
            (a, c) for a, c in step if a is not None and c is not None and a != c
        } - closure
        if not new:
            return closure, None, it + 1
        closure |= new
        delta = new
        if restrictions is not None:
            index(new)
    raise RuntimeError(
        f"transitive_closure did not converge in {max_iterations} iterations"
    )


def transitive_closure(
    edges: DataFrame,
    restrictions: DataFrame | None = None,
    reflexive: bool = False,
    max_iterations: int = 100,
) -> DataFrame:
    """Transitive (optionally reflexive) closure of ``edges(sub, sup)``.

    ``restrictions(iri, prop, filler)`` — named classes standing for
    ``prop some filler`` (P2 generator output). When given, the EL
    monotonicity rule runs inside the fixpoint: for every new fact
    (X subClassOf Y) and named restrictions R1=(P some X), R2=(P some Y),
    emit (R1 subClassOf R2). Mirrors what ELK derives from
    NamedRestrictionGenerator axioms (NamedRestrictionGenerator.scala:33-43).

    Route: a seed (and restriction set) that fits one barrier partition is
    closed on the driver by :func:`_driver_rounds`; a closure that outgrows
    it mid-run resumes in the Spark loop below. ``max_iterations`` counts
    rounds across both.
    """
    import pandas as pd

    barrier = iterbarrier.IterationBarrier("closure")
    edges = barrier(_edges(edges).dropDuplicates(), "edges")
    spark = edges.sparkSession
    if restrictions is not None:
        r1 = _restriction_index(restrictions)

    closure = delta = None
    start = 0
    r_rows = None
    # one row over the threshold is enough to decide, and a seed that fits
    # is already collected
    pdf = edges.limit(iterbarrier.TARGET_ROWS_PER_PARTITION + 1).toPandas()
    on_driver = iterbarrier.fits_driver(len(pdf))
    if on_driver and restrictions is not None:
        r_pdf = r1.limit(iterbarrier.TARGET_ROWS_PER_PARTITION + 1).toPandas()
        r_rows = list(zip(r_pdf["r_prop"], r_pdf["r_filler"], r_pdf["r_iri"]))
        on_driver = iterbarrier.fits_driver(len(r_rows))
    if on_driver:
        seed = list(zip(pdf["sub"], pdf["sup"]))
        rows, delta_rows, start = _driver_rounds(seed, r_rows, max_iterations)
        schema = StructType([
            StructField(c, edges.schema[c].dataType, True) for c in ("sub", "sup")
        ])

        def frame(part: set, tag: str) -> DataFrame:
            pdf = pd.DataFrame.from_records(list(part), columns=["sub", "sup"])
            return barrier.from_pandas(spark, pdf, schema, tag)

        # the closure only grows from the seed, which is a frame already:
        # only derived rows travel back (none for a relation that is
        # transitive already, e.g. a SPARQL path over a closed hierarchy)
        derived = rows.difference(seed)
        closure = edges.unionByName(frame(derived, "closure")) if derived else edges
        if delta_rows is not None:
            delta = frame(delta_rows, "delta")
    if not on_driver or delta is not None:
        closure = _spark_rounds(
            barrier, edges, None if restrictions is None else barrier(r1, "restrictions"),
            closure, delta, start, max_iterations,
        )

    if reflexive:
        nodes = (
            closure.select(F.col("sub").alias("n"))
            .unionByName(closure.select(F.col("sup").alias("n")))
            .dropDuplicates()
        )
        closure = closure.unionByName(
            nodes.select(F.col("n").alias("sub"), F.col("n").alias("sup"))
        )
    return closure


def _spark_rounds(
    barrier,
    edges: DataFrame,
    r1: DataFrame | None,
    closure: DataFrame | None,
    delta: DataFrame | None,
    start: int,
    max_iterations: int,
) -> DataFrame:
    """Semi-naive rounds ``start..max_iterations`` of :func:`transitive_closure`
    over DataFrames, from the seed (``closure`` None) or from a
    ``(closure, delta)`` state handed over by :func:`_driver_rounds`."""
    # The closure accumulates as a union of barrier-materialized deltas:
    # every branch is an independent parquet scan (iterbarrier.py — plain
    # checkpoints leak per-task state that doubles task time per iteration
    # on Spark 4.1), so plan depth stays bounded by the iteration count
    # (~graph diameter).
    if closure is None:
        closure = edges
        delta = edges
        if r1 is not None:
            delta = barrier(
                edges.unionByName(_monotonicity_rule(edges, r1)).dropDuplicates(), "delta"
            )
            closure = delta

    def step(delta: DataFrame, closure: DataFrame) -> DataFrame:
        if r1 is None:
            # plain transitivity over a static edge set: linear semi-naive
            # (delta ∘ base) is complete and cheapest — O(diameter) rounds
            return _no_loops(_compose(delta, edges))
        # monotonicity DERIVES NEW EDGES mid-fixpoint (rx ⊑ ry), so the
        # edge set is not static: linear semi-naive against the base would
        # never compose pre-existing facts with derived edges (e.g. a ⊑ rx
        # asserted, rx ⊑ ry derived ⟹ a ⊑ ry — which ELK entails).
        # Non-linear semi-naive closes over the FULL relation: delta ∘
        # closure ∪ closure ∘ delta (also O(log d) rounds).
        return _both_sides(delta, closure, r1)

    return iterbarrier.semi_naive(
        barrier, closure, step(delta, closure), step, keys=["sub", "sup"],
        max_iterations=max_iterations, what="transitive_closure", start=start,
    )


def el_closure(
    subclass_edges: DataFrame,
    equiv_edges: DataFrame | None = None,
    gci_edges: DataFrame | None = None,
    restrictions: DataFrame | None = None,
    reflexive: bool = False,
) -> DataFrame:
    """Full EL-fragment closure used by the KB build (C1-C4).

    Seeds = asserted SubClassOf + equivalences (both directions) + GCI rule
    edges from the P5 generators; monotonicity interleaved per iteration.
    """
    seed = _edges(subclass_edges)
    if equiv_edges is not None:
        seed = seed.unionByName(equiv_to_subclass(equiv_edges))
    if gci_edges is not None:
        seed = seed.unionByName(_edges(gci_edges))
    return transitive_closure(seed, restrictions=restrictions, reflexive=reflexive)


def direct_hierarchy(closure: DataFrame) -> DataFrame:
    """Nonredundant (direct) parent edges: closure minus closure-compose-closure.

    Mirrors OWLsim.scala:175-198 extracting direct super/subclass relations
    from the reasoner taxonomy (C6).

    Cost guard: the two-hop intermediate is the number of length-2 paths in
    the closure — O(|C| * avg-ancestor-fanout), i.e. quadratic in depth for
    chain-heavy graphs. Fine for a bounded TBox (OBO ontologies: |C| ~ 1e7,
    fanout ~ 40); for wider inputs derive direct edges from the asserted
    graph before closing instead.

    The self-join FANS OUT (|descendants(k)| x |ancestors(k)| per key k),
    and AQE sizes partitions from map-output bytes, so on a compact closure
    it would coalesce the join into a handful of tasks that then emit the
    whole two-hop product serially (same hazard as the pairwise rare join —
    BENCH §8). Both sides are explicitly co-partitioned on the join key;
    REPARTITION_BY_NUM shuffles are exempt from AQE coalescing.
    """
    c = _edges(closure)
    par = c.sparkSession.sparkContext.defaultParallelism
    two_hop = (
        c.repartition(par, "sup").alias("x")
        .join(c.repartition(par, "sub").alias("y"), F.col("x.sup") == F.col("y.sub"))
        .select(F.col("x.sub").alias("sub"), F.col("y.sup").alias("sup"))
        .dropDuplicates()
    )
    return c.join(two_hop, on=["sub", "sup"], how="left_anti")


def instance_closure(types: DataFrame, closure: DataFrame) -> DataFrame:
    """rdf:type / rdfs:subClassOf* (C3): one join once closure exists.

    ``types(individual, cls)`` joined through reflexive-transitive closure.
    Mirrors src/main/sparql/profile_instance_closure_construct.rq:10-13.
    """
    direct = types.select("individual", "cls")
    inferred = (
        types.join(closure, types["cls"] == closure["sub"])
        .select("individual", F.col("sup").alias("cls"))
    )
    return direct.unionByName(inferred).dropDuplicates()


def unsatisfiable_classes(closure: DataFrame, disjoints: DataFrame) -> DataFrame:
    """C7 — satisfiability check (PhenoscapeKB.scala:313-321, 344-349).

    A class is unsatisfiable iff its reflexive ancestor set contains both
    members of some DisjointClasses pair. ``disjoints(a, b)``. Two
    broadcast-sized joins against the materialized closure — no reasoner.
    """
    c = _edges(closure)
    nodes = (
        c.select(F.col("sub").alias("n"))
        .unionByName(c.select(F.col("sup").alias("n")))
        .dropDuplicates()
    )
    anc = c.unionByName(nodes.select(F.col("n").alias("sub"), F.col("n").alias("sup")))
    hit_a = anc.join(
        F.broadcast(disjoints), anc["sup"] == disjoints["a"]
    ).select(F.col("sub").alias("cls"), "a", "b")
    hit_b = anc.select(F.col("sub").alias("cls2"), F.col("sup").alias("anc2"))
    return (
        hit_a.join(
            hit_b,
            (hit_a["cls"] == hit_b["cls2"]) & (hit_a["b"] == hit_b["anc2"]),
            "leftsemi",
        )
        .select("cls")
        .dropDuplicates()
    )


def property_chain_closure(
    assertions: DataFrame,
    chains: list[tuple[str, str, str]],
    subprops: DataFrame | None = None,
    max_iterations: int = 100,
    keep_self_loops: bool = False,
) -> DataFrame:
    """EL property-chain saturation (SURVEY.md §7.3 extension, C4).

    ``assertions(p, s, o)`` — typed edges (property assertions / existential
    skeleton edges). ``chains`` — SubPropertyChainOf axioms as
    (p1, p2, r): p1 ∘ p2 ⊑ r (transitivity = (p, p, p)); the shape used by
    the reference's VAHM homology model (HomologyTableToOWLVAHM.scala:44-50)
    and rolification demo (HomologyTableDemoRolification.scala:70-80).
    ``subprops(sub_p, sup_p)`` — role hierarchy, applied per iteration.

    Semi-naive over the typed relation: each round joins the delta on BOTH
    chain positions against the accumulated set, so derived∘derived
    compositions are found (a recursive CTE could only re-join the base).
    """
    barrier = iterbarrier.IterationBarrier("chains")
    base = assertions.select("p", "s", "o")
    if not keep_self_loops:
        # cycle guard for the VAHM/closure paths; rolification (r.Self
        # encodings, HomologyTableDemoRolification.scala:72-73) needs the
        # reflexive edges and opts in via keep_self_loops=True.
        base = base.where(F.col("s") != F.col("o"))
    asrt = barrier(base.dropDuplicates(), "assertions")
    sp = asrt.sparkSession
    chain_df = (
        sp.createDataFrame(chains, ["c1", "c2", "cr"]) if chains else None
    )
    if subprops is not None:
        subprops = barrier(subprops.select("sub_p", "sup_p"), "subprops")

    def step(delta: DataFrame, full: DataFrame) -> DataFrame:
        if chain_df is None:
            # role hierarchy only (legal EL ontology without chains); it
            # renames p, so it composes no self-loop
            if subprops is None:
                return delta.limit(0)
            return delta.join(subprops, delta["p"] == subprops["sub_p"]).select(
                F.col("sup_p").alias("p"), "s", "o"
            )
        # delta in position 1 against full in position 2, and vice versa
        d1 = (
            delta.alias("d").join(F.broadcast(chain_df), F.col("d.p") == F.col("c1"))
            .join(full.alias("f"), (F.col("d.o") == F.col("f.s")) & (F.col("f.p") == F.col("c2")))
            .select(F.col("cr").alias("p"), F.col("d.s").alias("s"), F.col("f.o").alias("o"))
        )
        d2 = (
            delta.alias("d").join(F.broadcast(chain_df), F.col("d.p") == F.col("c2"))
            .join(full.alias("f"), (F.col("f.o") == F.col("d.s")) & (F.col("f.p") == F.col("c1")))
            .select(F.col("cr").alias("p"), F.col("f.s").alias("s"), F.col("d.o").alias("o"))
        )
        out = d1.unionByName(d2)
        if subprops is not None:
            out = out.unionByName(
                delta.join(subprops, delta["p"] == subprops["sub_p"]).select(
                    F.col("sup_p").alias("p"), "s", "o"
                )
            )
        if keep_self_loops:
            # the DERIVED reflexive entailments must survive too
            # (rolification: prop ∘ Top compositions land on (x, x) before
            # extending to (x, y)); the filter is a cycle guard for the
            # VAHM/closure paths only
            return out
        return out.where(F.col("s") != F.col("o"))

    return iterbarrier.semi_naive(
        barrier, asrt, step(asrt, asrt), step, keys=["p", "s", "o"],
        max_iterations=max_iterations, what="property_chain_closure",
    )


def _overdelete(
    barrier, old: DataFrame, deleted: DataFrame, r1: DataFrame | None,
    max_iterations: int,
) -> DataFrame | None:
    """DRed phase 1: every ``old`` fact whose derivation might use a deleted
    edge. The deleted edges that are ``old`` facts are closed against
    ``old`` on both sides (and through the monotonicity rule) to fixpoint.
    ``old`` is closed, so every such composition is an ``old`` fact already
    and needs no semi-join against it; only the self-loops a cycle composes
    are dropped, as ``old`` holds none. Returns None when no deleted edge is
    an ``old`` fact."""
    over = barrier(deleted.join(old, on=["sub", "sup"], how="leftsemi"), "over")
    if over.isEmpty():
        return None
    return iterbarrier.semi_naive(
        barrier, over, _both_sides(over, old, r1),
        lambda delta, _: _both_sides(delta, old, r1),
        keys=["sub", "sup"], max_iterations=max_iterations, what="overdeletion",
    )


def incremental_closure_apply(
    closure: DataFrame,
    asserted_edges: DataFrame,
    deleted_edges: DataFrame,
    inserted_edges: DataFrame,
    restrictions: DataFrame | None = None,
    max_iterations: int = 100,
) -> DataFrame:
    """Maintain a materialized closure under a batch of edge deletions AND
    insertions: closure((asserted − deleted) ∪ inserted), without a
    from-scratch refixpoint.

    ``closure`` is the materialized closure of ``asserted_edges`` (what
    :func:`transitive_closure` returned, with the same ``restrictions``);
    ``asserted_edges`` is the ASSERTED base graph, because the closure alone
    cannot tell asserted from derived facts. It is read only when something
    is deleted, so a caller that only inserts may pass the closure itself.
    Either batch may be empty.

    DRed (delete-and-rederive, Gupta/Mumick/Subrahmanian SIGMOD'93) plus
    semi-naive insertion, in one loop:

    1. **Overdelete** (:func:`_overdelete`), skipped when nothing is
       deleted. The remainder R = closure − overdeleted.
    2. **One complete first round** from R: the inserted edges, bridged
       through R (R∘new, new∘R, R∘new∘R) as in the standard insertion seed;
       and the overdeleted facts with a one-step derivation from R — base
       membership, ``over ⨝ R ⨝ R`` bridges, monotonicity over R. Since the
       old closure is closed, R∘R and monotonicity over R can only add
       overdeleted facts, so restricting them to those endpoints loses
       nothing and never pays the all-pairs R∘R (the direct_hierarchy
       two-hop blowup).
    3. **Semi-naive rounds**: each round's new facts compose with the
       accumulated relation on both sides (``delta∘R ∪ R∘delta``, plus
       monotonicity), so rederived and insert-derived facts feed each
       other — the non-linear shape of :func:`transitive_closure`.

    The round count tracks the affected region (the overdelete cone plus
    the new entailments), not the graph depth; each round is one barrier,
    and an insert-only batch pays no overdelete pass. Result equals the
    from-scratch closure of the mutated graph (randomized tests).
    """
    barrier = iterbarrier.IterationBarrier("closure_apply")
    old = barrier(_edges(closure).dropDuplicates(), "closure")
    deleted = _edges(deleted_edges).dropDuplicates()
    fresh = _edges(inserted_edges).dropDuplicates()
    r1 = None
    if restrictions is not None:
        r1 = barrier(_restriction_index(restrictions), "restrictions")

    R = old
    over = None
    if not deleted.isEmpty():
        over = _overdelete(barrier, old, deleted, r1, max_iterations)
    if over is not None:
        R = barrier(old.join(over, on=["sub", "sup"], how="left_anti"), "rem")

    first = _with_monotonicity(
        fresh.unionByName(_compose(R, fresh))
        .unionByName(_compose(fresh, R))
        .unionByName(_compose(_compose(R, fresh), R)),
        fresh, r1,
    )
    if over is not None:
        surviving = _edges(asserted_edges).join(deleted, on=["sub", "sup"], how="left_anti")
        bridged = (
            over.alias("t")
            .join(R.alias("x"), F.col("t.sub") == F.col("x.sub"))
            .join(
                R.alias("y"),
                (F.col("x.sup") == F.col("y.sub")) & (F.col("y.sup") == F.col("t.sup")),
            )
            .select(F.col("t.sub").alias("sub"), F.col("t.sup").alias("sup"))
        )
        first = first.unionByName(surviving.join(over, on=["sub", "sup"], how="leftsemi"))
        first = first.unionByName(bridged)
        if r1 is not None:
            first = first.unionByName(
                _monotonicity_rule(R, r1).join(over, on=["sub", "sup"], how="leftsemi")
            )

    return iterbarrier.semi_naive(
        barrier, R, _no_loops(first), lambda delta, full: _both_sides(delta, full, r1),
        keys=["sub", "sup"], max_iterations=max_iterations,
        what="incremental_closure_apply",
    )


# ---------------------------------------------------------------------------
# Auto-strategy maintenance entry point
# ---------------------------------------------------------------------------

# Measured crossover (BENCH.md §9.2, same-boot A/Bs on 150k-1.5M node
# graphs; every run row-identical between strategies):
#   B-ary(10), avg ~7 reflexive ancestors/node:        incremental 0.38-0.47x
#   deep-40, mid-graph deletes (cone ~3.5% of closure): incremental 0.67x
#   deep-40, last-layer deletes (cone < 0.2%):          incremental 1.72x
# The incremental recipe measured there paid ~10 fixed full-closure scans
# (overdelete/rederive semijoins + the insert seed's old-compose passes);
# from-scratch pays one scan per semi-naive round (~ graph depth). So the
# decision variables are the DEPTH PROXY (avg ancestors per node — a lower
# bound on from-scratch rounds) and the OVERDELETE-CONE fraction (how much
# of the closure the deletes can touch). Thresholds sit between the
# measured losing and winning shapes, biased toward from-scratch: a wrong
# 'scratch' pick costs <=2.6x (the 1.72x win forgone), a wrong
# 'incremental' pick also bottoms out ~2.6x (0.38x) but additionally
# doubles plan depth under restrictions — ties go to the simpler plan.
MAINTAIN_DEPTH_THRESHOLD = 20.0
MAINTAIN_CONE_FRACTION_THRESHOLD = 0.01


def choose_maintenance_strategy(
    closure: DataFrame,
    deleted_edges: DataFrame | None = None,
) -> dict:
    """Pick 'incremental' vs 'scratch' for a maintenance batch from two
    measured decision variables (see the threshold comment above):

    - ``depth_proxy`` = |closure| / #distinct-subjects — average ancestors
      per node, tracking the semi-naive round count a from-scratch
      recompute would pay (B-ary(10): ~7; the deep-40 bench graph: ~79).
    - ``cone_fraction`` = (Σ over deleted edges (u,v) of
      |descendants(u)+1| x |ancestors(v)+1|) / |closure| — an UPPER bound
      on the overdeleted facts as a fraction of the closure (cones
      overlap, so the true cone is <= this; conservative toward scratch).
      Last-layer retractions (the continuous-ingest shape) score ~0;
      mid-graph structural edits score the whole descendant cone.

    Probe cost: two aggregate scans of the closure plus a broadcast-sized
    join against the (batch-sized) delete set — far below the ~10 fixed
    closure scans the incremental path itself pays, and independent of
    graph depth. Returns a dict with the decision and both variables so
    callers/benches can log WHY.
    """
    c = _edges(closure)
    stats = c.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("sub").alias("nodes"),
    ).first()
    n_closure = int(stats["n"])
    n_nodes = max(1, int(stats["nodes"]))
    depth_proxy = n_closure / n_nodes
    cone = 0
    if deleted_edges is not None and n_closure > 0:
        d = _edges(deleted_edges).dropDuplicates()
        # facts (a, c) derivable through deleted edge (u, v) need
        # (a, u) and (v, c) in the closure: count closure rows per
        # endpoint, then one broadcast join against the small batch
        desc_u = c.groupBy(F.col("sup").alias("u")).agg(F.count(F.lit(1)).alias("du"))
        anc_v = c.groupBy(F.col("sub").alias("v")).agg(F.count(F.lit(1)).alias("av"))
        cone_row = (
            d.join(desc_u, d["sub"] == F.col("u"), "left")
            .join(anc_v, d["sup"] == F.col("v"), "left")
            .select(
                (
                    (F.coalesce(F.col("du"), F.lit(0)) + 1)
                    * (F.coalesce(F.col("av"), F.lit(0)) + 1)
                ).alias("cone")
            )
            .agg(F.sum("cone").alias("s"))
            .first()
        )
        cone = int(cone_row["s"] or 0)
    cone_fraction = cone / n_closure if n_closure else 1.0
    strategy = (
        "incremental"
        if depth_proxy >= MAINTAIN_DEPTH_THRESHOLD
        and cone_fraction <= MAINTAIN_CONE_FRACTION_THRESHOLD
        else "scratch"
    )
    return {
        "strategy": strategy,
        "depth_proxy": depth_proxy,
        "cone_fraction": cone_fraction,
        "closure_rows": n_closure,
        "cone_upper_bound": cone,
    }


def maintain_closure(
    closure: DataFrame,
    asserted_edges: DataFrame,
    deleted_edges: DataFrame | None = None,
    inserted_edges: DataFrame | None = None,
    restrictions: DataFrame | None = None,
    max_iterations: int = 100,
) -> DataFrame:
    """Single maintenance entry point: closure((asserted − deleted) ∪
    inserted), auto-selecting :func:`incremental_closure_apply` vs a
    from-scratch :func:`transitive_closure` from measured decision
    variables (:func:`choose_maintenance_strategy` — BENCH §9.2's
    crossover, encoded).

    The reference re-materializes from scratch unconditionally
    (MaterializeInferences.scala:44-57, its only mode); this picks the
    from-scratch plan only when the batch shape says recompute actually
    wins (shallow graphs, structural deletes) and otherwise maintains
    incrementally (deep graphs, recent-ingest retractions — the
    continuous-ingest shape at 10^12-doc scale). Both paths produce
    bit-identical closures (randomized equivalence tests).
    """
    spark = closure.sparkSession
    empty = spark.createDataFrame([], "sub string, sup string")
    deleted = _edges(deleted_edges) if deleted_edges is not None else empty
    inserted = _edges(inserted_edges) if inserted_edges is not None else empty
    if deleted.isEmpty() and inserted.isEmpty():
        return _edges(closure)
    if choose_maintenance_strategy(closure, deleted)["strategy"] == "incremental":
        return incremental_closure_apply(
            closure,
            asserted_edges,
            deleted,
            inserted,
            restrictions=restrictions,
            max_iterations=max_iterations,
        )
    mutated = (
        _edges(asserted_edges)
        .dropDuplicates()
        .join(deleted, on=["sub", "sup"], how="left_anti")
        .unionByName(inserted)
    )
    return transitive_closure(
        mutated, restrictions=restrictions, max_iterations=max_iterations
    )
