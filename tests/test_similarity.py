from __future__ import annotations

import math
import random

import pytest

from phenoscape_owl_tools_spark.operators import closure, similarity
from phenoscape_owl_tools_spark.oracle import pyoracle


def _case(spark, seed=5, n_classes=15, n_ind=8):
    rng = random.Random(seed)
    classes = [f"c{i}" for i in range(n_classes)]
    edges = set()
    for i in range(1, n_classes):
        edges.add((classes[i], classes[rng.randrange(i)]))
    profs = []
    for i in range(n_ind):
        kind = "VTO" if i < n_ind // 2 else "GENE"
        ind = f"{kind}_{i}"
        for _ in range(rng.randrange(1, 4)):
            profs.append((ind, classes[rng.randrange(1, n_classes)]))
    edges_df = spark.createDataFrame(list(edges), ["sub", "sup"])
    prof_df = spark.createDataFrame(profs, ["individual", "phenotype"])
    cl = closure.transitive_closure(edges_df).localCheckpoint(eager=True)
    return edges, profs, edges_df, prof_df, cl


def _py_ancestors(edges):
    tc = pyoracle.transitive_closure(edges)
    anc = {}
    for a, b in tc:
        anc.setdefault(a, set()).add(b)
    return anc


def test_information_content_vs_oracle(spark):
    edges, profs, edges_df, prof_df, cl = _case(spark)
    corpus = prof_df.where(prof_df["individual"].startswith("VTO")).select("individual").distinct()
    ind = similarity.indirect_associations(prof_df, cl)
    ic = similarity.information_content(ind, corpus, cl)

    # python oracle
    anc = _py_ancestors(edges)
    by_ind: dict[str, set[str]] = {}
    for i, p in profs:
        by_ind.setdefault(i, set()).update({p} | anc.get(p, set()))
    corpus_inds = {i for i in by_ind if i.startswith("VTO")}
    n = len(corpus_inds)
    freq: dict[str, int] = {}
    for i in corpus_inds:
        for node in by_ind[i]:
            freq[node] = freq.get(node, 0) + 1

    got = {r["node"]: (r["freq"], r["ic"]) for r in ic.collect()}
    for node, (gf, gic) in got.items():
        ef = freq.get(node, 0)
        assert gf == ef, node
        if ef > 0:
            assert abs(gic - pyoracle.normalized_ic(ef, n)) < 1e-12, node


def test_pairwise_median_vs_oracle(spark):
    edges, profs, edges_df, prof_df, cl = _case(spark, seed=9)
    corpus_df = prof_df.where(prof_df["individual"].startswith("VTO"))
    query_df = prof_df.where(prof_df["individual"].startswith("GENE"))
    corpus_inds = corpus_df.select("individual").distinct()

    ind = similarity.indirect_associations(prof_df, cl)
    ic_df = similarity.information_content(ind, corpus_inds, cl)
    pas = similarity.pairwise_scores(query_df, corpus_df, cl, ic_df)
    med = similarity.groupwise_median(pas)

    # python oracle
    anc = _py_ancestors(edges)
    refl = lambda p: {p} | anc.get(p, set())
    direct: dict[str, set[str]] = {}
    for i, p in profs:
        direct.setdefault(i, set()).add(p)
    by_ind = {i: set().union(*[refl(p) for p in ps]) for i, ps in direct.items()}
    corpus = {i for i in by_ind if i.startswith("VTO")}
    n = len(corpus)
    freq: dict[str, int] = {}
    for i in corpus:
        for node in by_ind[i]:
            freq[node] = freq.get(node, 0) + 1
    all_nodes = set().union(*[refl(p) for ps in direct.values() for p in ps])

    def ic_of(node):
        f = freq.get(node, 0)
        if f > 0:
            return pyoracle.normalized_ic(f, n)
        pos = [freq[a] for a in anc.get(node, set()) if freq.get(a, 0) > 0]
        return pyoracle.normalized_ic(min(pos), n) if pos else 1.0

    expected = {}
    for q in sorted(direct):
        if not q.startswith("GENE"):
            continue
        for c in sorted(corpus):
            scores = []
            for qa in direct[q]:
                best = -1.0
                for ca in direct[c]:
                    common = refl(qa) & refl(ca)
                    if common:
                        best = max(best, max(ic_of(x) for x in common))
                if best >= 0:
                    scores.append(best)
            if scores:
                expected[(q, c)] = pyoracle.median(scores)

    got = {(r["query"], r["corpus"]): r["score"] for r in med.collect()}
    assert set(got) == set(expected)
    for k in expected:
        assert abs(got[k] - expected[k]) < 1e-12, k


def test_jaccard_bounds_and_symmetry(spark):
    edges, profs, edges_df, prof_df, cl = _case(spark, seed=13)
    q = prof_df.where(prof_df["individual"].startswith("GENE"))
    c = prof_df.where(prof_df["individual"].startswith("VTO"))
    jac = similarity.jaccard_similarity(q, c, cl).collect()
    assert jac, "no pairs produced"
    for r in jac:
        assert 0.0 < r["jaccard"] <= 1.0


def test_top_subsumers_k(spark):
    edges, profs, edges_df, prof_df, cl = _case(spark, seed=21)
    corpus_inds = prof_df.select("individual").distinct()
    ind = similarity.indirect_associations(prof_df, cl)
    ic_df = similarity.information_content(ind, corpus_inds, cl)
    pas = similarity.pairwise_scores(prof_df, prof_df, cl, ic_df)
    top = similarity.top_subsumers(pas, k=2)
    counts = top.groupBy("query", "corpus").count().collect()
    assert all(r["count"] <= 2 for r in counts)


def test_query_sharding_partitions_and_reassembles(spark):
    """A query's pairwise scores do not depend on which other queries are
    scored with it: scoring part of the query profiles gives exactly the
    unsplit scores of those queries."""
    profiles = spark.createDataFrame(
        [(f"q{i}", f"p:{i % 3}") for i in range(10)], ["individual", "phenotype"]
    )
    closure = spark.createDataFrame(
        [(f"p:{i}", "p:root") for i in range(3)], ["sub", "sup"]
    )
    corpus = spark.createDataFrame(
        [("c1", "p:0"), ("c2", "p:1")], ["individual", "phenotype"]
    )
    ic = similarity.information_content(
        similarity.indirect_associations(corpus, closure),
        corpus.select("individual"),
        closure,
    )

    def scores(queries):
        med = similarity.groupwise_median(
            similarity.pairwise_scores(queries, corpus, closure, ic)
        )
        return {(r["query"], r["corpus"], r["score"]) for r in med.collect()}

    whole = scores(profiles)
    part = {row for row in whole if row[0] < "q5"}
    assert part and part != whole
    assert scores(profiles.where(profiles["individual"] < "q5")) == part


def _skewed_case(spark, n_q=40, n_c=40, n_rare=12):
    """Every phenotype sits under the same two hub ancestors (the skew
    pathology of a shared-ancestor equi-join); small rare groups overlap on
    one rare subsumer each."""
    edges = []
    profs = []
    for i in range(n_rare):
        edges.append((f"rare{i}", "hub1"))
    edges.append(("hub1", "root"))
    for i in range(max(n_q, n_c)):
        edges.append((f"p{i}", f"rare{i % n_rare}"))
    for i in range(n_q):
        profs.append((f"GENE_{i:03d}", f"p{i % (n_q // 2)}"))
        profs.append((f"GENE_{i:03d}", f"p{(i + 7) % (n_q // 2)}"))
    for i in range(n_c):
        profs.append((f"VTO_{i:03d}", f"p{i % (n_c // 2)}"))
    edges_df = spark.createDataFrame(edges, ["sub", "sup"])
    prof_df = spark.createDataFrame(profs, ["individual", "phenotype"])
    cl = closure.transitive_closure(edges_df).localCheckpoint(eager=True)
    return prof_df, cl


def test_pairwise_hub_blocking_exactness(spark):
    """Blocked-MICA (hub bitmasks + rare equi-join) is EXACTLY the naive
    all-pairs plan for every hub_bits setting, including ic/anc tie-breaks."""
    prof_df, cl = _skewed_case(spark)
    q = prof_df.where(prof_df["individual"].startswith("GENE"))
    c = prof_df.where(prof_df["individual"].startswith("VTO"))
    corpus_inds = c.select("individual").distinct()
    ind = similarity.indirect_associations(prof_df, cl)
    ic_df = similarity.information_content(ind, corpus_inds, cl).localCheckpoint(
        eager=True
    )

    def rows(hub_bits):
        pas = similarity.pairwise_scores(q, c, cl, ic_df, hub_bits=hub_bits)
        return {
            (r["query"], r["corpus"], r["qa"], r["max_subsumer"], round(r["max_subsumer_ic"], 12))
            for r in pas.collect()
        }

    naive = rows(0)
    assert naive
    for bits in (1, 4, 62):
        assert rows(bits) == naive, f"hub_bits={bits} diverged from naive plan"


def test_pairwise_rare_join_skew_bounded(spark):
    """With hubs masked out, the rare-ancestor equi-join's partition
    histogram is straggler-free: max partition <= 4x median (the VERDICT r2
    acceptance bar). With hub_bits=0 the same histogram shows the pathology
    (one partition carrying the hub product), proving the test can fail."""
    from pyspark.sql import functions as F

    prof_df, cl = _skewed_case(spark, n_q=80, n_c=80)
    q = prof_df.where(prof_df["individual"].startswith("GENE"))
    c = prof_df.where(prof_df["individual"].startswith("VTO"))
    ind = similarity.indirect_associations(prof_df, cl)
    ic_df = similarity.information_content(
        ind, c.select("individual").distinct(), cl
    ).localCheckpoint(eager=True)
    q_anc, c_anc = similarity._annotation_ancestors(q, c, cl)
    qi, ci, ranked, *_ = similarity._encoded_inputs(q_anc, c_anc, ic_df)
    qi = qi.localCheckpoint(eager=True)
    ci = ci.localCheckpoint(eager=True)

    def histogram(hub_rids):
        cands = similarity._rare_candidates(qi, ci, hub_rids)
        counts = [
            r["count"]
            for r in cands.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        ]
        counts.sort()
        return counts

    hubs = similarity.hub_ancestors(ic_df, 8)
    names = [a for a, _ in hubs]
    assert "root" in names and "hub1" in names  # the pathological keys ARE hubs

    blocked = histogram(similarity._hub_rids(ranked, hubs))
    naive = histogram([])
    med_b = blocked[len(blocked) // 2]
    assert blocked[-1] <= 4 * max(med_b, 1), (
        f"straggler partition in blocked plan: {blocked}"
    )
    # the naive plan concentrates the hub product: its heaviest partition
    # dwarfs the blocked plan's heaviest
    assert naive[-1] > 4 * blocked[-1], (naive[-1], blocked[-1])


def test_pairwise_simple_path_matches_encoded(spark):
    """The auto-selected small-corpus struct-max path is row-identical to
    the encoded/blocked plan (rank order IS the (ic, anc) struct order)."""
    prof_df, cl = _skewed_case(spark)
    q = prof_df.where(prof_df["individual"].startswith("GENE"))
    c = prof_df.where(prof_df["individual"].startswith("VTO"))
    ind = similarity.indirect_associations(prof_df, cl)
    ic_df = similarity.information_content(
        ind, c.select("individual").distinct(), cl
    ).localCheckpoint(eager=True)
    q_anc, c_anc = similarity._annotation_ancestors(q, c, cl)
    simple = {
        (r["query"], r["corpus"], r["qa"], r["max_subsumer"],
         round(r["max_subsumer_ic"], 12))
        for r in similarity._pairwise_scores_simple(q_anc, c_anc, ic_df).collect()
    }
    encoded = {
        (r["query"], r["corpus"], r["qa"], r["max_subsumer"],
         round(r["max_subsumer_ic"], 12))
        for r in similarity.pairwise_scores(q, c, cl, ic_df, hub_bits=48).collect()
    }
    assert simple == encoded and simple
    # and the auto path (small product here) returns the same rows
    auto = {
        (r["query"], r["corpus"], r["qa"], r["max_subsumer"],
         round(r["max_subsumer_ic"], 12))
        for r in similarity.pairwise_scores(q, c, cl, ic_df).collect()
    }
    assert auto == simple


def test_jaccard_hub_blocking_exactness(spark):
    """Blocked Jaccard (hub bitmask counts + rare co-partitioned equi-join)
    equals the plain single-join plan for every hub_bits setting."""
    prof_df, cl = _skewed_case(spark)
    q = prof_df.where(prof_df["individual"].startswith("GENE"))
    c = prof_df.where(prof_df["individual"].startswith("VTO"))

    def rows(hub_bits):
        return {
            (r["query"], r["corpus"], round(r["jaccard"], 12))
            for r in similarity.jaccard_similarity(q, c, cl, hub_bits=hub_bits).collect()
        }

    plain = rows(0)
    assert plain
    for bits in (1, 4, 62):
        assert rows(bits) == plain, f"hub_bits={bits} diverged"


def test_jaccard_precomputed_hubs_skip_probe_and_match(spark):
    """r5: a caller-supplied hub list (corpus_hub_nodes) must produce
    bit-identical results to the internal per-call frequency probe, and
    an ARBITRARY node list must also stay exact (correctness never
    depends on which nodes are hubs, only the skew bound does)."""
    prof_df, cl = _skewed_case(spark)
    q = prof_df.where(prof_df["individual"].startswith("GENE"))
    c = prof_df.where(prof_df["individual"].startswith("VTO"))

    def rows(**kw):
        return {
            (r["query"], r["corpus"], round(r["jaccard"], 12))
            for r in similarity.jaccard_similarity(q, c, cl, **kw).collect()
        }

    probed = rows(hub_bits=4)
    hubs = similarity.corpus_hub_nodes(c, cl, 4)
    assert len(hubs) == 4
    assert rows(hubs=hubs) == probed
    # arbitrary (suboptimal) hub choice: last hub swapped for a rare node
    rare = sorted({r["phenotype"] for r in c.select("phenotype").collect()}
                  - set(hubs))[:1]
    assert rows(hubs=hubs[:3] + rare) == probed
    # more hubs than mask bits: the first 62 are used, the rest stay rare
    padded = hubs + [f"http://example.org/not-a-node/{i}" for i in range(59)]
    assert len(padded) == 63
    assert rows(hubs=padded) == probed


def test_corpus_hub_nodes_rejects_bits_outside_mask(spark):
    """More hub nodes than mask bits would be dropped silently by
    jaccard_similarity, so corpus_hub_nodes refuses them up front."""
    prof_df, cl = _skewed_case(spark)
    c = prof_df.where(prof_df["individual"].startswith("VTO"))
    for bits in (63, -1):
        with pytest.raises(ValueError, match="bits"):
            similarity.corpus_hub_nodes(c, cl, bits)
    assert len(similarity.corpus_hub_nodes(c, cl, 62)) <= 62


def test_global_rank_stable_across_reexecutions(spark):
    """ADVICE r3 (high): repartitionByRange samples boundaries with an
    RDD-id-derived seed, so re-executing a lazy global_rank plan used to
    apply offsets from one placement to local ranks of another — on 200k
    keys that emitted thousands of duplicate ranks and max rank > N.
    global_rank now freezes the ranged frame before counting; every
    re-execution of the returned frame must yield the SAME bijection
    onto 1..N."""
    import pyspark.sql.functions as F

    n = 200_000
    df = spark.range(n).select(
        F.concat(F.lit("k"), F.format_string("%07d", (F.col("id") * 48271) % 9999991)).alias("k")
    ).dropDuplicates()
    n_distinct = df.count()
    ranked = similarity.global_rank(df, ["k"], "r")
    runs = []
    for _ in range(3):  # separate actions => separate executions of the plan
        agg = ranked.agg(
            F.count("*").alias("n"),
            F.countDistinct("r").alias("nd"),
            F.min("r").alias("mn"),
            F.max("r").alias("mx"),
        ).collect()[0]
        runs.append(tuple(agg))
        assert agg["n"] == n_distinct
        assert agg["nd"] == n_distinct, "duplicate ranks across re-execution"
        assert agg["mn"] == 1 and agg["mx"] == n_distinct, "ranks not a 1..N bijection"
    assert len(set(runs)) == 1
    # the mapping itself is frozen: key->rank identical across executions
    a = {r["k"]: r["r"] for r in ranked.sample(0.002, seed=7).collect()}
    b = dict(
        (r["k"], r["r"])
        for r in ranked.join(
            spark.createDataFrame([(k,) for k in a], ["k"]), on="k", how="leftsemi"
        ).collect()
    )
    assert a == {k: b[k] for k in a}
