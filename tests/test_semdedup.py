"""semantic_dedup: k=1 degeneration vs the exact brute-force pair oracle,
assignment determinism, within-cluster restriction, keep-rule consistency,
the no-cartesian / map-only-assignment plan contracts, and the driver
route deciding exactly as the Spark route."""

from __future__ import annotations

import math

from pyspark.sql import Row

from phenoscape_owl_tools_spark.operators.dedup import embedding_near_dups
from phenoscape_owl_tools_spark.operators.semdedup import (
    assign_clusters,
    semantic_dedup,
    semantic_near_dups,
)


def _mkemb(spark, n=64, dim=8):
    # deterministic vectors with planted near-dup pairs: every 8th vector
    # is a tiny perturbation of its predecessor
    rows = []
    for i in range(n):
        base = i - 1 if i % 8 == 7 else i
        v = [
            math.sin(0.7 * base + 1.3 * j) + (0.001 if i != base else 0.0)
            for j in range(dim)
        ]
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    return spark.createDataFrame(rows)


def test_k1_degenerates_to_brute_force_pairs(spark):
    emb = _mkemb(spark)
    got = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in semantic_near_dups(emb, k=1, threshold=0.9).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in embedding_near_dups(emb, threshold=0.9).collect()
    }
    assert got == want and len(got) >= 8  # the planted perturbation pairs


def test_pairs_are_within_cluster_and_block_width_invariant(spark):
    emb = _mkemb(spark)
    assign = {r["vec_id"]: r["cluster"] for r in assign_clusters(emb, k=4).collect()}
    pairs4 = sorted(
        (r["cluster"], r["id_a"], r["id_b"], r["cos"])
        for r in semantic_near_dups(emb, k=4, threshold=0.9, n_blocks=4).collect()
    )
    for cl, a, b, _ in pairs4:
        assert assign[a] == cl and assign[b] == cl and a < b
    # n_blocks changes only the tiling, never the pairs
    pairs2 = sorted(
        (r["cluster"], r["id_a"], r["id_b"], r["cos"])
        for r in semantic_near_dups(emb, k=4, threshold=0.9, n_blocks=2).collect()
    )
    assert pairs4 == pairs2


def test_keep_rule_matches_pairs(spark, both_routes):
    emb = _mkemb(spark)
    dropped = {
        r["id_b"] for r in semantic_near_dups(emb, k=4, threshold=0.9).collect()
    }

    @both_routes
    def _():
        decisions = semantic_dedup(emb, k=4, threshold=0.9).collect()
        assert len(decisions) == 64
        for r in decisions:
            assert r["kept"] == (r["vec_id"] not in dropped)


def test_assignment_is_map_only_and_pairs_have_no_cartesian(spark):
    emb = _mkemb(spark)
    aplan = assign_clusters(emb, k=4)._jdf.queryExecution().executedPlan().toString()
    # the argmax chain is pure column math over the scan: no shuffle, no Python
    assert "Exchange" not in aplan
    assert "BatchEvalPython" not in aplan and "ArrowEvalPython" not in aplan
    pplan = (
        semantic_near_dups(emb, k=4, threshold=0.9)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in pplan
    assert "BroadcastNestedLoopJoin" not in pplan


def test_assignment_ties_break_to_smallest_cluster(spark):
    # duplicate centroid vectors: vec 0 and vec 1 identical -> every vector
    # equidistant to clusters 0 and 1 must land in 0
    rows = [Row(vec_id=0, embedding=[1.0, 0.0]), Row(vec_id=1, embedding=[1.0, 0.0])]
    rows += [Row(vec_id=i, embedding=[1.0, float(i) / 100]) for i in range(2, 10)]
    emb = spark.createDataFrame(rows)
    got = {r["vec_id"]: r["cluster"] for r in assign_clusters(emb, k=2).collect()}
    assert set(got.values()) == {0}


def test_string_ids_round_trip(spark, both_routes):
    rows = [
        Row(vec_id=f"doc-{i:03d}", embedding=[math.sin(0.7 * (i - i % 2) + 1.3 * j) for j in range(6)])
        for i in range(12)
    ]
    emb = spark.createDataFrame(rows)
    pairs = semantic_near_dups(emb, k=2, threshold=0.999).collect()
    assert pairs, "even/odd twins must pair"
    for r in pairs:
        assert isinstance(r["id_a"], str) and r["id_a"] < r["id_b"]

    @both_routes
    def _():
        decisions = {r["vec_id"]: r["kept"] for r in semantic_dedup(emb, k=2, threshold=0.999).collect()}
        assert set(decisions) == {f"doc-{i:03d}" for i in range(12)}
        dropped = {r["id_b"] for r in pairs}
        assert all(decisions[v] == (v not in dropped) for v in decisions)


def test_semantic_pairs_compose_with_cluster_collapse(spark):
    """X27 pairs feed X14's pair-source-agnostic collapse: chains a~b~c
    inside one cluster keep exactly one representative even when (a, c)
    itself fell below the threshold."""
    from pyspark.sql import functions as F

    from phenoscape_owl_tools_spark.operators.dedup import dedup_clusters

    emb = _mkemb(spark)
    docs = emb.select(F.col("vec_id").cast("string").alias("doc_id"))
    pairs = semantic_near_dups(emb, k=4, threshold=0.9).select(
        F.col("id_a").cast("string").alias("doc_a"),
        F.col("id_b").cast("string").alias("doc_b"),
    )
    cl = dedup_clusters(docs, pairs).collect()
    assert len(cl) == 64
    by_cluster: dict[str, list] = {}
    for r in cl:
        by_cluster.setdefault(r["cluster"], []).append(r)
    # every multi-member cluster keeps exactly one doc: its min id
    for cluster, members in by_cluster.items():
        kept = [r["doc_id"] for r in members if r["keep_flag"] == 1]
        assert kept == [min(r["doc_id"] for r in members)]


def test_trained_centroids_balance_and_stay_deterministic(spark):
    from phenoscape_owl_tools_spark.operators.semdedup import trained_centroids

    emb = _mkemb(spark, n=128)
    cents = trained_centroids(emb, k=4, n_iters=3)
    assert [j for j, _ in cents] == [0, 1, 2, 3]
    # deterministic: refit gives bit-identical centroids
    again = trained_centroids(emb, k=4, n_iters=3)
    assert cents == again
    # the full decision path accepts the trained codebook and stays
    # internally consistent (pairs within cluster, keep rule holds)
    pairs = semantic_near_dups(emb, k=4, threshold=0.9, centroids=cents).collect()
    assign = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(emb, k=4, centroids=cents).collect()
    }
    for r in pairs:
        assert assign[r["id_a"]] == r["cluster"] == assign[r["id_b"]]
    dropped = {r["id_b"] for r in pairs}
    dec = semantic_dedup(emb, k=4, threshold=0.9, centroids=cents).collect()
    assert all(r["kept"] == (r["vec_id"] not in dropped) for r in dec)


def _chain_emb(spark):
    # a ~ b ~ c chain where c is NOT near a: unit vectors at angles
    # 0, t, 2t with cos(t) just over the threshold and cos(2t) under it
    t = 0.5
    rows = [
        Row(vec_id=i, embedding=[math.cos(i * t), math.sin(i * t)])
        for i in range(3)
    ]
    return spark.createDataFrame(rows)


def test_kept_set_mode_matches_paper_on_chains(spark):
    """ADVICE r4: cascade drops through already-dropped docs (stricter
    than Abbas et al.); kept_set implements the paper's
    keep-against-kept-set greedy — in a ~ b ~ c (c near b, not near a),
    b drops and c SURVIVES."""
    emb = _chain_emb(spark)
    thr = 0.85  # cos(0.5)=0.878 > thr, cos(1.0)=0.540 < thr
    casc = {r["vec_id"]: r["kept"]
            for r in semantic_dedup(emb, k=1, threshold=thr).collect()}
    paper = {r["vec_id"]: r["kept"]
             for r in semantic_dedup(emb, k=1, threshold=thr, mode="kept_set").collect()}
    assert casc == {0: True, 1: False, 2: False}
    assert paper == {0: True, 1: False, 2: True}


def test_kept_set_never_drops_more_than_cascade(spark, both_routes):
    emb = _mkemb(spark)
    for thr in (0.9, 0.999):
        paper = {r["vec_id"]: r["kept"]
                 for r in semantic_dedup(emb, k=4, threshold=thr, mode="kept_set").collect()}

        # kept_set has one route; cascade is checked on both
        @both_routes
        def _():
            casc = {r["vec_id"]: r["kept"]
                    for r in semantic_dedup(emb, k=4, threshold=thr).collect()}
            assert set(casc) == set(paper)
            # kept_set keeps a superset: every cascade-kept doc stays kept
            assert all(paper[i] for i in casc if casc[i])
            # at 0.999 only the sparse i -> i+9 near-period CHAINS survive
            # as pairs, so the two modes genuinely diverge; at 0.9 the graph
            # is dense near-cliques (everyone neighbors the kept minimum)
            # where the modes legitimately agree
            if thr == 0.999:
                assert casc != paper

        # kept_set must equal the sequential greedy run over the SAME
        # near-dup pairs (the sin fixture chains through its ~2pi/0.7
        # near-period, so cascade and kept_set genuinely diverge here)
        from phenoscape_owl_tools_spark.operators.semdedup import (
            assign_clusters,
            _within_cluster_pairs,
        )
        assigned = assign_clusters(emb, 4)
        pair_rows = _within_cluster_pairs(assigned, thr, 8).collect()
        smaller: dict[int, list[int]] = {}
        ids = set()
        for r in pair_rows:
            smaller.setdefault(r["id_b"], []).append(r["id_a"])
            ids |= {r["id_a"], r["id_b"]}
        kept: set[int] = set()
        for i in sorted(ids):
            if not any(n in kept for n in smaller.get(i, ())):
                kept.add(i)
        expect = {i: (i not in ids or i in kept) for i in paper}
        assert paper == expect


def test_semantic_dedup_rejects_unknown_mode(spark):
    emb = _mkemb(spark, n=8)
    try:
        semantic_dedup(emb, mode="nope")
        assert False, "expected ValueError"
    except ValueError:
        pass


def _run_at_cap(monkeypatch, emb, cap, **kw):
    """(sorted decision rows, schema, Python UDF calls, toArrow calls) of a
    cascade run with the driver-route row cap patched to ``cap``. The UDF
    calls count ``mapInPandas`` and ``mapInArrow``."""
    from phenoscape_owl_tools_spark import iterbarrier

    calls: dict = {"mapInPandas": 0, "mapInArrow": 0, "toArrow": 0}

    def spy(name):
        real = getattr(type(emb), name)

        def wrapped(self, *a, **k):
            calls[name] += 1
            return real(self, *a, **k)

        return wrapped

    with monkeypatch.context() as m:
        for name in calls:
            m.setattr(type(emb), name, spy(name))
        m.setattr(iterbarrier, "TARGET_ROWS_PER_PARTITION", cap)
        df = semantic_dedup(emb, **kw)
        rows = sorted(map(tuple, df.collect()), key=repr)
    return rows, df.schema, calls["mapInPandas"] + calls["mapInArrow"], calls["toArrow"]


def _on_both_routes(monkeypatch, emb, **kw):
    """route -> :func:`_run_at_cap` for an n-vector input: the cap n keeps
    the run on the driver, n - 1 sends it to Spark."""
    n = emb.count()
    return {
        "driver": _run_at_cap(monkeypatch, emb, n, **kw),
        "spark": _run_at_cap(monkeypatch, emb, n - 1, **kw),
    }


def test_route_boundary_same_decisions(spark, monkeypatch):
    """At n vectors the cap n keeps the run on the driver (no Python UDF);
    n - 1 sends it to Spark without the wide collect. Both give the same
    rows and schema."""
    emb = _mkemb(spark)
    got = _on_both_routes(monkeypatch, emb, k=4, threshold=0.9)
    (d_rows, d_schema, d_calls, d_collects) = got["driver"]
    (s_rows, s_schema, s_calls, s_collects) = got["spark"]
    assert d_calls == 0 and s_calls > 0
    assert d_collects == 1 and s_collects == 0
    assert len(d_rows) == 64 and any(not r[2] for r in d_rows)
    assert d_rows == s_rows
    assert d_schema == s_schema
    assert [f.nullable for f in d_schema.fields] == [True, True, False]


def test_vector_doubles_guard_routes_wide_sets_to_spark(spark, monkeypatch):
    """Under the row cap, a set of more than ``DRIVER_MAX_DOUBLES`` unit
    vector doubles (rows x dim) takes the Spark route without the wide
    collect; at the guard it stays on the driver."""
    from phenoscape_owl_tools_spark.operators import semdedup

    emb = _mkemb(spark)  # 64 vectors of 8 dimensions
    runs = {}
    for guard in (64 * 8, 64 * 8 - 1):
        monkeypatch.setattr(semdedup, "DRIVER_MAX_DOUBLES", guard)
        runs[guard] = _run_at_cap(monkeypatch, emb, 64, k=4, threshold=0.9)
    (d_rows, _, d_calls, d_collects), (s_rows, _, s_calls, s_collects) = runs.values()
    assert (d_calls, d_collects) == (0, 1)
    assert s_calls > 0 and s_collects == 0
    assert d_rows == s_rows


def _degenerate(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


BIG = 2**60


def test_degenerate_inputs_on_both_routes(spark, monkeypatch):
    cases = {
        # an empty embedding set: an empty table with the right schema
        "empty": ([], []),
        "single": ([(7, [0.3, 0.4])], [(7, 0, True)]),
        # a zero vector has cosine 0 to everything: never pairs, and it
        # ties every centroid, so it takes cluster 0
        "zero": (
            [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.001])],
            [(1, 0, True), (2, 1, True), (3, 1, False)],
        ),
        # identical vectors: one cluster (centroid ties go to 0) and every
        # pair a hit, so only the smallest id survives
        "identical": (
            [(i, [0.6, 0.8]) for i in range(5)],
            [(0, 0, True)] + [(i, 0, False) for i in range(1, 5)],
        ),
        # a NULL id sorts first (so it is centroid 0) and, pairing with
        # nothing, is kept
        "null_id": (
            [(None, [0.0, 1.0]), (1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [-1.0, 0.0])],
            [(1, 1, True), (2, 1, False), (3, 0, True), (None, 0, True)],
        ),
        # ids past 2**53 next to a NULL stay exact: as doubles all three
        # would round to 2**60, so the pair (and its drop) would be lost
        "big_ids_and_null": (
            [(None, [0.0, 1.0]), (BIG + 1, [1.0, 0.0]), (BIG + 2, [1.0, 0.01]), (BIG + 3, [-1.0, 0.0])],
            [(BIG + 1, 1, True), (BIG + 2, 1, False), (BIG + 3, 0, True), (None, 0, True)],
        ),
    }
    for name, (rows, want) in cases.items():
        got = _on_both_routes(monkeypatch, _degenerate(spark, rows), k=2, threshold=0.9)
        (d_rows, d_schema, d_calls, _), (s_rows, s_schema, s_calls, _) = got["driver"], got["spark"]
        assert d_calls == 0 and s_calls > 0, name
        assert d_rows == s_rows == sorted(want, key=repr), name
        assert d_schema == s_schema, name


def test_null_id_never_pairs_on_both_routes(spark, monkeypatch):
    """A NULL id pairs with nothing, as in the SQL oracle's ``a.vec_id <
    b.vec_id``: the NULL row and id 1, its identical twin, are both kept,
    while the pair (2, 3) still drops 3. Bigint and string ids alike."""
    rows = [(None, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [-1.0, 0.0]), (3, [-1.0, 0.001])]
    want = [(None, 0, True), (1, 0, True), (2, 0, True), (3, 0, False)]
    for id_type, key in (("bigint", lambda i: i), ("string", str)):
        emb = spark.createDataFrame(
            [(None if i is None else key(i), v) for i, v in rows],
            f"vec_id {id_type}, embedding array<float>",
        )
        expect = sorted(((None if i is None else key(i), c, k) for i, c, k in want), key=repr)
        got = _on_both_routes(monkeypatch, emb, k=2, threshold=0.9)
        (d_rows, _, d_calls, _), (s_rows, _, s_calls, _) = got["driver"], got["spark"]
        assert d_calls == 0 and s_calls > 0, id_type
        assert d_rows == s_rows == expect, id_type


def test_double_ids_order_null_first_and_nan_last_on_both_routes(spark, monkeypatch):
    """A double id column sorts NULL first and NaN after every number, so
    the k=2 centroids are the NULL row and 1.0, not NULL and NaN."""
    nan = float("nan")
    emb = spark.createDataFrame(
        [(None, [0.0, 1.0]), (nan, [1.0, 0.0]), (1.0, [-1.0, 0.0]), (2.0, [-1.0, 0.01])],
        "vec_id double, embedding array<float>",
    )
    want = [(1.0, 1, True), (2.0, 1, False), (nan, 0, True), (None, 0, True)]
    got = _on_both_routes(monkeypatch, emb, k=2, threshold=0.9)
    (d_rows, d_schema, d_calls, _), (s_rows, s_schema, s_calls, _) = got["driver"], got["spark"]
    assert d_calls == 0 and s_calls > 0
    # NaN != NaN, so compare the rows' reprs
    assert list(map(repr, d_rows)) == list(map(repr, s_rows)) == list(map(repr, sorted(want, key=repr)))
    assert d_schema == s_schema
