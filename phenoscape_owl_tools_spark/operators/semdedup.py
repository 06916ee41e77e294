"""Semantic deduplication (SemDeDup-style): cluster the embedding space,
then drop near-duplicate documents *within* each cluster.

The scale argument (Abbas et al. 2023, "SemDeDup"): exact cosine
near-dup over 10^12 embeddings is O(n^2); clustering first restricts the
quadratic work to within-cluster blocks, an O(n^2 / k) reduction that is
exact whenever near-duplicates land in the same cluster (by construction
they do for tight thresholds — near-identical vectors share a nearest
centroid except at cell boundaries, the documented approximation of every
clustered-dedup scheme).

Determinism contract (everything here must be reproducible across runs
and cluster sizes, and expressible in ANSI SQL for the oracle):

- centroids are the unit vectors of the ``k`` smallest ``vec_id`` rows —
  a fixed, content-derived choice (no RNG, no iterative refinement; the
  IVF path in ``operators/annsearch.py`` has the deterministic k-means
  when better centroids are worth a training pass);
- assignment is argmax of round(cosine, 6) with ties to the smallest
  cluster index;
- a document is dropped iff some smaller-id document in the same cluster
  has cosine >= threshold with it (the sorted-greedy keep rule used by
  the exact dedup family in ``operators/dedup.py``).

Execution shape:

- assignment is MAP-ONLY: the k centroid unit vectors are collected to
  the driver (k x dim doubles — dimension-scale, guarded) and scored
  against each Arrow batch with one numpy GEMM in ``mapInArrow`` — no
  shuffle, no per-row Python, ids passed through as Arrow values (see
  :func:`assign_clusters` for why the pure-column-expression alternative
  is the slow path, not the fast one);
- within-cluster pairs are exact tiles packed by ``(cluster, block)``:
  B(B+1)/2 tiles per cluster, each scored by one numpy GEMM in
  ``mapInArrow`` (:func:`_score_tile`); no CartesianProduct in the plan,
  per-task memory = 2 blocks, tiles are independent tasks. Pick
  ``n_blocks`` so a cluster block fits executor memory;
- the two kernels are the package's only exact-cosine tiler and
  nearest-centroid assigner: ``dedup.embedding_near_dups_gemm`` is the
  tiler over one cluster, and ``annsearch.ivf_topk`` assigns its cells
  with :func:`assign_clusters`;
- route: a cascade :func:`semantic_dedup` whose vector set fits one
  barrier partition (``iterbarrier.fits_driver``, the closure's row cap)
  and holds at most ``DRIVER_MAX_DOUBLES`` unit-vector doubles needs no
  Spark job beyond a narrow probe and one collect. The probe counts rows
  (up to the cap) and reads the widest embedding; only a set that fits is
  collected, once, over Arrow as ``(vec_id, u, blk)`` (unit vectors and
  block hashes computed JVM-side, as on the Spark route), and the same
  assignment and tile kernels (:func:`_assign_kernel`, :func:`_score_tile`)
  run over the same ``(cluster, block)`` tiles in a driver loop. No Python
  worker starts. The driver route won every pair at every size measured
  (BENCH.md §24, 4 cores, local[4], median wall of 5 pairs): 20k x 64-d
  1.1 vs 4.5 s, 50k x 64-d 3.4 vs 8.1 s and 20k x 1024-d 9.6 vs 21.2 s,
  and a 2k-document corpus build's CPU time fell from 26.9 to 21.9 s
  (medians of 10 pairs).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import iterbarrier
from .dedup import unit_vector_col

MAX_CENTROIDS = 4096  # driver-collect guard: centroids are dimension-scale
# driver-route guard on rows x dim: the largest vector set measured to run
# faster on the driver (BENCH §24), ~160 MB of doubles, well inside the
# driver's default 1 GB result cap
DRIVER_MAX_DOUBLES = 20_000 * 1024


def _id_type(embeddings: DataFrame) -> str:
    """The vec_id column's Spark type string — schemas below reuse it so
    string/long/int document ids all round-trip unchanged (the corpus
    pipeline joins embeddings to documents on STRING ids)."""
    return embeddings.schema["vec_id"].dataType.simpleString()


def _assign_kernel(units, cmat):
    """Cluster index per row of the n x dim unit-vector matrix ``units``:
    argmax of round(units @ cmat.T, 6) in float64, ties to the smallest
    index (``np.argmax`` returns the first maximal one)."""
    import numpy as np

    return np.argmax(np.round(units @ cmat.T, 6), axis=1).astype(np.int32)


def _unit_matrix(u):
    """The n x dim float64 matrix of an Arrow ``array<double>`` column of
    unit vectors."""
    import numpy as np

    return np.stack(u.to_numpy(zero_copy_only=False))


def _id_array(ids: list):
    """Ids as :func:`_score_tile` orders them. Numeric ids keep their
    numpy dtype; string ids must be OBJECT arrays (np.minimum has loops for
    numeric and object dtypes, not for '<U' unicode), and so is a list
    holding a NULL (None), which :func:`_score_tile` leaves out of every
    pair."""
    import numpy as np

    arr = np.array(ids)
    return arr.astype(object) if arr.dtype.kind in "US" else arr


def _score_tile(ids_a, m_a, ids_b, m_b, diagonal: bool, threshold: float):
    """``(lo, hi, cos)`` of one tile: the pairs of block a x block b with
    round(cos, 6) >= threshold, cos by one float64 GEMM, ``lo < hi``.

    A diagonal tile (a is b) keeps its strict upper triangle only:
    (i,j)/(j,i) canonicalize to the same pair (dedup.py lesson: compare
    MULTISETS in tests, sets hide doubles). A NULL id pairs with nothing,
    as in the SQL oracle's ``a.vec_id < b.vec_id``.
    """
    import numpy as np

    sims = np.round(m_a @ m_b.T, 6)
    hits = sims >= threshold
    if diagonal:
        hits = np.triu(hits, k=1)
    ia, ib = np.where(hits)
    if ids_a.dtype == object or ids_b.dtype == object:
        known = np.not_equal(ids_a[ia], None) & np.not_equal(ids_b[ib], None)
        ia, ib = ia[known], ib[known]
    lo = np.minimum(ids_a[ia], ids_b[ib])
    hi = np.maximum(ids_a[ia], ids_b[ib])
    keep = lo < hi
    return lo[keep], hi[keep], sims[ia, ib][keep]


def centroid_units(embeddings: DataFrame, k: int) -> list[tuple[int, list[float]]]:
    """The k smallest-vec_id embeddings as (cluster_index, unit_vector).

    Unit vectors are computed JVM-side with the same sequential fold the
    pairwise path and the SQL oracle use, then collected — the driver
    never does float math on them.
    """
    assert 0 < k <= MAX_CENTROIDS
    rows = (
        embeddings.select(
            "vec_id", unit_vector_col(F.col("embedding")).alias("u")
        )
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    return [(i, list(r["u"])) for i, r in enumerate(rows)]


def trained_centroids(
    embeddings: DataFrame, k: int, n_iters: int = 5
) -> list[tuple[int, list[float]]]:
    """Balanced centroids via the IVF deterministic k-means (Lloyd rounds
    with content-derived init, `annsearch.ivf_fit`).

    The fixed smallest-k-ids centroids are the ORACLE-expressible default,
    but they inherit whatever the first k vectors happen to be: measured
    at 100k vectors / k=64 they left one mega-cluster of 4,984 members
    against a median of 27 (BENCH §19) — the classic SemDeDup failure
    mode, since within-cluster work is O(size^2). A few Lloyd rounds
    rebalance the cells; still fully deterministic, so dedup decisions
    remain reproducible run-to-run — just not restatable in ANSI SQL
    (train with pytest-verified exactness instead of a DuckDB oracle).
    """
    from .annsearch import ivf_fit

    assert 0 < k <= MAX_CENTROIDS  # same driver-collect guard as the fixed path
    cent = ivf_fit(embeddings, n_cells=k, n_iters=n_iters)
    return [(j, cent[j].tolist()) for j in range(len(cent))]


def assign_clusters(
    embeddings: DataFrame, k: int = 8, centroids: list | None = None
) -> DataFrame:
    """(vec_id, cluster, u): nearest-centroid assignment, map-only.

    ``cluster`` = argmax_j round(cos(u, c_j), 6), ties to the smallest j
    (``np.argmax`` returns the first maximal index). Unit vectors are
    computed JVM-side (one fold per row); the n x k score matrix comes
    from ONE numpy GEMM per Arrow batch in ``mapInArrow`` — no shuffle,
    no per-row Python, nothing grows with k but the GEMM width. Batches
    stay Arrow, so an id column holding a NULL keeps its exact values.

    Measured lesson (BENCH §17): the "pure column math" alternative — k
    unrolled ``aggregate``/``zip_with`` fold expressions + a
    greatest/when argmax — is NOT codegen; higher-order functions are
    interpreted per element, so k=64 centroids cost ~4096 interpreted
    lambda steps per row and assignment alone ran 9x slower than the
    whole exact all-pairs GEMM at 100k rows. Float contract: float64
    GEMM, round-6, smallest-index ties — driver-oracle-verified against
    the sequential-fold SQL at both SFs. ``annsearch.ivf_topk`` assigns
    its cells here too, passing its trained centroids.
    """
    import numpy as np
    import pyarrow as pa

    cents = centroids if centroids is not None else centroid_units(embeddings, k)
    cmat = np.array([cu for _, cu in cents], dtype=np.float64)  # k x dim
    base = embeddings.select(
        "vec_id", unit_vector_col(F.col("embedding")).alias("u")
    )

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # Arrow in and out: ids pass through untouched (pandas turns an
        # integral column holding a NULL into float64, rounding ids > 2^53)
        for batch in batches:
            if not batch.num_rows:
                continue
            cluster = _assign_kernel(_unit_matrix(batch.column("u")), cmat)
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id"), pa.array(cluster), batch.column("u")],
                names=["vec_id", "cluster", "u"],
            )

    return base.mapInArrow(
        assign, f"vec_id {_id_type(embeddings)}, cluster int, u array<double>"
    )


def semantic_near_dups(
    embeddings: DataFrame,
    k: int = 8,
    threshold: float = 0.4,
    n_blocks: int = 8,
    centroids: list | None = None,
) -> DataFrame:
    """(cluster, id_a, id_b, cos): within-cluster pairs with cosine >=
    threshold, id_a < id_b, cos in float64 rounded to 6.

    Exact tiles packed by ``(cluster, block)``, so the quadratic work is
    per-cluster; ``dedup.embedding_near_dups_gemm`` runs the same tiler
    over a single cluster (see there for why exact tiles beat LSH at
    near-noise thresholds).

    Pass ``centroids=trained_centroids(...)`` to swap the fixed smallest-k
    seed for the k-means codebook when cluster balance matters (see
    :func:`trained_centroids`).
    """
    return _within_cluster_pairs(
        assign_clusters(embeddings, k, centroids), threshold, n_blocks
    )


def _block_col(n_blocks: int) -> F.Column:
    """A vector's tile block: a JVM-side hash of its id, so both routes
    cut the same ``(cluster, block)`` tiles."""
    return F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks))


def _within_cluster_pairs(
    assigned: DataFrame, threshold: float, n_blocks: int
) -> DataFrame:
    """(cluster, id_a, id_b, cos) of a ``(vec_id, cluster, u)`` frame: the
    pairs :func:`_score_tile` keeps in every ``(cluster, block)`` tile."""
    import numpy as np
    import pyarrow as pa

    spark = assigned.sparkSession
    id_t = _id_type(assigned)
    packed = (
        assigned.withColumn("blk", _block_col(n_blocks))
        .groupBy("cluster", "blk")
        .agg(F.collect_list(F.struct("vec_id", "u")).alias("vecs"))
    )
    tiles = spark.createDataFrame(
        [(a, b) for a in range(n_blocks) for b in range(n_blocks) if a <= b],
        "ba int, bb int",
    )
    a_side = packed.select(
        "cluster", F.col("blk").alias("ba"), F.col("vecs").alias("vecs_a")
    )
    b_side = packed.select(
        "cluster", F.col("blk").alias("bb"), F.col("vecs").alias("vecs_b")
    )
    tiled = (
        F.broadcast(tiles)
        .join(a_side, "ba")
        .join(b_side, ["cluster", "bb"])
        .select("cluster", "ba", "bb", "vecs_a", "vecs_b")
    )

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # Arrow, not pandas: pandas turns the struct's integral id field
        # into float64 when any id in the batch is NULL
        def block(vecs):  # one list<struct<vec_id, u>> cell
            return _id_array(vecs.field("vec_id").to_pylist()), _unit_matrix(vecs.field("u"))

        for batch in batches:
            id_pa = batch.schema.field("vecs_a").type.value_type.field("vec_id").type
            cluster, ba, bb, vecs_a, vecs_b = (
                batch.column(c) for c in ("cluster", "ba", "bb", "vecs_a", "vecs_b")
            )
            for i in range(batch.num_rows):
                diagonal = ba[i].as_py() == bb[i].as_py()
                ids_a, m_a = block(vecs_a[i].values)
                ids_b, m_b = (ids_a, m_a) if diagonal else block(vecs_b[i].values)
                lo, hi, cos = _score_tile(ids_a, m_a, ids_b, m_b, diagonal, threshold)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(len(lo), cluster[i].as_py()), pa.int32()),
                        pa.array(lo, id_pa),
                        pa.array(hi, id_pa),
                        pa.array(cos, pa.float64()),
                    ],
                    names=["cluster", "id_a", "id_b", "cos"],
                )

    return tiled.mapInArrow(
        score, f"cluster int, id_a {id_t}, id_b {id_t}, cos double"
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    threshold: float = 0.4,
    n_blocks: int = 8,
    centroids: list | None = None,
    mode: str = "cascade",
) -> DataFrame:
    """(vec_id, cluster, kept): the SemDeDup keep/drop decision per vector.

    ``mode="cascade"`` (default, the oracle-paired registry semantics):
    ``kept = false`` iff ANY smaller-id vector in the same cluster is
    within the cosine threshold — one left-anti-shaped flag join against
    the distinct dropped ids; the pair table is the only quadratic
    artifact and it never leaves the executors unfiltered. NOTE this is
    deliberately STRICTER than Abbas et al. (SemDeDup, 2023), whose rule
    keeps one representative per duplicate group: cosine near-dup is not
    transitive, so in a chain a~b~c (c near b but not near a) cascade
    drops BOTH b and c even though c is not near any kept document. The
    cascade rule is a pure join (no sequential dependence), which is why
    it is the scale default.

    ``mode="kept_set"`` implements the paper's keep-against-kept-set
    greedy exactly: ids are scanned ascending per cluster and a vector is
    dropped only if a KEPT smaller-id neighbor is within threshold (in
    a~b~c, b drops and c survives). The sequential dependence is confined
    to one ``applyInPandas`` over the per-cluster NEAR-DUP PAIR list —
    memory is O(pairs in cluster), not O(cluster²), and only ids that
    appear in some pair are shuffled; pair generation stays the tiled
    GEMM. kept_set never drops more than cascade (asserted in tests).

    Route: a cascade run with the fixed centroids over a vector set that
    fits one barrier partition (``iterbarrier.fits_driver``) and
    ``DRIVER_MAX_DOUBLES`` runs on the driver (:func:`_driver_cascade`): a
    narrow probe, one Arrow collect, the same kernels over the same tiles,
    and a decision table with the Spark route's rows and schema. Larger
    sets, ``kept_set`` and passed ``centroids`` take the Spark route below.

    On the Spark route the assignment frame feeds both the pair tiling and
    the final flag join; it is materialized ONCE (plans have no subtree
    reuse — without this the scan + unit-fold + GEMM lineage executes
    twice).
    """
    if mode not in ("cascade", "kept_set"):
        raise ValueError(f"mode must be 'cascade' or 'kept_set', got {mode!r}")
    if mode == "cascade" and centroids is None:
        decided = _driver_cascade(embeddings, k, threshold, n_blocks)
        if decided is not None:
            return decided
    assigned = assign_clusters(embeddings, k, centroids).localCheckpoint(eager=True)
    pairs = _within_cluster_pairs(assigned, threshold, n_blocks)
    if mode == "cascade":
        dropped = (
            pairs.select(F.col("id_b").alias("vec_id"))
            .dropDuplicates()
            .withColumn("_drop", F.lit(True))
        )
    else:
        dropped = _kept_set_dropped(pairs)
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
    )


def _spark_order(v) -> tuple:
    """Sort key of one collected id in Spark's ascending order: NULL
    first, NaN after every other value."""
    if v is None:
        return (0,)
    return (2,) if v != v else (1, v)


def _driver_cascade(
    embeddings: DataFrame, k: int, threshold: float, n_blocks: int
) -> DataFrame | None:
    """The cascade decision table computed on the driver, or None when the
    vector set does not fit one barrier partition or its unit vectors
    exceed ``DRIVER_MAX_DOUBLES``.

    A narrow probe (row count up to the cap and the widest embedding)
    decides before anything wide is collected. Same contract as the Spark
    route: centroids are the unit vectors of the k smallest ``vec_id`` rows
    in ``orderBy`` order (NULL first, NaN last), and the assignment GEMM and
    every ``(cluster, block)`` tile run through the same kernels. Ids are
    read from Arrow as Python values, so a NULL stays None and a bigint id
    stays exact. A NULL id pairs with nothing (:func:`_score_tile`), so it
    is kept, as on the Spark route.
    """
    import heapq

    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.types import BooleanType, IntegerType, StructField, StructType

    assert 0 < k <= MAX_CENTROIDS  # the guard centroid_units applies
    # one row over the cap is enough to decide
    n, dim = (
        embeddings.select(F.size("embedding").alias("dim"))
        .limit(iterbarrier.TARGET_ROWS_PER_PARTITION + 1)
        .agg(F.count(F.lit(1)), F.max("dim"))
        .first()
    )
    if not iterbarrier.fits_driver(n) or n * (dim or 0) > DRIVER_MAX_DOUBLES:
        return None
    schema = StructType([
        StructField("vec_id", embeddings.schema["vec_id"].dataType, True),
        StructField("cluster", IntegerType(), True),
        StructField("kept", BooleanType(), False),
    ])
    spark = embeddings.sparkSession
    table = embeddings.select(
        "vec_id",
        unit_vector_col(F.col("embedding")).alias("u"),
        _block_col(n_blocks).alias("blk"),
    ).toArrow()
    if not table.num_rows:
        return spark.createDataFrame([], schema)

    id_list = table.column("vec_id").to_pylist()
    ids = _id_array(id_list)
    units = _unit_matrix(table.column("u"))
    first = heapq.nsmallest(k, range(len(id_list)), key=lambda i: _spark_order(id_list[i]))
    cluster = _assign_kernel(units, units[first])

    blk = table.column("blk").to_numpy()
    blocks = pd.DataFrame({"c": cluster, "b": blk}).groupby(["c", "b"]).indices
    dropped: set = set()
    for (c, a), rows_a in blocks.items():
        for b in range(a, n_blocks):
            rows_b = blocks.get((c, b))
            if rows_b is None:
                continue
            _, hi, _ = _score_tile(
                ids[rows_a], units[rows_a], ids[rows_b], units[rows_b], a == b, threshold
            )
            dropped.update(hi.tolist())
    # Arrow, not pandas, on the way back too: pandas reads a NaN id as NULL
    out = pa.table({
        "vec_id": table.column("vec_id"),
        "cluster": pa.array(cluster),
        "kept": pa.array([v not in dropped for v in id_list]),
    })
    return spark.createDataFrame(out, schema)


def _kept_set_dropped(pairs: DataFrame) -> DataFrame:
    """Sequential greedy per cluster over the near-dup pair list: scanning
    ids ascending, an id is dropped iff some KEPT smaller neighbor exists.
    Ids in no pair never enter this function (trivially kept upstream)."""
    import pandas as pd

    id_t = pairs.schema["id_a"].dataType.simpleString()

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        smaller: dict = {}
        for a, b in zip(pdf["id_a"], pdf["id_b"]):
            smaller.setdefault(b, []).append(a)
        kept: set = set()
        out = []
        for i in sorted(set(pdf["id_a"]) | set(pdf["id_b"])):
            if any(n in kept for n in smaller.get(i, ())):
                out.append(i)
            else:
                kept.add(i)
        return pd.DataFrame({"vec_id": out, "_drop": True})

    return (
        pairs.select("cluster", "id_a", "id_b")
        .groupBy("cluster")
        .applyInPandas(greedy, f"vec_id {id_t}, _drop boolean")
    )
