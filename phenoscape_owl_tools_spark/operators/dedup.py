"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-duplicates.

The reference deduplicates axiom *sets* (Scala ``Set`` semantics,
e.g. EQCreator.scala:65 ``filterNot(containsAxiom)``); a training-data
pipeline additionally needs *document*-level near-dedup. All operators here
are pure DataFrame compositions (JVM-side, whole-stage-codegen) — no Python
in the hot path. Hash functions are sha2-hex so every result is
deterministic and reproducible by a SQL oracle.

Scale notes (100 TB):
- Exact dedup is one map-side fingerprint + one shuffle on the fingerprint;
  fingerprints are uniform (sha2) so no skew.
- The n-gram Jaccard self-join is quadratic in documents-per-shingle:
  ``max_doc_freq`` drops ultra-common shingles (stopword-like n-grams carry
  no dedup signal but dominate join cost) — the standard blocking fix.
- MinHash+LSH is the scale path: cost is linear in documents for signatures
  (one groupBy on (doc, shingle) input), and the candidate join touches only
  band-bucket collisions. Giant buckets (skew) split by AQE; candidates are
  then verified with exact Jaccard so precision is unaffected by banding.
- SimHash is map-only per document + one groupBy on an 8-bit key.
- Embedding near-dup: the brute-force O(n^2) crossJoin is the
  verification baseline; the contract path scores exact tiles with
  SemDeDup's kernel (``operators/semdedup.py``); approximate top-k search
  lives in ``operators/annsearch.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from phenoscape_owl_tools_spark.operators.textstats import word_windows


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_fingerprints(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp): canonical content fingerprint — sha2 of lowercased text."""
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.sha2(F.lower(F.col(text_col)), 256).alias("fp"),
    )


def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: every doc mapped to the keeper of its
    fingerprint group, with a dup flag. The keeper is the lexicographic
    minimum of the *stringified* doc id — canonical and deterministic for
    arbitrary id types (for ingestion-order keeps, zero-pad numeric ids).

    One shuffle on the uniform sha2 key; scales linearly.
    """
    fp = exact_fingerprints(documents, text_col)
    keep = Window.partitionBy("fp")
    return fp.select(
        "doc_id",
        "fp",
        F.min("doc_id").over(keep).alias("keep_id"),
        (F.count("*").over(keep) > 1).alias("is_dup_group"),
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def word_shingles(documents: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    Pure column expressions: split -> ``textstats.word_windows`` ->
    explode -> render. No Python and no lambda.
    """
    windows, render = word_windows(F.split(F.col(text_col), " "), n)
    return (
        documents.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.explode(windows).alias("w"),
        )
        .select("doc_id", render(F.col("w")).alias("shingle"))
        .where(F.col("shingle") != "")
        .dropDuplicates(["doc_id", "shingle"])
    )


def _shingle_sizes(shingles: DataFrame) -> DataFrame:
    return shingles.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))


def _verified_jaccard(
    pairs: DataFrame, shingles: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs; keeps >= threshold."""
    sizes = _shingle_sizes(shingles)
    a = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold via shingle-inverted-index join.

    (doc_a, doc_b, jaccard) with doc_a < doc_b. ``max_doc_freq`` blocks
    shingles appearing in more than that many docs from generating pairs
    (they still count toward set sizes, so Jaccard stays exact only when
    every surviving pair shares at least one rare shingle — the standard
    recall/cost trade documented at call sites).

    SCALE BOUNDARY (measured, BENCH.md §20): exact mode's inverted-index
    join emits one row per (pair, shared shingle) — ``sum_s df(s)^2``
    rows. That is quadratic in CLONE-FAMILY size, so its cost is set by
    the corpus's duplication density, not its row count: at sf10 (500k
    docs where every doc has ~99 near-clones) the co-occurrence relation
    is ~2x10^9 rows and overflowed 78 GB of local shuffle disk. This
    operator is the exact VERIFIER for modest duplication density; at
    clone-dense web scale use X3 ``minhash_lsh_dedup`` (banded candidates
    + exact verify — the documented 100 TB path, which completes the same
    sf10 corpus; see BENCH §20), or pass ``max_doc_freq`` to cap df.
    """
    shingles = word_shingles(documents, n).localCheckpoint(eager=True)
    if max_doc_freq is not None:
        # blocked mode: rare shingles only GENERATE candidates; the exact
        # Jaccard is then re-verified over the full shingle sets so blocking
        # affects recall, never the reported scores
        rare = (
            shingles.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        probe = shingles.join(rare, "shingle", "leftsemi")
        cand = (
            probe.select(F.col("doc_id").alias("doc_a"), "shingle")
            .join(probe.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .dropDuplicates()
        )
        return _verified_jaccard(cand, shingles, threshold)
    # exact mode, single-pass: the inverted-index join aggregates
    # intersection counts directly (no separate candidate set + re-join —
    # the join output IS the per-pair shingle co-occurrence relation)
    a = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = _shingle_sizes(shingles)
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(shingles: DataFrame, k: int = 8) -> DataFrame:
    """k-permutation MinHash: mh_i = min over shingles of sha2(i + ':' + s).

    One groupBy over the shingle relation computes all k mins map-side
    (partial aggregation), so signature cost is a single shuffle of
    (doc_id, k * 64B).
    """
    aggs = [
        F.min(F.sha2(F.concat(F.lit(f"{i}:"), F.col("shingle")), 256)).alias(f"mh{i}")
        for i in range(k)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def lsh_bands(signatures: DataFrame, k: int = 8, rows_per_band: int = 2) -> DataFrame:
    """(doc_id, band, bkey): band key = sha2 of the band's concatenated rows."""
    assert k % rows_per_band == 0
    parts = []
    for band in range(k // rows_per_band):
        cols = [F.col(f"mh{band * rows_per_band + r}") for r in range(rows_per_band)]
        parts.append(
            signatures.select(
                "doc_id",
                F.lit(band).alias("band"),
                F.sha2(F.concat(*cols), 256).alias("bkey"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def lsh_candidates(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) sharing any band bucket; the only join is on
    (band, bkey) — linear in bucket collisions, not in doc pairs."""
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )


def minhash_lsh_dedup(
    documents: DataFrame,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.2,
) -> DataFrame:
    """MinHash/LSH near-dedup: signature -> band join -> exact-Jaccard verify.

    Returns (doc_a, doc_b, jaccard) for verified near-dup pairs.
    """
    # Materialize the shared subtrees once: the band split references the
    # signature relation 2 x k/rows_per_band times and the verify stage
    # re-reads shingles — without a checkpoint Spark recomputes the scan +
    # shingling per reference (DataFrame plans have no CTE reuse). At scale
    # these are the stage tables the pipeline writes anyway.
    shingles = word_shingles(documents, n).localCheckpoint(eager=True)
    sig = minhash_signatures(shingles, k).localCheckpoint(eager=True)
    cand = lsh_candidates(lsh_bands(sig, k, rows_per_band))
    return _verified_jaccard(cand, shingles, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(documents: DataFrame, bits: int = 8, text_col: str = "text") -> DataFrame:
    """Per-document SimHash over the distinct-token set: bit p is the
    majority vote of hex-digit p's high bit across token sha2 digests.

    (doc_id, simhash) where simhash is a '0'/'1' string of length ``bits``
    (<= 64). Map-only + one groupBy(doc_id); near-dup candidates are docs
    sharing a fingerprint (or Hamming-adjacent fingerprints via band joins).
    """
    assert 1 <= bits <= 64
    toks = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).where(F.col("tok") != "").dropDuplicates()
    h = toks.select("doc_id", F.sha2(F.col("tok"), 256).alias("hx"))
    bit_aggs = [
        F.sum(
            F.when(F.substring("hx", p + 1, 1).isin(*"89abcdef"), 1).otherwise(0)
        ).alias(f"b{p}")
        for p in range(bits)
    ]
    agg = h.groupBy("doc_id").agg(F.count("*").alias("n"), *bit_aggs)
    fingerprint = F.concat(
        *[
            F.when(F.col(f"b{p}") * 2 > F.col("n"), F.lit("1")).otherwise(F.lit("0"))
            for p in range(bits)
        ]
    )
    return agg.select("doc_id", fingerprint.alias("simhash"))


def simhash_dup_groups(documents: DataFrame, bits: int = 8) -> DataFrame:
    """Docs sharing an identical SimHash fingerprint (Hamming distance 0)."""
    sh = simhash(documents, bits)
    w = Window.partitionBy("simhash")
    return (
        sh.select(
            "doc_id",
            "simhash",
            F.min("doc_id").over(w).alias("keep_id"),
            F.count("*").over(w).alias("group_size"),
        )
        .where(F.col("group_size") > 1)
        .drop("group_size")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def unit_vector_col(e) -> F.Column:
    """array<float> -> L2-normalized array<double>.

    Precomputing unit vectors turns every pairwise cosine into ONE dot
    product — at n^2 pairs this removes 2 of 3 per-pair array folds (the
    higher-order functions are interpreted per element, so this is the
    difference between O(n^2 * d) and O(3 n^2 * d) lambda evaluations).
    """
    ed = F.transform(e, lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(F.transform(ed, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    # zero vectors stay zero (cosine 0 vs everything) instead of NaN;
    # mirrored by nullif/coalesce in the SQL oracle
    safe = F.coalesce(F.nullif(nrm, F.lit(0.0)), F.lit(1.0))
    return F.transform(ed, lambda x: x / safe)


def dot_col(a, b) -> F.Column:
    """Dot product of two array<double> columns (sequential fold, JVM-side)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.4) -> DataFrame:
    """(id_a, id_b, cos) for pairs with cosine >= threshold; id_a < id_b.

    Brute-force O(n^2) — the oracle/verification baseline ONLY. The contract
    path is :func:`embedding_near_dups_gemm` (exact tiled block join, no
    cartesian plan node). Unit vectors are materialized once per side so
    each pair costs a single array fold.
    """
    units = embeddings.select(
        "vec_id", unit_vector_col(F.col("embedding")).alias("u")
    ).localCheckpoint(eager=True)
    a = units.select(F.col("vec_id").alias("id_a"), F.col("u").alias("ua"))
    b = units.select(F.col("vec_id").alias("id_b"), F.col("u").alias("ub"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot_col(F.col("ua"), F.col("ub")), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def embedding_near_dups_gemm(
    embeddings: DataFrame, threshold: float = 0.4, n_blocks: int = 16
) -> DataFrame:
    """Exact cosine-threshold self-join via tiled BLAS — the scale path.

    Why not LSH candidates: on this workload the threshold (0.4 at 64 dims,
    ~66 deg) sits in the random-cosine tail — measured pair cosines span
    0.40-0.60, so random-hyperplane agreement is ~0.63/bit and any banding
    scheme with recall ~1 costs more bucket-join work than the full O(n^2).
    A dense-vector threshold join at a near-noise threshold is inherently
    all-pairs; the scalable design is *exact tiled evaluation*, not
    candidate pruning.

    This is SemDeDup's within-cluster tiler with every vector in one
    cluster (``semdedup._within_cluster_pairs``): ``n_blocks`` blocks by id
    hash, B(B+1)/2 equi-joined tiles (no CartesianProduct in the plan),
    each scored by one float64 GEMM in ``mapInArrow``. Per-task memory is
    2 blocks, so pick ``n_blocks`` so a block fits executor memory. Unit
    vectors are the
    JVM-side fold of :func:`unit_vector_col`, so results are identical to
    :func:`embedding_near_dups` (same round-6, id_a < id_b, a NULL id pairs
    with nothing); id types follow ``vec_id``.
    """
    from .semdedup import _within_cluster_pairs

    units = embeddings.select(
        "vec_id",
        F.lit(0).alias("cluster"),
        unit_vector_col(F.col("embedding")).alias("u"),
    )
    return _within_cluster_pairs(units, threshold, n_blocks).drop("cluster")


# ---------------------------------------------------------------------------
# cluster collapse: pairs -> connected components -> one representative
# ---------------------------------------------------------------------------

def dedup_clusters(
    documents: DataFrame, pairs: DataFrame,
    a: str = "doc_a", b: str = "doc_b", doc_col: str = "doc_id",
) -> DataFrame:
    """Collapse verified near-duplicate PAIRS into clusters and pick one
    representative per cluster — the step that turns pairwise dedup output
    (X2/X3/X5) into a per-document keep/drop decision for a training
    corpus. Near-dup similarity is not transitive, so pair output alone
    over-keeps: a ~ b ~ c must collapse to ONE kept document even when
    (a, c) itself fell below the threshold.

    Returns ``(doc_id, cluster, keep_flag)``: ``cluster`` = min doc_id of
    the connected component under the pair graph (documents in no pair are
    their own singleton cluster), ``keep_flag`` = 1 on the representative.
    ``documents.where(keep_flag = 1)`` is the deduplicated corpus.

    Scale shape (100 TB): the CC fixpoint (pointer doubling,
    ``operators/components.py``) runs over the PAIR graph only — near-dup
    pairs are a tiny fraction of corpus size — and the corpus-wide labeling
    is ONE broadcast left join of the component table against documents
    (no shuffle of the corpus side).
    """
    from phenoscape_owl_tools_spark.operators.components import (
        connected_components,
    )

    comp = connected_components(pairs, a=a, b=b).withColumnRenamed(
        "node", "doc_id")
    docs = documents.select(
        F.col(doc_col).cast("string").alias("doc_id")).dropDuplicates()
    labeled = docs.join(F.broadcast(comp), "doc_id", "left")
    return labeled.select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("cluster"),
    ).withColumn(
        "keep_flag",
        F.when(F.col("doc_id") == F.col("cluster"), F.lit(1)).otherwise(
            F.lit(0)).cast("int"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_overlap: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Training-corpus decontamination: flag documents sharing >=
    ``min_overlap`` distinct word ``n``-grams with a benchmark/eval corpus
    (the GPT-3/PaLM-style n-gram overlap decontamination rule).

    Returns ``(doc_id, n_overlap)`` for contaminated documents only.

    Scale shape (100 TB corpus vs MB-scale benchmark): the benchmark gram
    set is dimension-sized and explicitly ``broadcast`` — the corpus side
    streams through a broadcast hash join at scan speed (no corpus shuffle),
    and only benchmark-colliding grams reach the per-document count (one
    shuffle over the tiny hit set). Filters stay pushed down: the corpus
    scan reads (doc_id, text) only.
    """
    bench = word_shingles(benchmark, n, text_col).select("shingle").dropDuplicates()
    corpus = word_shingles(documents, n, text_col)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )


# ---------------------------------------------------------------------------
# cross-document duplicated windows (exact substring dedup, window grain)
# ---------------------------------------------------------------------------

def positional_windows(
    documents: DataFrame, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """All word ``k``-gram windows WITH position: (doc_id, pos, gram).
    Unlike ``word_shingles`` duplicates are kept — position identity matters
    for substring-dedup bookkeeping."""
    windows, render = word_windows(F.split(F.col(text_col), " "), k)
    return (
        documents.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.posexplode(windows).alias("pos", "w"),
        )
        .select("doc_id", "pos", render(F.col("w")).alias("gram"))
        .where(F.col("gram") != "")
    )


def duplicated_windows(
    documents: DataFrame, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """Exact substring-duplication report at window grain (the distributed
    approximation of suffix-array substring dedup, Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"): a window is
    duplicated when the same ``k``-token gram occurs in >= 2 distinct
    documents. Returns per-document ``(doc_id, n_dup_windows,
    dup_window_frac)`` for documents with at least one duplicated window —
    the removal-candidate spans a substring-dedup pass would cut.

    Scale shape: three shuffles, all on uniform keys — (1) dedistinct
    (gram, doc) then count docs per gram (map-side combinable after the
    distinct), (2) join the duplicated-gram set back to the positional
    relation co-partitioned on the gram hash, (3) per-document aggregate.
    Gram strings are replaced by 64-bit xxhash keys before any shuffle so
    shuffle width is independent of k; the heavy-hitter gram (boilerplate)
    skew surface is bounded by AQE skew-join on (2).
    """
    pos = positional_windows(documents, k, text_col)
    keyed = pos.select("doc_id", "pos", F.xxhash64("gram").alias("g"))
    dup_grams = (
        keyed.select("doc_id", "g")
        .dropDuplicates(["doc_id", "g"])
        .groupBy("g")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    hits = keyed.join(dup_grams, "g").groupBy("doc_id").agg(
        F.count("*").alias("n_dup_windows")
    )
    sizes = pos.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "n_dup_windows",
        F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias(
            "dup_window_frac"
        ),
    )


# ---------------------------------------------------------------------------
# SimHash near-dup at Hamming distance <= d (Manku et al., WWW 2007)
# ---------------------------------------------------------------------------

_SIM64_BITS = 64
_SIM64_NBLOCKS = 4
_SIM64_BLOCK_BITS = 16


def simhash64_blocks(
    documents: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over the distinct word ``n``-gram shingle set,
    returned as four 16-bit block integers ``(doc_id, blk0..blk3)``.

    Bit ``p`` is the majority vote of sha256 hex digit ``p``'s high bit
    across the document's shingle digests (same construction as
    :func:`simhash`, widened to 64 bits and emitted as integers so Hamming
    distance is 4 xor+popcounts instead of 64 char compares). One groupBy
    over the shingle relation; the 65 aggregates are map-side combinable.
    """
    sh = word_shingles(documents, n, text_col)
    h = sh.select("doc_id", F.sha2(F.col("shingle"), 256).alias("hx"))
    bit_aggs = [
        F.sum(
            F.when(F.substring("hx", p + 1, 1).isin(*"89abcdef"), 1).otherwise(0)
        ).alias(f"b{p}")
        for p in range(_SIM64_BITS)
    ]
    agg = h.groupBy("doc_id").agg(F.count("*").alias("n"), *bit_aggs)
    blocks = []
    for q in range(_SIM64_NBLOCKS):
        col = F.lit(0)
        for j in range(_SIM64_BLOCK_BITS):
            p = _SIM64_BLOCK_BITS * q + j
            col = col + F.when(
                F.col(f"b{p}") * 2 > F.col("n"),
                F.lit(1 << (_SIM64_BLOCK_BITS - 1 - j)),
            ).otherwise(F.lit(0))
        blocks.append(col.cast("long").alias(f"blk{q}"))
    return agg.select("doc_id", *blocks)


def simhash_near_dups(
    documents: DataFrame,
    max_hamming: int = 3,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs at SimHash Hamming distance <= ``max_hamming``
    via the block-permutation index of Manku, Jain & Das Sarma,
    "Detecting Near-Duplicates for Web Crawling" (WWW 2007) — the classic
    web-scale simhash algorithm (Google's 8B-page dedup).

    Pigeonhole: 4 blocks of 16 bits; two fingerprints within Hamming
    distance 3 must agree exactly on >= 1 block, so candidates are pairs
    sharing any (block_id, block_value) key and the verify step is an exact
    popcount over the xor of the four blocks. Returns
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    Scale shape (vs the O(n^2) brute force): fingerprints are ONE groupBy
    over shingles; candidates come from ONE self-equi-join on uniform
    16-bit block keys (collision probability 4 * 2^-16 for independent
    fingerprints — sized for billions of documents); verification is
    constant work per candidate, no join-back (all four blocks ride through
    the explode). Boilerplate-heavy block values skew the candidate join —
    bounded by AQE skew-join, like the n-gram inverted index. Requires
    ``max_hamming < _SIM64_NBLOCKS`` (pigeonhole soundness).
    """
    assert 0 <= max_hamming < _SIM64_NBLOCKS
    # materialize the fingerprint relation ONCE: both self-join sides read
    # it, and DataFrame plans have no CTE reuse — without this the whole
    # shingle+groupBy subtree runs twice (measured 7.3 s -> 4.5 s at
    # sf0.1). At scale this is the fingerprint stage table the pipeline
    # would persist anyway (cf. minhash_lsh_dedup's identical pattern).
    fp = simhash64_blocks(documents, n, text_col).localCheckpoint(eager=True)
    blks = [f"blk{q}" for q in range(_SIM64_NBLOCKS)]
    block_key = F.explode(
        F.array(
            *[
                F.struct(F.lit(q).alias("q"), F.col(b).alias("v"))
                for q, b in enumerate(blks)
            ]
        )
    ).alias("bk")
    keyed = fp.select("doc_id", *blks, block_key)
    a = keyed.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(b).alias(f"a{q}") for q, b in enumerate(blks)],
        "bk",
    )
    b = keyed.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(x).alias(f"b{q}") for q, x in enumerate(blks)],
        "bk",
    )
    hamming = F.lit(0)
    for q in range(_SIM64_NBLOCKS):
        hamming = hamming + F.bit_count(
            F.col(f"a{q}").bitwiseXOR(F.col(f"b{q}"))
        )
    return (
        a.join(b, "bk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
