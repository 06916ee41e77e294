"""Seeded input generator for the benchmark workloads.

Writes the parquet tables the KB and corpus builds read, with the shape of
the repository's sf0.1 test tables (31-word vocabulary, 10-100 words per
document, 40% ``en`` documents, 20 round-robin sources, ~5% near-duplicate
documents, 64-d unit embeddings around 10 labels, 30 orders and 4 parts per
document) but sized by ``n_docs`` and drawn from ``seed``. Nothing is read
from disk, so a checkout of the benchmark alone can regenerate its inputs.

The same (seed, n_docs) gives byte-identical files; another seed changes
the content but not the row counts, schemas or vocabulary.

    python3 perfbench/gen.py OUT_DIR --seed 7 --docs 5000
"""

from __future__ import annotations

import argparse
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf0.1 test tables' vocabulary; "dup" only marks near-duplicate documents.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DUP_WORD = "dup"
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
NEAR_DUP_FRAC = 0.05
EMB_FRAC = 0.4
ORDERS_PER_DOC = 30
CUSTOMERS_PER_DOC = 3
PARTS_PER_DOC = 4
BENCH_DOCS_PER_1000 = 1


def _texts(rng: np.random.Generator, n: int) -> tuple[list[str], np.ndarray]:
    """Random word documents; a NEAR_DUP_FRAC share repeat an earlier
    document's text with the marker word appended. Returns (texts, source
    index of each document, -1 for originals)."""
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    dup_of = np.full(n, -1, dtype=np.int64)
    n_dup = int(n * NEAR_DUP_FRAC)
    # duplicates live in the upper half and copy an original from the lower
    dups = rng.choice(np.arange(n // 2, n), size=n_dup, replace=False)
    dups.sort()
    dup_of[dups] = rng.integers(0, n // 2, size=n_dup)
    for i in dups:
        texts[i] = texts[dup_of[i]] + " " + DUP_WORD
    return texts, dup_of


def _unit(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def tables(seed: int, n_docs: int) -> dict[str, pa.Table]:
    """All input tables for one (seed, size), in memory."""
    rng = np.random.default_rng(seed)
    doc_id = np.arange(n_docs, dtype=np.int64)
    texts, dup_of = _texts(rng, n_docs)
    documents = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_emb = int(n_docs * EMB_FRAC)
    centers = _unit(rng.normal(size=(N_LABELS, EMB_DIM)))
    label = rng.integers(0, N_LABELS, size=n_emb).astype(np.int32)
    emb = _unit(centers[label] + 0.35 * rng.normal(size=(n_emb, EMB_DIM)))
    # a near-duplicate document's vector is its original's, nudged
    for i in np.nonzero(dup_of[:n_emb] >= 0)[0]:
        j = dup_of[i]
        if j < n_emb:
            emb[i] = _unit(emb[j] + 0.01 * rng.normal(size=EMB_DIM))
            label[i] = label[j]
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": label,
    })

    n_orders = n_docs * ORDERS_PER_DOC
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_docs * CUSTOMERS_PER_DOC, size=n_orders, dtype=np.int64),
        "o_orderpriority": rng.choice(PRIORITIES, size=n_orders).tolist(),
    })
    part = pa.table({"p_partkey": np.arange(n_docs * PARTS_PER_DOC, dtype=np.int64)})

    n_bench = max(1, n_docs * BENCH_DOCS_PER_1000 // 1000)
    bench_texts, _ = _texts(rng, max(n_bench, 2))
    benchmark = pa.table({
        "doc_id": np.arange(n_bench, dtype=np.int64) + n_docs,
        "text": bench_texts[:n_bench],
    })
    return {
        "documents": documents,
        "embeddings": embeddings,
        "orders": orders,
        "part": part,
        "benchmark": benchmark,
    }


def write(out_dir: str | Path, seed: int, n_docs: int) -> Path:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, table in tables(seed, n_docs).items():
        pq.write_table(table, out / f"{name}.parquet", compression="snappy")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, required=True)
    args = ap.parse_args()
    write(args.out_dir, args.seed, args.docs)


if __name__ == "__main__":
    main()
