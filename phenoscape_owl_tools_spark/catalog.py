"""Table sink/source with per-stage lineage manifests and resume.

Locally this writes parquet; on a cluster the same call sites target Iceberg
(``df.writeTo(table).append()``) — the abstraction keeps the pipeline code
format-agnostic. What the north rule requires and this module provides:

- **subject-hash partitioning with explicit salt bucketing**: triple tables
  are written partitioned by ``pmod(hash(subj), n_buckets)`` so downstream
  subject-keyed joins prune partitions;
- **per-partition lineage manifests**: every write records row counts per
  bucket, an order-insensitive content checksum (sum of xxhash64 over rows),
  the input fingerprints, and wall time — JSON next to the data
  (`_MANIFEST.json`), the role Iceberg snapshot metadata plays in prod;
- **checkpointed stage boundaries for resume**: a stage whose manifest
  matches its input fingerprints is skipped and its output re-read.
"""

from __future__ import annotations

import hashlib
import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "_MANIFEST.json"


def content_checksum(df: DataFrame) -> int:
    """Order-insensitive content checksum: sum of xxhash64 over all columns.

    Partitioning- and ordering-independent, so identical logical content
    yields an identical checksum across cluster sizes — the lineage
    comparison the north rule asks for.
    """
    row = df.select(
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")).alias("cs")
    ).collect()[0]
    return int(row["cs"] or 0)


def write_table(
    df: DataFrame,
    path: str | Path,
    fingerprint: str = "",
    bucket_col: str | None = None,
    n_buckets: int = 16,
) -> dict:
    """Write ``df`` as parquet + lineage manifest; returns the manifest."""
    path = Path(path)
    t0 = time.time()
    out = df
    partition_cols = []
    if bucket_col is not None:
        out = df.withColumn("bucket", F.pmod(F.hash(F.col(bucket_col)), F.lit(n_buckets)))
        partition_cols = ["bucket"]
    writer = out.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(str(path))

    spark = df.sparkSession
    written = spark.read.parquet(str(path))
    manifest: dict = {
        "fingerprint": fingerprint,
        "schema": written.schema.simpleString(),
        "wall_seconds": None,
        "partition_counts": {},
        "row_count": None,
        "checksum": None,
    }
    data_cols = [c for c in written.columns if c != "bucket"]
    if partition_cols:
        counts = written.groupBy("bucket").count().collect()
        manifest["partition_counts"] = {str(r["bucket"]): r["count"] for r in counts}
        manifest["row_count"] = sum(r["count"] for r in counts)
    else:
        manifest["row_count"] = written.count()
    manifest["checksum"] = content_checksum(written.select(*data_cols))
    manifest["wall_seconds"] = round(time.time() - t0, 3)
    path.mkdir(parents=True, exist_ok=True)
    (path / MANIFEST_NAME).write_text(json.dumps(manifest, indent=1, sort_keys=True))
    return manifest


def read_manifest(path: str | Path) -> dict | None:
    p = Path(path) / MANIFEST_NAME
    if not p.exists():
        return None
    try:
        return json.loads(p.read_text())
    except (json.JSONDecodeError, OSError):
        return None


def is_stage_valid(path: str | Path, fingerprint: str) -> bool:
    m = read_manifest(path)
    return m is not None and m.get("fingerprint") == fingerprint


def read_table(spark: SparkSession, path: str | Path) -> DataFrame:
    df = spark.read.parquet(str(path))
    if "bucket" in df.columns:
        df = df.drop("bucket")
    return df


def fingerprint(*parts: str) -> str:
    """Stage fingerprint: a short hash of ``parts``, each ended by a unit
    separator so ("ab", "c") and ("a", "bc") differ."""
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
        h.update(b"\x1f")
    return h.hexdigest()[:16]


def stage_runner(spark: SparkSession, result, out_dir: Path | None, resume: bool, n_buckets: int):
    """The ``stage(name, fingerprint, build, bucket_col=None)`` function of a
    pipeline run, recording each stage's frame in ``result.stages`` and its
    manifest in ``result.manifests``.

    With ``out_dir`` a stage is written with a manifest and read back; with
    ``resume``, a stage whose manifest carries the same fingerprint is read
    back without calling ``build``. Without ``out_dir`` the stage is an
    eager local checkpoint, and the frame that call returns is the one
    recorded (profilers key stages on its identity).
    """

    def stage(name: str, fingerprint: str, build, bucket_col: str | None = None) -> DataFrame:
        if out_dir is None:
            df = build().localCheckpoint(eager=True)
        else:
            p = out_dir / name
            if resume and is_stage_valid(p, fingerprint):
                result.manifests[name] = read_manifest(p) | {"resumed": True}
            else:
                result.manifests[name] = write_table(
                    build(), p, fingerprint=fingerprint, bucket_col=bucket_col,
                    n_buckets=n_buckets,
                )
            df = read_table(spark, p)
        result.stages[name] = df
        return df

    return stage


def to_ntriples(triples: DataFrame) -> DataFrame:
    """S9 — N-Triples text rendering of a (subj, pred, obj) frame
    (PhenoscapeKB.scala:406-460 exports Turtle; line-oriented N-Triples is
    the distributed-friendly equivalent: one row per statement, pure
    ``concat_ws``, trivially written with ``text`` format).

    IRIs are wrapped in angle brackets; objects that are not IRIs are
    emitted as escaped literals. IRI detection requires an *absolute* IRI
    with authority/path ("scheme://...") — a bare scheme-like prefix is NOT
    enough, because CURIE-style literal values (e.g. publication ids like
    'PMID:123') would otherwise be emitted as relative <PMID:123> terms,
    which is not round-trip-safe N-Triples. Callers with genuinely
    scheme-only IRIs (urn:, mailto:) should pre-expand them or carry an
    explicit literal marker column.
    """
    is_iri = F.col("obj").rlike("^[A-Za-z][A-Za-z0-9+.-]*://")
    # STRING_LITERAL_QUOTED escaping: backslash first, then quote and the
    # control characters the grammar forbids raw (\n \r \t)
    escaped = F.col("obj")
    for pat, rep in ((r"\\", r"\\\\"), ('"', '\\\\"'), ("\n", r"\\n"), ("\r", r"\\r"), ("\t", r"\\t")):
        escaped = F.regexp_replace(escaped, pat, rep)
    obj_term = F.when(
        is_iri, F.concat(F.lit("<"), F.col("obj"), F.lit(">"))
    ).otherwise(F.concat(F.lit('"'), escaped, F.lit('"')))
    return triples.select(
        F.concat_ws(
            " ",
            F.concat(F.lit("<"), F.col("subj"), F.lit(">")),
            F.concat(F.lit("<"), F.col("pred"), F.lit(">")),
            obj_term,
            F.lit("."),
        ).alias("value")
    )


def list_snapshots(out_path: str | Path) -> list[str]:
    """Versions under a snapshot directory (the ``v=<k>`` dirs written by
    ``streaming.run_incremental_closure``), oldest-first by batch id.

    The parquet-dir analog of an Iceberg table's snapshot log: each version
    is a complete, immutable closure state; ``_LATEST`` points at the
    current one.
    """
    root = Path(out_path)
    if not root.exists():
        return []

    def order(p: Path):
        v = p.name.split("=", 1)[1]
        return (0, int(v)) if v.isdigit() else (1, 0)

    return [str(p) for p in sorted(root.glob("v=*"), key=order)]


def read_snapshot(
    spark: SparkSession, out_path: str | Path, version: int | None = None
) -> DataFrame:
    """Time-travel read of a snapshot directory: the ``_LATEST`` pointer by
    default, or an explicit ``v=<version>``."""
    root = Path(out_path)
    if version is not None:
        target = root / f"v={version}"
        if not target.exists():
            raise FileNotFoundError(f"no snapshot v={version} under {out_path}")
        return spark.read.parquet(str(target))
    latest = root / "_LATEST"
    if not latest.exists():
        raise FileNotFoundError(f"no _LATEST pointer under {out_path}")
    return spark.read.parquet(latest.read_text().strip())
