"""Structured Streaming: incremental document ingest + stateful event ops.

The reference pipeline is batch-only (SLURM step DAG, SURVEY.md §2.10); the
engine adds the incremental path the same extraction logic supports for
free: the mention-detection `mapInPandas` stage is stateless and map-only,
so it runs unchanged under `readStream` — a new batch of documents becomes
new triples without recomputing the corpus.

Patterns demonstrated (all locally testable with `Trigger.AvailableNow`):

- **Incremental extraction sink**: `foreachBatch` writing one idempotent
  partition per micro-batch (`batch=<id>`); a retried batch overwrites its
  own partition — exactly-once at the file-sink level, the same contract
  Iceberg commits give in production.
- **Watermarked windowed aggregation**: event-time hourly rollup with late
  data bounded by the watermark.
- **Custom stateful operator** (`applyInPandasWithState`): session-gap
  detection whose open session survives across micro-batches in the state
  store.

The closure fixpoint stays batch-incremental (it is iterative; Structured
Streaming cannot express it) — new mention triples land continuously and
closure/materialize runs per checkpointed stage boundary.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from phenoscape_owl_tools_spark.operators import mention as mention_op


def read_document_stream(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of span documents (new files = new documents)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def drain(stream: DataFrame, sink, checkpoint_path: str) -> None:
    """Run ``sink`` over every micro-batch ``stream`` has now, then return
    (``Trigger.AvailableNow``; the checkpoint records what was drained)."""
    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _drive_extraction_stream(
    spark: SparkSession,
    documents_path: str,
    schema,
    dict_provider,
    predicate: str,
    out_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Shared driver for the incremental extraction sinks.

    ``dict_provider()`` is called once per micro-batch and returns the
    dictionary broadcast to extract against (pinned or refreshing — the
    ONLY difference between the two public entry points, so the
    idempotent-sink contract lives in exactly one place).

    Partition key = order-insensitive checksum of the DOCUMENT batch
    (doc_id + span content), not of the emitted triples: a re-extraction
    of the same documents — task retry, checkpoint loss, or a dictionary
    update between runs — OVERWRITES the same partition instead of
    leaving a stale sibling, so exactly one extraction per document batch
    survives and the latest dictionary wins. (Keying by triple content
    would orphan the old partition whenever a dictionary change alters
    the output.) An empty TRIPLE set for a non-empty document batch still
    writes its (empty) partition for the same reason; only empty document
    batches are skipped.

    The overwrite guarantee is exact when re-ingest groups files into the
    same batches; both public entry points therefore DEFAULT to
    ``max_files_per_trigger=1`` (batch == one file, grouping
    deterministic), which also guards checkpoint-loss re-ingest under a
    CHANGED dictionary from leaving mixed-dictionary partitions.

    KEY-FORMAT MIGRATION (r4): partition keys changed from
    triple-content to document-content checksums. An ``out_path``
    written by the pre-r4 code holds ``batch=<hex>`` directories under
    the OLD scheme that re-ingest will never overwrite — re-ingesting
    into such a path after checkpoint loss leaves the stale triple-keyed
    siblings alongside the new partitions (duplicate triples). Migrate
    by draining into a FRESH ``out_path`` (or deleting legacy
    ``batch=*`` directories first); the ingest itself cannot
    distinguish a legacy partition from a foreign writer's, so it never
    deletes directories it didn't key.
    """
    from phenoscape_owl_tools_spark.catalog import content_checksum

    docs = read_document_stream(spark, documents_path, schema, max_files_per_trigger)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)
        if batch_df.isEmpty():
            return
        key = format(content_checksum(batch_df) & 0xFFFFFFFFFFFFFFFF, "016x")
        mentions = mention_op.detect_mentions(spark, batch_df, dict_provider())
        triples = mention_op.mention_triples(mentions, predicate)
        triples.write.mode("overwrite").parquet(f"{out_path}/batch={key}")

    drain(docs, sink, checkpoint_path)


def run_incremental_ingest(
    spark: SparkSession,
    documents_path: str,
    schema,
    dictionary: DataFrame,
    predicate: str,
    out_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Drain all available document files into per-batch triple partitions.

    The dictionary broadcast is pinned at stream start (point-in-time
    extraction). Partitions are keyed by document-batch content — see
    :func:`_drive_extraction_stream` for the idempotence contract (safe
    under retry AND checkpoint loss); resume is the stream checkpoint
    (processed files are not re-read).

    ``max_files_per_trigger`` defaults to 1 (batch == one file) so batch
    grouping — and therefore the partition keys — is deterministic under
    checkpoint-loss re-ingest; raise it (or pass ``None`` for unbounded)
    only where re-ingest determinism doesn't matter and per-batch
    overhead does.
    """
    bc = mention_op.broadcast_dictionary(spark, dictionary)
    try:
        _drive_extraction_stream(
            spark, documents_path, schema, lambda: bc, predicate,
            out_path, checkpoint_path, max_files_per_trigger,
        )
    finally:
        bc.unpersist(blocking=False)


def run_incremental_ingest_live_dict(
    spark: SparkSession,
    documents_path: str,
    schema,
    dict_path: str,
    predicate: str,
    out_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int | None = 1,
    dict_cache: dict | None = None,
) -> None:
    """Streaming extraction against a MUTABLE dictionary table — the
    stream-static "slowly changing dimension" pattern.

    :func:`run_incremental_ingest` pins the dictionary at stream start;
    this variant re-reads ``dict_path`` per micro-batch so ontology
    label/synonym updates take effect on the NEXT batch without
    restarting the stream. The broadcast matcher is rebuilt only when the
    dictionary content actually changed (order-insensitive checksum — the
    catalog-resume fingerprint discipline): steady-state batches pay one
    dimension-scale checksum scan and zero rebuilds. Pass a caller-owned
    ``dict_cache`` dict to keep the broadcast warm ACROSS drain-style
    invocations (a scheduler calling this every few minutes); without
    one, the broadcast this call created is unpersisted on return.

    Documents extract against the dictionary CURRENT at their batch, not
    at their event time (standard stream-static semantics); because
    partitions are keyed by document content, a re-extraction after a
    dictionary update overwrites the stale partition rather than
    duplicating it (see :func:`_drive_extraction_stream`).
    """
    from phenoscape_owl_tools_spark.catalog import content_checksum

    cache = dict_cache if dict_cache is not None else {}
    own_cache = dict_cache is None

    def provider():
        d = spark.read.parquet(dict_path).select("surface", "iri")
        fp = content_checksum(d)
        if fp != cache.get("fp"):
            if cache.get("bc") is not None:
                cache["bc"].unpersist(blocking=False)
            cache["bc"] = mention_op.broadcast_dictionary(spark, d)
            cache["fp"] = fp
        return cache["bc"]

    try:
        _drive_extraction_stream(
            spark, documents_path, schema, provider, predicate,
            out_path, checkpoint_path, max_files_per_trigger,
        )
    finally:
        if own_cache and cache.get("bc") is not None:
            cache["bc"].unpersist(blocking=False)


def dedup_document_stream(
    documents_stream: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Streaming twin of the batch exact-dedup operator (X1): drop
    exact-content duplicates on a document stream with BOUNDED state.

    Plain ``dropDuplicates`` on a stream keeps every key forever — state
    grows with the corpus and the job eventually dies. The contract here is
    ``dropDuplicatesWithinWatermark``: a duplicate arriving within
    ``watermark`` of the first copy is dropped, and the key's state is
    evicted once the event-time watermark passes it — the right semantics
    for crawl streams, where duplicates cluster in time (recrawls, mirror
    bursts) and a full-history dedup belongs to the downstream batch
    compaction (X1) anyway.

    Keys on the same normalized content hash as the batch operator
    (sha2-256 of lowercased text) so the two stages agree on identity.
    """
    keyed = documents_stream.withColumn(
        "content_hash", F.sha2(F.lower(F.col(text_col)), 256)
    ).withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed rollup with bounded late-data state.

    ``ts`` is cast to (tz-aware) TIMESTAMP: watermarks reject
    TIMESTAMP_NTZ, and the session timezone is pinned to UTC by
    ``session.get_spark`` so the cast is deterministic.
    """
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "avg_value",
        )
    )


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.DoubleType()),
        T.StructField("session_end", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start", T.DoubleType()),
        T.StructField("last", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _sessionize_group(
    key: Tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    gap_seconds: float,
    idle_timeout: bool = False,
):
    """Per-user session-gap fold; the open session persists in ``state``
    across micro-batches (the cross-batch continuation is the point).

    State is bounded: a processing-time timeout of one gap closes and
    evicts idle users' open sessions, so state size tracks *active* users,
    not all users ever seen. Late events older than the open session's last
    timestamp fold into the current session (they cannot re-split history);
    ``session_end`` is monotone (max, never moved backwards).
    """
    (user_id,) = key
    if state.hasTimedOut:
        # idle user: flush the open session as closed and evict the state
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            [(user_id, start, last, n, True)],
            columns=["user_id", "session_start", "session_end", "n_events", "closed"],
        )
        return
    ts = sorted(t for pdf in pdfs for t in pdf["ts_sec"])
    if state.exists:
        start, last, n = state.get
    else:
        start = last = None
        n = 0
    closed = []
    for t in ts:
        if start is None:
            start, last, n = t, t, 1
        elif t - last > gap_seconds:
            closed.append((user_id, start, last, n, True))
            start, last, n = t, t, 1
        else:
            # a late event earlier than the open session's start must also
            # lower session_start: the reported span covers every folded
            # event's event-time, not just arrival order
            start, last, n = min(start, t), max(last, t), n + 1
    if start is not None:
        state.update((start, last, n))
        if idle_timeout:
            state.setTimeoutDuration(int(gap_seconds * 1000))
        open_row = [(user_id, start, last, n, False)]
    else:
        open_row = []
    yield pd.DataFrame(
        closed + open_row,
        columns=["user_id", "session_start", "session_end", "n_events", "closed"],
    )


def sessionize_stream(
    events_stream: DataFrame,
    gap_seconds: float = 1800.0,
    idle_timeout: bool = False,
) -> DataFrame:
    """Custom stateful operator: session-gap detection via
    ``applyInPandasWithState`` (update mode). Emits closed sessions as they
    close plus the current open session per user each batch.

    ``idle_timeout=True`` (long-running production streams) bounds state:
    a processing-time timeout of one gap flushes and evicts idle users'
    open sessions, so the state store tracks active users only. Leave False
    for drain-style runs (``Trigger.AvailableNow``), where a pending
    processing-time timeout would keep the drain from terminating.
    """
    with_sec = events_stream.select(
        "user_id", F.unix_timestamp("ts").cast("double").alias("ts_sec")
    )
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout if idle_timeout
        else GroupStateTimeout.NoTimeout
    )
    return with_sec.groupBy("user_id").applyInPandasWithState(
        lambda key, pdfs, state: _sessionize_group(
            key, pdfs, state, gap_seconds, idle_timeout
        ),
        SESSION_OUTPUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        timeout_conf,
    )


def sessionize_stream_event_time(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-time sessionization via the built-in ``session_window``.

    The declarative twin of :func:`sessionize_stream`: sessions are keyed by
    event time, close when the watermark passes ``gap`` beyond the last
    event, and late events within the watermark merge (and can bridge) their
    sessions — strictly event-time semantics, where the stateful operator
    above reports arrival-order folds with a processing-time idle flush.

    Prefer this form whenever plain gap semantics suffice: the session merge
    runs JVM-side in the state store (no Python worker in the loop), and the
    watermark bounds state without custom timeout plumbing. Reach for
    ``applyInPandasWithState`` only when the fold itself is custom (e.g.
    emitting still-open sessions every batch, which append-mode
    ``session_window`` cannot do).

    Output matches SESSION_OUTPUT_SCHEMA minus ``closed`` (append mode emits
    only finalized sessions).
    """
    ev = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").cast("double").alias("session_start"),
            F.unix_timestamp("w.end").cast("double").alias("session_end"),
            "n_events",
        )
    )


def run_incremental_closure(
    spark: SparkSession,
    edges_path: str,
    out_path: str,
    checkpoint_path: str,
    schema: str = "sub string, sup string",
    max_files_per_trigger: int | None = None,
) -> str:
    """Continuous closure maintenance: new edge files stream in; each
    micro-batch re-materializes the transitive closure INCREMENTALLY
    (operators.closure.incremental_closure_apply with an insert-only
    batch — cost tracks new entailments, not closure size) and writes a
    new closure version.

    Versioning: each batch writes ``{out_path}/v=<k>`` then updates the
    ``_LATEST`` pointer file — readers always load a complete snapshot
    (the parquet-dir analog of an Iceberg snapshot commit; in production
    these are table snapshots and the pointer is the catalog). Returns the
    final snapshot path.

    Write amplification: each batch rewrites the FULL closure (snapshot
    isolation with no delta files). Compute cost is incremental; write
    cost is O(closure) per batch. At closure sizes where that dominates,
    the Iceberg-backed deployment writes the batch's NEW entailments as a
    delta file into the same table (merge-on-read) and compacts on a
    schedule — the call sites here are the snapshot-mode reference
    implementation, chosen because a parquet-dir pointer swap is the
    strongest atomicity available without a table format.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _drive_closure_stream(spark, reader.parquet(edges_path), out_path, checkpoint_path)


def run_incremental_nt_closure(
    spark: SparkSession,
    nt_path: str,
    out_path: str,
    checkpoint_path: str,
    edge_pred: str = "http://www.w3.org/2000/01/rdf-schema#subClassOf",
    max_files_per_trigger: int | None = None,
) -> str:
    """Continuous closure maintenance fed by raw N-Triples dumps: drop
    ``.nt`` files into ``nt_path`` and each micro-batch parses them with
    the SAME stateless column expressions as the batch reader
    (``sources.ttl.parse_ntriples_lines`` — regexp column work, streaming-
    safe), filters ``edge_pred`` statements to (sub, sup) edges, and
    maintains the closure incrementally with versioned snapshots + the
    atomic ``_LATEST`` pointer. The end-to-end continuous-ingest shape: an
    upstream exporter appends triple dumps; the closure follows without
    recomputes."""
    from phenoscape_owl_tools_spark.sources.ttl import parse_ntriples_lines

    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    edges = (
        parse_ntriples_lines(reader.text(nt_path))
        .where(F.col("pred") == edge_pred)
        .select(F.col("subj").alias("sub"), F.col("obj").alias("sup"))
    )
    return _drive_closure_stream(spark, edges, out_path, checkpoint_path)


def _drive_closure_stream(
    spark: SparkSession, edges: DataFrame, out_path: str, checkpoint_path: str,
) -> str:
    """Drain the ``edges(sub, sup)`` stream, folding each micro-batch into
    the closure snapshot that ``_LATEST`` points at; returns the final
    snapshot path."""
    import os

    from phenoscape_owl_tools_spark.operators.closure import (
        incremental_closure_apply,
    )

    latest_file = os.path.join(out_path, "_LATEST")

    def commit(version_path: str) -> None:
        tmp = latest_file + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(version_path)
        os.replace(tmp, latest_file)  # atomic pointer swap

    def current_closure():
        if os.path.exists(latest_file):
            with open(latest_file) as fh:
                return spark.read.parquet(fh.read().strip())
        return spark.createDataFrame([], "sub string, sup string")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.dropDuplicates().localCheckpoint(eager=True)
        if batch_df.isEmpty():
            return
        # insert-only batch: a closure is its own asserted base
        current = current_closure()
        updated = incremental_closure_apply(current, current, batch_df.limit(0), batch_df)
        version_path = os.path.join(out_path, f"v={batch_id}")
        updated.write.mode("overwrite").parquet(version_path)
        commit(version_path)

    drain(edges, sink, checkpoint_path)
    if not os.path.exists(latest_file):
        # legitimate 'nothing ingested yet': commit an empty snapshot so
        # callers always get a readable closure path
        version_path = os.path.join(out_path, "v=empty")
        spark.createDataFrame([], "sub string, sup string").write.mode(
            "overwrite"
        ).parquet(version_path)
        commit(version_path)
    with open(latest_file) as fh:
        return fh.read().strip()
