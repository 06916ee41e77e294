"""Structured Streaming: incremental extraction equals batch extraction;
watermarked windowed rollup; cross-batch stateful sessionization."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from phenoscape_owl_tools_spark.operators import mention as mention_op
from phenoscape_owl_tools_spark.sources import tpch_kg as KG
from phenoscape_owl_tools_spark.streaming import ingest

from tests.conftest import SF001


def test_incremental_ingest_equals_batch(spark, tmp_path):
    flat = KG.load(spark, SF001, "documents")
    spans = KG.span_documents(flat)
    dictionary = KG.terms(flat).select(F.col("label").alias("surface"), "iri")

    # two file chunks = at least two discoverable input files
    in_dir = tmp_path / "docs_in"
    spans.where(F.col("doc_id").cast("long") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))
    spans.where(F.col("doc_id").cast("long") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))

    out = tmp_path / "triples_out"
    ingest.run_incremental_ingest(
        spark, str(in_dir), spans.schema, dictionary, "mentions",
        str(out), str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    got = spark.read.parquet(str(out)).select("subj", "pred", "obj").dropDuplicates()
    batch = mention_op.mention_triples(
        mention_op.detect_mentions(spark, spans, dictionary), "mentions"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
    # checkpoint resume: rerunning with no new files adds nothing
    ingest.run_incremental_ingest(
        spark, str(in_dir), spans.schema, dictionary, "mentions",
        str(out), str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    again = spark.read.parquet(str(out)).select("subj", "pred", "obj").dropDuplicates()
    assert again.count() == got.count()


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    events = KG.load(spark, SF001, "events")
    in_dir = tmp_path / "ev_in"
    events.coalesce(2).write.mode("overwrite").parquet(str(in_dir))

    stream = spark.readStream.schema(events.schema).parquet(str(in_dir))
    q = (
        ingest.windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("ev_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["hour"], r["event_type"]): (r["n"], r["avg_value"])
        for r in spark.sql("SELECT * FROM ev_counts").collect()
    }
    expect = {
        (r["hour"], r["event_type"]): (r["n"], r["avg_value"])
        for r in events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        ).agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value")).collect()
    }
    # watermark closes all but possibly the trailing window(s); everything
    # emitted must match batch exactly and cover most windows
    assert got
    for k, v in got.items():
        assert expect[k] == v
    assert len(got) >= len(expect) - 4


def test_sessionize_stream_state_spans_batches(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, minutes, user=1):
        return Row(event_id=i, ts=base + dt.timedelta(minutes=minutes), user_id=user,
                   event_type="click", value=1.0, props="{}")

    # chunk 1: session A (0, 10 min), still open at chunk end
    # chunk 2: 15 min (continues A), then 120 min -> closes A, opens B
    chunk1 = [ev(0, 0), ev(1, 10)]
    chunk2 = [ev(2, 15), ev(3, 120)]
    in_dir = tmp_path / "sess_in"
    spark.createDataFrame(chunk1).coalesce(1).write.mode("append").parquet(str(in_dir))
    spark.createDataFrame(chunk2).coalesce(1).write.mode("append").parquet(str(in_dir))

    stream = (
        spark.readStream.schema(spark.createDataFrame(chunk1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        ingest.sessionize_stream(stream, gap_seconds=1800.0)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM sessions").collect()
    closed = [r for r in rows if r["closed"]]
    # exactly one closed session: started at 0, last event at minute 15
    # (3 events, crossing the micro-batch boundary), closed by the 120-min event
    assert len(closed) == 1
    c = closed[0]
    assert c["n_events"] == 3
    assert c["session_end"] - c["session_start"] == pytest.approx(15 * 60.0)
    # the open session B (the 120-min event) was reported as open
    opens = [r for r in rows if not r["closed"] and r["n_events"] == 1]
    assert any(r["session_start"] == r["session_end"] for r in opens)


def test_sessionize_event_time_matches_stateful(spark, tmp_path):
    """session_window (event-time) agrees with the custom stateful operator
    on closed sessions, and merges late events into the right session."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, minutes, user=1):
        return Row(event_id=i, ts=base + dt.timedelta(minutes=minutes), user_id=user,
                   event_type="click", value=1.0, props="{}")

    # user 1: session [0,15] (3 events), then lone event at 120
    # user 2: late-arriving 5-min event lands AFTER the 12-min event in file
    #   order but must merge into the same event-time session [5,12]
    chunk1 = [ev(0, 0), ev(1, 10), ev(4, 12, user=2)]
    chunk2 = [ev(2, 15), ev(5, 5, user=2), ev(3, 120)]
    in_dir = tmp_path / "sw_in"
    spark.createDataFrame(chunk1).coalesce(1).write.mode("append").parquet(str(in_dir))
    spark.createDataFrame(chunk2).coalesce(1).write.mode("append").parquet(str(in_dir))

    stream = (
        spark.readStream.schema(spark.createDataFrame(chunk1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        ingest.sessionize_stream_event_time(stream, gap="30 minutes",
                                            watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("sw_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM sw_sessions").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1's first session closed with 3 events spanning [0, 15] + gap end
    u1 = sorted(by_user.get(1, []), key=lambda r: r["session_start"])
    assert u1 and u1[0]["n_events"] == 3
    assert u1[0]["session_start"] == base.replace(tzinfo=dt.timezone.utc).timestamp()
    # user 2's two out-of-order events merged into ONE session of 2 events
    u2 = by_user.get(2, [])
    assert len(u2) == 1 and u2[0]["n_events"] == 2


def test_incremental_closure_stream_matches_batch(spark, tmp_path):
    """Two micro-batches of edges; the final streamed closure snapshot
    equals a from-scratch transitive_closure over all edges."""
    from phenoscape_owl_tools_spark.operators import closure as closure_ops

    b1 = [("a", "b"), ("b", "c")]
    b2 = [("c", "d"), ("x", "y")]
    in_dir = tmp_path / "edges_in"
    spark.createDataFrame(b1, ["sub", "sup"]).coalesce(1).write.mode("append").parquet(str(in_dir))
    spark.createDataFrame(b2, ["sub", "sup"]).coalesce(1).write.mode("append").parquet(str(in_dir))

    final = ingest.run_incremental_closure(
        spark,
        str(in_dir),
        str(tmp_path / "closure_out"),
        str(tmp_path / "closure_ckpt"),
        max_files_per_trigger=1,
    )
    got = {tuple(r) for r in spark.read.parquet(final).collect()}
    full = closure_ops.transitive_closure(
        spark.createDataFrame(b1 + b2, ["sub", "sup"])
    )
    assert got == {tuple(r) for r in full.collect()}
    assert ("a", "d") in got  # closed across the two batches


def test_snapshot_time_travel(spark, tmp_path):
    """Each micro-batch leaves an immutable snapshot; older versions stay
    readable after later batches land (time travel)."""
    from phenoscape_owl_tools_spark import catalog

    b1 = [("a", "b")]
    b2 = [("b", "c")]
    in_dir = tmp_path / "tt_in"
    spark.createDataFrame(b1, ["sub", "sup"]).coalesce(1).write.mode("append").parquet(str(in_dir))
    spark.createDataFrame(b2, ["sub", "sup"]).coalesce(1).write.mode("append").parquet(str(in_dir))
    out = tmp_path / "tt_out"
    ingest.run_incremental_closure(
        spark, str(in_dir), str(out), str(tmp_path / "tt_ckpt"),
        max_files_per_trigger=1,
    )
    versions = catalog.list_snapshots(out)
    assert len(versions) == 2
    latest = {tuple(r) for r in catalog.read_snapshot(spark, out).collect()}
    first_v = int(versions[0].rsplit("=", 1)[1])
    v0 = {tuple(r) for r in catalog.read_snapshot(spark, out, version=first_v).collect()}
    assert latest == {("a", "b"), ("b", "c"), ("a", "c")}
    assert v0 == {("a", "b")}  # the pre-batch-2 state is still readable


def test_incremental_nt_closure_stream(spark, tmp_path):
    """Drop raw .nt dumps into a directory; the streamed closure equals the
    from-scratch closure of all subclass statements, across two runs
    (second run ingests only the newly-arrived file; non-edge and comment
    lines are ignored)."""
    from phenoscape_owl_tools_spark.operators import closure as closure_op

    RDFS_SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    nt_dir = tmp_path / "nt_in"
    nt_dir.mkdir()
    (nt_dir / "batch1.nt").write_text(
        "# ontology dump chunk 1\n"
        f"<http://x/a> <{RDFS_SUB}> <http://x/b> .\n"
        f"<http://x/b> <{RDFS_SUB}> <http://x/c> .\n"
        '<http://x/a> <http://x/label> "not an edge" .\n'
    )
    out, ckpt = tmp_path / "closure_out", tmp_path / "nt_ckpt"
    final = ingest.run_incremental_nt_closure(
        spark, str(nt_dir), str(out), str(ckpt)
    )
    got1 = {tuple(r) for r in spark.read.parquet(final).collect()}
    assert got1 == {
        ("http://x/a", "http://x/b"),
        ("http://x/b", "http://x/c"),
        ("http://x/a", "http://x/c"),
    }
    # second dump arrives; only the delta is processed (checkpointed source)
    (nt_dir / "batch2.nt").write_text(
        f"<http://x/c> <{RDFS_SUB}> <http://x/d> .\n"
    )
    final2 = ingest.run_incremental_nt_closure(
        spark, str(nt_dir), str(out), str(ckpt)
    )
    got2 = {tuple(r) for r in spark.read.parquet(final2).collect()}
    scratch = closure_op.transitive_closure(
        spark.createDataFrame(
            [("http://x/a", "http://x/b"), ("http://x/b", "http://x/c"),
             ("http://x/c", "http://x/d")],
            ["sub", "sup"],
        )
    )
    assert got2 == {tuple(r) for r in scratch.collect()}


def test_dedup_document_stream_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate arriving in a LATER
    micro-batch within the watermark is dropped (state spans batches);
    distinct content always survives; the key matches batch X1's
    fingerprint (sha2 of lowercased text)."""
    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def doc(i, minutes, text):
        return Row(doc_id=i, ts=base + dt.timedelta(minutes=minutes), text=text)

    chunk1 = [doc(1, 0, "alpha beta gamma"), doc(2, 5, "delta epsilon")]
    chunk2 = [doc(3, 30, "ALPHA BETA GAMMA"),  # dup of 1 (case-insensitive)
              doc(4, 31, "zeta eta theta")]
    in_dir = tmp_path / "dd_in"
    spark.createDataFrame(chunk1).coalesce(1).write.mode("append").parquet(str(in_dir))
    spark.createDataFrame(chunk2).coalesce(1).write.mode("append").parquet(str(in_dir))

    stream = (
        spark.readStream.schema(spark.createDataFrame(chunk1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        ingest.dedup_document_stream(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dd_docs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT doc_id FROM dd_docs").collect()
    got = sorted(r["doc_id"] for r in rows)
    assert got == [1, 2, 4], got


def test_live_dictionary_updates_apply_to_next_batch(spark, tmp_path):
    """Stream-static dimension refresh: a dictionary update lands on the
    following micro-batch; earlier batches' partitions stay as extracted."""
    flat = KG.load(spark, SF001, "documents")
    spans = KG.span_documents(flat)
    full_dict = KG.terms(flat).select(F.col("label").alias("surface"), "iri")

    # v1 drops one surface that demonstrably occurs in the corpus
    some = (
        mention_op.detect_mentions(spark, spans, full_dict)
        .groupBy("term").count().orderBy("count").limit(1).collect()
    )
    held_out = some[0]["term"]
    dict_dir = tmp_path / "dict"
    v1 = full_dict.where(F.col("iri") != held_out)
    v1.coalesce(1).write.mode("overwrite").parquet(str(dict_dir))

    chunk1 = spans.where(F.col("doc_id").cast("long") % 2 == 0)
    chunk2 = spans.where(F.col("doc_id").cast("long") % 2 == 1)
    in_dir = tmp_path / "docs_in"
    chunk1.coalesce(1).write.mode("append").parquet(str(in_dir))

    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    ingest.run_incremental_ingest_live_dict(
        spark, str(in_dir), spans.schema, str(dict_dir), "mentions",
        str(out), str(ckpt),
    )
    got1 = spark.read.parquet(str(out)).select("subj", "pred", "obj").dropDuplicates()
    assert got1.where(F.col("obj") == held_out).count() == 0  # v1 in force

    # dictionary update + new documents: only the NEW batch sees v2
    full_dict.coalesce(1).write.mode("overwrite").parquet(str(dict_dir))
    chunk2.coalesce(1).write.mode("append").parquet(str(in_dir))
    ingest.run_incremental_ingest_live_dict(
        spark, str(in_dir), spans.schema, str(dict_dir), "mentions",
        str(out), str(ckpt),
    )
    got2 = spark.read.parquet(str(out)).select("subj", "pred", "obj").dropDuplicates()

    def batch(docs, d):
        return mention_op.mention_triples(
            mention_op.detect_mentions(spark, docs, d), "mentions"
        )

    expect = batch(chunk1, v1).union(batch(chunk2, full_dict)).dropDuplicates()
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, expect.collect()))
    # the held-out term appears, and only from odd (chunk2) docs
    held_rows = got2.where(F.col("obj") == held_out).select("subj").collect()
    assert held_rows and all(int(r["subj"].rsplit("/", 1)[-1]) % 2 == 1 for r in held_rows)


def test_checkpoint_loss_with_dict_update_overwrites_not_duplicates(spark, tmp_path):
    """Document-content partition keys: losing the checkpoint AND updating
    the dictionary re-extracts into the SAME partitions — no stale
    mixed-dictionary siblings survive."""
    flat = KG.load(spark, SF001, "documents")
    spans = KG.span_documents(flat)
    full_dict = KG.terms(flat).select(F.col("label").alias("surface"), "iri")
    held_out = (
        mention_op.detect_mentions(spark, spans, full_dict)
        .groupBy("term").count().orderBy("count", "term").limit(1).collect()
    )[0]["term"]
    v1 = full_dict.where(F.col("iri") != held_out)

    in_dir, dict_dir = tmp_path / "docs_in", tmp_path / "dict"
    spans.coalesce(1).write.mode("append").parquet(str(in_dir))
    v1.coalesce(1).write.mode("overwrite").parquet(str(dict_dir))
    out = tmp_path / "out"

    ingest.run_incremental_ingest_live_dict(
        spark, str(in_dir), spans.schema, str(dict_dir), "mentions",
        str(out), str(tmp_path / "ckpt1"), max_files_per_trigger=1,
    )
    # checkpoint lost + dictionary updated: fresh checkpoint reprocesses
    # every file against v2 and must overwrite, not append alongside
    full_dict.coalesce(1).write.mode("overwrite").parquet(str(dict_dir))
    ingest.run_incremental_ingest_live_dict(
        spark, str(in_dir), spans.schema, str(dict_dir), "mentions",
        str(out), str(tmp_path / "ckpt2"), max_files_per_trigger=1,
    )
    got = spark.read.parquet(str(out)).select("subj", "pred", "obj")
    expect = mention_op.mention_triples(
        mention_op.detect_mentions(spark, spans, full_dict), "mentions"
    )
    # exact multiset equality WITHOUT dropDuplicates: stale v1 partitions
    # would surface as missing held-out triples or extra duplicates
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
    assert got.where(F.col("obj") == held_out).count() > 0


# ------------------- streaming corpus funnel (r5: batch-twin equality)


def _corpus_fixture_rows():
    """Deterministic corpus with planted gate-failers, cross-batch exact
    duplicates, and benchmark-contaminated docs. doc_ids are zero-padded
    so arrival order == id order (the documented keeper contract)."""
    rows = []
    for i in range(24):
        did = f"d{i:03d}"
        if i % 8 == 5:
            text = "spam spam spam spam spam spam spam spam"  # repetitive
        elif i % 8 == 6:
            text = f"the quick brown fox document {i} jumps high"
        elif i % 7 == 3:
            # exact duplicate of a SMALLER id in a possibly different file
            text = f"shared content block alpha beta gamma {i % 2}"
        elif i % 11 == 4:
            text = "benchmark question about ontologies and axioms here"
        else:
            text = f"unique document {i} with ordinary prose content body"
        rows.append(Row(doc_id=did, lang="en" if i % 3 else "de",
                        source="s1", text=text))
    return rows


def test_streaming_corpus_funnel_equals_batch(spark, tmp_path):
    from phenoscape_owl_tools_spark.plans import corpus_build
    from phenoscape_owl_tools_spark.streaming import corpus as scorpus

    rows = _corpus_fixture_rows()
    docs = spark.createDataFrame(rows)
    bench = spark.createDataFrame(
        [Row(doc_id="b1", text="benchmark question about ontologies and axioms here")]
    )
    cfg = corpus_build.CorpusConfig(
        min_quality=0.05, max_dup_word_frac=0.5,
        lsh_threshold=None,  # the streamable-prefix batch twin
    )

    # batch twin: gates -> exact dedup -> decontaminate -> kept ids
    batch = corpus_build.run(spark, docs, benchmark=bench, config=cfg)
    batch_kept = {r["doc_id"] for r in batch.corpus.select("doc_id").collect()}

    # stream: three files in doc_id order, one batch per file
    in_dir = tmp_path / "corpus_in"
    for lo, hi in ((0, 8), (8, 16), (16, 24)):
        spark.createDataFrame(rows[lo:hi]).coalesce(1).write.mode(
            "append"
        ).parquet(str(in_dir))
    out = tmp_path / "corpus_out"
    scorpus.run_streaming_corpus(
        spark, str(in_dir), docs.schema, str(out), str(tmp_path / "ck"),
        benchmark=bench, config=cfg,
    )
    stream_kept = {r["doc_id"]
                   for r in scorpus.streaming_kept_ids(spark, str(out)).collect()}
    assert stream_kept == batch_kept
    # sanity: the funnel actually exercised every stage
    dec = scorpus.read_corpus_decisions(spark, str(out))
    assert dec.where("NOT gate_pass").count() > 0
    assert dec.where("gate_pass AND NOT exact_keeper").count() > 0
    assert dec.where("contaminated").count() > 0

    # a manifest per micro-batch, each carrying rows + checksum
    from phenoscape_owl_tools_spark import catalog as cat
    batch_dirs = sorted((out / "decisions").glob("batch=*"))
    assert len(batch_dirs) >= 3
    for d in batch_dirs:
        m = cat.read_manifest(d)
        assert m and m["row_count"] > 0 and m["checksum"] is not None

    # replay after checkpoint loss: decisions are id-compared, so a full
    # re-drain with a fresh checkpoint overwrites, never flips, decisions
    scorpus.run_streaming_corpus(
        spark, str(in_dir), docs.schema, str(out), str(tmp_path / "ck2"),
        benchmark=bench, config=cfg,
    )
    again = {r["doc_id"]
             for r in scorpus.streaming_kept_ids(spark, str(out)).collect()}
    assert again == stream_kept


def test_streaming_corpus_all_digit_batch_key_keeps_prior_keepers(spark, tmp_path):
    """A batch key made only of digits must still read as a string. Inferred
    as a long, comparing it with the next batch's hex key either failed the
    batch (ANSI casts) or dropped every prior keeper (non-ANSI), so a later
    duplicate with a larger id was kept."""
    import hashlib

    from phenoscape_owl_tools_spark import catalog
    from phenoscape_owl_tools_spark.plans import corpus_build
    from phenoscape_owl_tools_spark.streaming import corpus as scorpus

    text = "shared content block alpha beta gamma 0"
    digits = "0123456789012345"
    out = tmp_path / "corpus_out"
    prior = spark.createDataFrame(
        [("a000", hashlib.sha256(text.encode()).hexdigest(), True, True, False, True)],
        "doc_id string, content_hash string, gate_pass boolean, "
        "exact_keeper boolean, contaminated boolean, kept boolean",
    )
    catalog.write_table(prior, out / scorpus.DECISIONS / f"batch={digits}", fingerprint=digits)

    docs = spark.createDataFrame([
        Row(doc_id="d001", lang="en", source="s1", text=text),
        Row(doc_id="d002", lang="en", source="s1",
            text="unique document 2 with ordinary prose content body"),
    ])
    in_dir = tmp_path / "corpus_in"
    docs.coalesce(1).write.parquet(str(in_dir))
    cfg = corpus_build.CorpusConfig(
        min_quality=0.05, max_dup_word_frac=0.5, lsh_threshold=None
    )
    scorpus.run_streaming_corpus(
        spark, str(in_dir), docs.schema, str(out), str(tmp_path / "ck"), config=cfg
    )
    kept = {r["doc_id"] for r in scorpus.streaming_kept_ids(spark, str(out)).collect()}
    assert kept == {"a000", "d002"}
    batches = {r["batch"] for r in scorpus.read_corpus_decisions(spark, str(out))
               .select("batch").distinct().collect()}
    assert digits in batches and len(batches) == 2
