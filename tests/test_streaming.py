"""Structured Streaming: stream==batch equivalence, duplicate-turn policy,
watermarked window rollup (SURVEY.md §2.9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfcmap_spark.schemas import TRANSCRIPTS
from rdfcmap_spark.streaming.stream import (
    _stream_raw_triples,
    streaming_hourly_rollup,
    streaming_triples,
    streaming_turn_dedup,
)
from rdfcmap_spark.plans.pipeline import linked_sentences
from rdfcmap_spark.synth import transcripts_df

KEY = ["subj", "pred", "obj_kind", "obj_iri", "obj_lexical", "obj_datatype"]


def _run_stream(spark, stream_df, name):
    q = stream_df.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def _complete_stream(spark, stream_df, name):
    q = stream_df.writeStream.format("memory").queryName(name).outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


@pytest.fixture(scope="module")
def transcripts_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_in"))
    transcripts_df(spark, n_convs=6, turns_per_conv=5).write.mode("overwrite").parquet(d)
    return d


def test_stream_triples_equal_batch(spark, transcripts_dir):
    stream = spark.readStream.schema(TRANSCRIPTS).parquet(transcripts_dir)
    got = _run_stream(spark, streaming_triples(stream), "t_stream_triples")
    batch = _stream_raw_triples(linked_sentences(spark.read.parquet(transcripts_dir)))
    assert {tuple(r) for r in got.select(*KEY).distinct().collect()} == {
        tuple(r) for r in batch.select(*KEY).distinct().collect()
    }
    assert got.count() > 0


def test_duplicate_turn_delivery_dropped(spark, tmp_path):
    d = str(tmp_path / "dup_in")
    t = transcripts_df(spark, n_convs=3, turns_per_conv=4)
    t.write.mode("overwrite").parquet(d)
    # re-deliver every turn a second time (new files, same logical rows)
    t.write.mode("append").parquet(d)
    assert spark.read.parquet(d).count() == 24
    stream = spark.readStream.schema(TRANSCRIPTS).parquet(d)
    got = _run_stream(spark, streaming_turn_dedup(stream), "t_dedup")
    assert got.count() == 12
    assert got.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count() == 0


def test_streaming_hourly_rollup_matches_batch(spark, tmp_path):
    d = str(tmp_path / "ev_in")
    events = spark.range(200).select(
        F.col("id").alias("event_id"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + (F.col("id") * 97).cast("int").cast("string").cast("interval second")).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.when(F.col("id") % 2 == 0, "click").otherwise("view").alias("event_type"),
        (F.col("id") % 50 / 7.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    events.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    got = _complete_stream(spark, streaming_hourly_rollup(stream), "t_rollup")
    batch = (
        spark.read.parquet(d)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value"), 2).cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in batch.collect()}


def test_streaming_compaction_equals_batch(spark, tmp_path):
    """Continuous-ingest lambda: stream -> landing zones -> compaction must
    reproduce the batch pipeline's canonical triples EXACTLY (all 8 columns),
    incrementally across two deliveries, and re-compaction is idempotent."""
    from rdfcmap_spark.plans.pipeline import run_pipeline
    from rdfcmap_spark.sources import sink
    from rdfcmap_spark.streaming import compact as C

    t = transcripts_df(spark, n_convs=6, turns_per_conv=4)
    in_dir = str(tmp_path / "in")
    wd = str(tmp_path / "wd")
    # first delivery: half the conversations
    t.filter(F.col("conv_id") < "conv-000003").write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(TRANSCRIPTS).parquet(in_dir)
    queries = C.start_landing(stream, wd)
    for q in queries:
        q.processAllAvailable()
    mid = C.compact(spark, wd)
    assert mid.count() > 0
    # second delivery: the rest arrives later
    t.filter(F.col("conv_id") >= "conv-000003").write.mode("append").parquet(in_dir)
    for q in queries:
        q.processAllAvailable()
        q.stop()
    final = C.compact(spark, wd)
    batch = run_pipeline(t.localCheckpoint()).triples
    assert {tuple(r) for r in final.collect()} == {tuple(r) for r in batch.collect()}
    # idempotence: compacting again without new landings -> same snapshot id
    import json, os

    with open(os.path.join(wd, C.SNAPSHOT_DIR, sink.MANIFEST)) as f:
        sid1 = json.load(f)["snapshot_id"]
    C.compact(spark, wd)
    with open(os.path.join(wd, C.SNAPSHOT_DIR, sink.MANIFEST)) as f:
        sid2 = json.load(f)["snapshot_id"]
    assert sid1 == sid2


def test_incremental_compaction_equals_full_and_batch(spark, tmp_path):
    """compact_incremental across two deliveries must produce the SAME
    snapshot as the batch pipeline over all transcripts (and therefore as
    full compact) — including a cross-delivery identity merge where the
    second delivery's entities join components formed by the first. Also:
    a no-new-landings cycle is a snapshot no-op."""
    import json
    import os

    from rdfcmap_spark.plans.pipeline import run_pipeline
    from rdfcmap_spark.sources import sink
    from rdfcmap_spark.streaming import compact as C

    t = transcripts_df(spark, n_convs=6, turns_per_conv=4)
    in_dir = str(tmp_path / "in")
    wd = str(tmp_path / "wd")
    t.filter(F.col("conv_id") < "conv-000003").write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(TRANSCRIPTS).parquet(in_dir)
    queries = C.start_landing(stream, wd)
    for q in queries:
        q.processAllAvailable()
    mid = C.compact_incremental(spark, wd)
    assert mid.count() > 0
    state1 = json.load(open(os.path.join(wd, C.STATE_FILE)))
    assert state1["processed"][C.RAW_DIR]  # files recorded
    t.filter(F.col("conv_id") >= "conv-000003").write.mode("append").parquet(in_dir)
    for q in queries:
        q.processAllAvailable()
        q.stop()
    final = C.compact_incremental(spark, wd)
    batch = run_pipeline(t.localCheckpoint()).triples
    assert {tuple(r) for r in final.collect()} == {tuple(r) for r in batch.collect()}
    # the persisted mapping equals the full-recompute CC mapping
    from rdfcmap_spark.operators import canonicalize
    from rdfcmap_spark.streaming.stream import streaming_identity_observations  # noqa: F401

    sameas = spark.read.parquet(os.path.join(wd, C.SAMEAS_DIR)).select("a", "b")
    idents = spark.read.parquet(os.path.join(wd, C.IDENTS_DIR)).select(
        "entity_id", "value"
    )
    full_map = canonicalize.connected_components(
        canonicalize.identity_edges(sameas, idents)
    )
    inc_map = spark.read.parquet(os.path.join(wd, C.MAPPING_DIR))
    assert sorted(map(tuple, inc_map.collect())) == sorted(
        map(tuple, full_map.collect())
    )
    # no-op cycle: same snapshot id
    with open(os.path.join(wd, C.SNAPSHOT_DIR, sink.MANIFEST)) as f:
        sid1 = json.load(f)["snapshot_id"]
    C.compact_incremental(spark, wd)
    with open(os.path.join(wd, C.SNAPSHOT_DIR, sink.MANIFEST)) as f:
        sid2 = json.load(f)["snapshot_id"]
    assert sid1 == sid2


def test_streaming_nquads_sink_lines_equal_batch(spark, transcripts_dir, tmp_path):
    """The N-Quads line renderer is a pure projection, so it composes onto
    the triple stream (continuous lineage-preserving export): the streamed
    line set must equal rendering the batch triples."""
    from rdfcmap_spark.sources.nquads import quad_line_col

    stream = spark.readStream.schema(TRANSCRIPTS).parquet(transcripts_dir)
    lines = streaming_triples(stream).select(quad_line_col().alias("line"))
    got = _run_stream(spark, lines, "t_nq_stream")
    batch = (
        _stream_raw_triples(linked_sentences(spark.read.parquet(transcripts_dir)))
        .select(quad_line_col().alias("line"))
    )
    assert {r["line"] for r in got.collect()} == {r["line"] for r in batch.collect()}
    assert got.count() > 0


def test_streaming_conv_stats_matches_batch(spark, transcripts_dir):
    """Session-windowed conversation stats == the batch conv_stats integer
    columns once every conversation's session closes (fixture turns sit
    well inside one gap per conversation)."""
    from rdfcmap_spark.operators.transcripts import conv_stats
    from rdfcmap_spark.streaming.stream import streaming_conv_stats

    stream = spark.readStream.schema(TRANSCRIPTS).parquet(transcripts_dir)
    got = _complete_stream(spark, streaming_conv_stats(stream), "t_conv_stats")
    cols = ["conv_id", "n_turns", "n_user", "n_assistant", "n_tool_calls", "total_chars"]
    batch = conv_stats(spark.read.parquet(transcripts_dir)).select(*cols)
    assert {tuple(r) for r in got.select(*cols).collect()} == {
        tuple(r) for r in batch.collect()
    }
    # one closed session per conversation, spanning its first..last turn
    assert got.groupBy("conv_id").count().filter(F.col("count") > 1).count() == 0
    one = got.limit(1).collect()[0]
    assert one["session_end"] > one["session_start"]


def test_streaming_chunking_equals_batch(spark, tmp_path):
    """chunk_documents is a pure stateless projection, so it composes onto
    a document stream unchanged and the streamed chunk set equals the
    batch one (continuous-ingest RAG chunking)."""
    from rdfcmap_spark.operators.traindata import chunk_documents

    d = str(tmp_path / "docs_in")
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20 + i))) for i in range(8)],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    got = _run_stream(spark, chunk_documents(stream, window=8, overlap=2), "t_stream_chunks")
    want = chunk_documents(spark.read.parquet(d), window=8, overlap=2)
    key = ["doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text"]
    assert {tuple(r) for r in got.select(*key).collect()} == {
        tuple(r) for r in want.select(*key).collect()
    }
