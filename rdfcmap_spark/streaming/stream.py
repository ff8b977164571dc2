"""Structured Streaming variants of the pipeline (SURVEY.md §2.9).

The reference is a single-shot CLI with no streaming; the north rule is
batch at 10^12-turn scale. These operators exist because a transcript KG at
that scale is fed *continuously*: the same extraction plan runs over
``readStream`` unchanged (Catalyst treats it as an incremental query), and
late/duplicate turns are governed by watermarks + deterministic IDs +
dropDuplicates — exactly the invariants the batch pipeline already has.

* :func:`streaming_triples` — transcripts stream -> per-microbatch triple
  extraction (stateless: extraction/linking/minting are pure row maps +
  broadcast probes; canonicalization stays a batch/compaction job, the
  standard lambda split for CC at scale);
* :func:`streaming_turn_dedup` — watermarked dropDuplicates on
  (conv_id, turn_idx) — the late/duplicate-turn policy;
* :func:`streaming_hourly_rollup` — watermarked tumbling window over
  events (the streaming twin of relational.hourly_event_rollup).

Tests drive these with a memory sink + processAllAvailable (no wall-clock
dependence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfcmap_spark.plans.pipeline import identity_rows, linked_sentences, split_identity_rows


def streaming_turn_dedup(transcripts_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop duplicate (conv_id, turn_idx) deliveries within the watermark —
    deterministic IDs make re-delivered turns byte-identical, so 'first
    wins' is exact, not approximate. ``dropDuplicatesWithinWatermark`` (not
    plain dropDuplicates) so the dedup state store is GC'd as the watermark
    advances — unbounded state would OOM a 10^12-turn stream."""
    # parquet TIMESTAMP_NTZ -> TIMESTAMP (watermarks require an instant
    # type; session timezone is pinned UTC so the wall-clock is unchanged)
    return (
        transcripts_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )


def streaming_triples(transcripts_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stream -> raw triples (pre-canonicalization). The whole plan is
    stateless map-side work (split/regex/broadcast-probe/uuid3 + the one
    array explode), so Spark runs it per microbatch with no state store;
    dedup + CC run as the periodic batch compaction over the sink table
    (:mod:`rdfcmap_spark.streaming.compact`)."""
    deduped = streaming_turn_dedup(transcripts_stream, watermark)
    sent = linked_sentences(deduped)
    return _stream_raw_triples(sent)


def _stream_raw_triples(sent: DataFrame) -> DataFrame:
    """Per-sentence triple families — the SAME single-scan emission the
    batch pipeline uses (`assembly.sentence_triples`), which is stateless
    and therefore streaming-legal; per-mention entity triples collapse to
    the batch set under the compaction's set-semantics aggregate because
    every minted ID is deterministic."""
    from rdfcmap_spark.operators import assembly

    return assembly.sentence_triples(sent)


def streaming_identity_observations(
    transcripts_stream: DataFrame, watermark: str = "1 hour"
) -> tuple[DataFrame, DataFrame]:
    """(sameas(a, b), idents(entity_id, value)) observation streams — the
    raw inputs of canonicalization, landed append-only; the hub-star
    construction and the union-find run in the batch compaction (streaming
    them would need an unbounded state store)."""
    sent = linked_sentences(streaming_turn_dedup(transcripts_stream, watermark))
    return split_identity_rows(identity_rows(sent))


def streaming_hourly_rollup(events_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregate — late events inside the
    watermark update their window; beyond it they're dropped (documented
    late-data policy)."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value"), 2).cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n", "value_sum")
    )


def streaming_conv_stats(
    transcripts_stream: DataFrame,
    watermark: str = "2 hours",
    gap: str = "30 minutes",
) -> DataFrame:
    """Conversation-level stats over the live turn stream — the streaming
    twin of :func:`rdfcmap_spark.operators.transcripts.conv_stats`.

    A conversation on an infinite stream has no natural end, so the
    grouping key is (conv_id, **session window**): a conversation closes
    after ``gap`` of inactivity, and its stats row is emitted once the
    watermark passes the session end. State per open conversation is one
    stats accumulator; closed sessions are GC'd with the watermark — the
    state store stays bounded by the number of conversations ACTIVE inside
    the watermark, not by stream history (the 10^12-turn requirement).

    Output adds session_start/session_end (the wall-clock conversation
    span) to the batch operator's integer stats.
    """
    return (
        transcripts_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum((F.col("role") == "user").cast("long")).alias("n_user"),
            F.sum((F.col("role") == "assistant").cast("long")).alias("n_assistant"),
            F.sum(
                ((F.col("role") == "tool") & (F.col("tool") != "")).cast("long")
            ).alias("n_tool_calls"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias("total_chars"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
            "n_user",
            "n_assistant",
            "n_tool_calls",
            "total_chars",
        )
    )
