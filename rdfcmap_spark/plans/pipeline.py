"""The flagship KG-construction pipeline, defined once as five layers.

Every layer is a plain ``DataFrame -> DataFrame`` function::

    transcripts ─[sentences]─ sent ─┬─[raw triples]─────────────────────┐
                                    └─[identity rows]─ edges ─[mapping]─┴─[canonical candidates]

* **sentences** — :func:`linked_sentences`: extract + broadcast-link, spent
  columns dropped;
* **identity rows** — :func:`identity_rows`: the one-scan ``(kind, a, b)``
  projection, the only definition of "sameAs relation / valid
  ``dct:identifier`` literal"; :func:`identity_edges` turns it into CC edges;
* **raw triples** — ``assembly.sentence_triples``;
* **mapping** — CC over the identity edges (``canonicalize``);
* **canonical candidates** — ``canonicalize.rewritten_candidates``.

The flagship (:func:`run_pipeline`) and the KG products
(:func:`triple_support`, :func:`triple_timeline`, :func:`turn_sft_pairs`)
are tails on one shared head, :func:`canonical_head`. Two materialization
policies run the same layer functions: in memory (here — persist ``sent``,
localCheckpoint the identity rows) and snapshot-and-resume
(:mod:`rdfcmap_spark.plans.staged`, one parquet snapshot per layer).

Up to the set-semantics aggregate the plan is shuffle-free (scan ->
split/explode -> regexp -> broadcast probes -> projections): cost is one
pass over the text plus the small CC fixed point over identity edges only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfcmap_spark import vocab
from rdfcmap_spark.functions.literals import literal_cols
from rdfcmap_spark.functions.normalize import normalize_label
from rdfcmap_spark.ids import instance_iri_col
from rdfcmap_spark.operators import assembly, canonicalize, linking, mentions
from rdfcmap_spark.schemas import TRIPLE_KEY


@dataclass
class PipelineResult:
    triples: DataFrame
    metrics: dict = field(default_factory=dict)


def linked_sentences(transcripts: DataFrame) -> DataFrame:
    """Sentence layer: sentences with subject/object/predicate all resolved
    + entity IDs.

    Three broadcast probes of the alias dictionary (subject surface, object
    surface, linking phrase) — no shuffle, no Python. The spent columns are
    dropped (``phrase``/``phrase_norm``: ``pred_iri`` carries the result;
    ``obj_bnode``: folded into ``obj_kind``) — the materialized layer is
    re-scanned by every triple family, so every dropped column is paid back
    per scan.
    """
    sent = mentions.extract_sentences(transcripts)
    sent = sent.withColumn("subj_norm", normalize_label(F.col("subj"))).withColumn(
        "obj_norm", normalize_label(F.col("obj"))
    ).withColumn("phrase_norm", normalize_label(F.col("phrase")))

    a = F.broadcast
    al = linking.resolved_alias_df(transcripts.sparkSession)
    subj_d = al.select(
        F.col("label_norm").alias("subj_norm"),
        F.col("resolved_iri").alias("subj_res"),
        F.col("term_kind").alias("subj_kind"),
    )
    obj_d = al.select(
        F.col("label_norm").alias("obj_norm"),
        F.col("resolved_iri").alias("obj_res"),
        F.col("term_kind").alias("obj_kind_term"),
    )
    pred_d = al.filter(F.col("term_kind").isin("objectProperty", "datatypeProperty")).select(
        F.col("label_norm").alias("phrase_norm"),
        F.col("resolved_iri").alias("pred_iri"),
    )
    return (
        sent.join(a(subj_d), "subj_norm", "left")
        .join(a(obj_d), "obj_norm", "left")
        .join(a(pred_d), "phrase_norm", "left")
        .withColumn(
            "subj_entity",
            F.when(F.col("subj_kind") == "individual", F.col("subj_res")).otherwise(
                instance_iri_col(F.concat_ws("|", F.lit("ent"), F.col("conv_id"), F.col("subj_norm")))
            ),
        )
        .withColumn(
            "obj_entity",
            F.when(F.col("obj_norm").isNull(), F.lit(None)).when(
                F.col("obj_kind_term") == "individual", F.col("obj_res")
            ).otherwise(
                instance_iri_col(F.concat_ws("|", F.lit("ent"), F.col("conv_id"), F.col("obj_norm")))
            ),
        )
        # named individuals of the ontology are never blank nodes (J7 wins
        # over the [ ] marker — golden mirror in synth.entity_for)
        .withColumn(
            "obj_kind",
            F.when(F.col("obj_kind_term") == "individual", F.lit("iri"))
            .when(F.col("obj_bnode"), F.lit("bnode"))
            .otherwise(F.lit("iri")),
        )
        .drop("phrase", "phrase_norm", "obj_bnode")
    )


def _literal_lex():
    """(obj_lexical, lex_valid) of a sentence's typed-literal token."""
    lit_token = F.concat(F.lit('"'), F.col("lex"), F.lit('"^^xsd:'), F.col("dt_local"))
    obj_lex, _, lex_valid = literal_cols(lit_token)
    return obj_lex, F.coalesce(lex_valid, F.lit(False))


def identity_rows(sent: DataFrame) -> DataFrame:
    """Identity-rows layer: ONE scan of the sentence layer projects both
    identity families that feed canonicalization into a tiny
    ``(kind, a, b)`` frame — ``("sameas", subj, obj)`` for an
    ``owl:sameAs`` relation, ``("ident", subj, value)`` for a valid
    ``dct:identifier`` literal. Materializing the two families separately
    was two full scans of the wide sentence stream."""
    obj_lex, lex_valid = _literal_lex()
    is_sameas = (
        (F.col("form") == "relation")
        & F.col("obj_entity").isNotNull()
        & (F.col("pred_iri") == vocab.OWL_SAME_AS)
    )
    is_ident = (
        (F.col("form") == "literal")
        & (F.col("pred_iri") == vocab.DCT + "identifier")
        & lex_valid
    )
    return sent.select(
        F.when(is_sameas, F.lit("sameas")).when(is_ident, F.lit("ident")).alias("kind"),
        F.col("subj_entity").alias("a"),
        F.when(is_sameas, F.col("obj_entity")).otherwise(obj_lex).alias("b"),
    ).filter(F.col("kind").isNotNull())


def split_identity_rows(rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sameas(a, b), idents(entity_id, value)) from :func:`identity_rows`."""
    sameas = rows.filter(F.col("kind") == "sameas").select("a", "b")
    idents = rows.filter(F.col("kind") == "ident").select(
        F.col("a").alias("entity_id"), F.col("b").alias("value")
    )
    return sameas, idents


def identity_edges(rows: DataFrame) -> DataFrame:
    """CC edges(src, dst) from :func:`identity_rows`."""
    return canonicalize.identity_edges(*split_identity_rows(rows))


def canonical_head(
    transcripts: DataFrame, checkpoint: bool = True
) -> tuple[DataFrame, DataFrame, int]:
    """``(raw triples, mapping, n_mapping)`` under the in-memory policy.

    With ``checkpoint`` the sentence layer is persisted ONCE (every triple
    family and the identity rows branch off it; without it each branch
    re-runs scan -> extract -> broadcast-link). ``persist`` keeps compressed
    columnar batches that each family scan column-prunes; a row-format
    ``localCheckpoint`` was measured 1.8x slower and an off-heap cache 25%
    slower (PLAN.md). The tiny identity rows ARE localCheckpointed, so the
    CC machinery's actions never touch the wide stream again.

    The raw triple union is NOT materialized — it fuses straight into the
    consumer's aggregate, so the candidate stream is touched exactly once
    (a checkpoint of it was measured to double wall time at 2M turns).
    """
    sent = linked_sentences(transcripts)
    if checkpoint:
        sent = sent.persist(StorageLevel.MEMORY_AND_DISK)
        sent.count()  # eager, so downstream branches hit the cache
    rows = identity_rows(sent)
    if checkpoint:
        rows = rows.localCheckpoint()
    mapping, n_mapping = canonicalize.connected_components_with_count(identity_edges(rows))
    return assembly.sentence_triples(sent), mapping, n_mapping


def run_pipeline(
    transcripts: DataFrame,
    checkpoint: bool = True,
    with_visualization: bool = False,
) -> PipelineResult:
    """The flagship: canonical head -> min-provenance set dedup."""
    triples = canonicalize.rewrite_triples(*canonical_head(transcripts, checkpoint))

    if with_visualization:
        # --update parity: mint the afv: twin + position triples per
        # instance entity (`VisualizationInfoBuilder.java:40-350`). The
        # twin stage re-scans the triple stream (subjects + title ladder),
        # so cut the lineage once first; the twin volume itself is
        # human-map-sized by the viz contract.
        from rdfcmap_spark.operators.reverse import viz_twins

        triples = triples.localCheckpoint(eager=False)
        twins = viz_twins(triples).select(
            "*",
            F.lit(None).cast("string").alias("conv_id"),
            F.lit(None).cast("int").alias("turn_idx"),
        )
        triples = triples.unionByName(twins)

    return PipelineResult(triples=triples)


def pipeline_metrics(transcripts: DataFrame) -> dict:
    """QA metrics the reference logs as it converts (`CmapUtil.java:450-466`,
    unresolved labels `RdfUtil.java:531-537`) — computed in one aggregate pass.
    """
    _, lex_valid = _literal_lex()
    row = linked_sentences(transcripts).agg(
        F.count("*").alias("sentences"),
        F.sum(((F.col("form") == "relation") & F.col("subj_res").isNull()).cast("long")).alias(
            "unresolved_subjects"
        ),
        F.sum(
            ((F.col("form") == "relation") & F.col("obj_norm").isNotNull() & F.col("obj_res").isNull()).cast("long")
        ).alias("unresolved_objects"),
        F.sum((F.col("pred_iri").isNull()).cast("long")).alias("unresolved_phrases"),
        F.sum(((F.col("form") == "literal") & ~lex_valid).cast("long")).alias(
            "quarantined_literals"
        ),
    ).collect()[0]
    return row.asDict()


def _candidates(transcripts: DataFrame, checkpoint: bool) -> DataFrame:
    return canonicalize.rewritten_candidates(*canonical_head(transcripts, checkpoint))


def triple_support(transcripts: DataFrame, checkpoint: bool = True) -> DataFrame:
    """Evidence counts per canonical triple — the confidence signal a
    corpus-built KG needs for downstream edge pruning and conflict
    resolution (no reference counterpart: one CXL map is one witness; at
    10^12 turns the same canonical triple is asserted by many independent
    conversations, and how many is the signal).

    Output: the TRIPLES key columns + ``n_turns`` (distinct supporting
    (conv_id, turn_idx) provenances) + ``n_convs`` (distinct supporting
    conversations). Counts are DISTINCT-provenance — robust to the
    candidate stream's per-mention emission multiplicity, and exactly
    mirrorable over the oracle's ``rew`` CTE.

    Scale posture: the flagship's :func:`canonical_head` and candidate
    stream; the counting itself is ONE hash aggregate on the triple key
    (the two distinct counts expand ×3 with map-side partial aggregation —
    no sort, no window). The candidate stream is touched exactly once.
    """
    return _candidates(transcripts, checkpoint).groupBy(*TRIPLE_KEY).agg(
        F.countDistinct(
            F.col("conv_id"), F.coalesce(F.col("turn_idx"), F.lit(-1))
        ).alias("n_turns"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def _provenance(transcripts: DataFrame, checkpoint: bool) -> DataFrame:
    """Distinct (triple key, conv_id, turn_idx) — map-side combinable,
    collapses the per-mention multiplicity before any join."""
    return _candidates(transcripts, checkpoint).select(*TRIPLE_KEY, "conv_id", "turn_idx").distinct()


def triple_timeline(transcripts: DataFrame, checkpoint: bool = True) -> DataFrame:
    """Temporal KG: assertion-time bounds per canonical triple — when the
    corpus FIRST and LAST asserted each fact (exact integer microseconds,
    the sessionize/event-funnel timestamp device), plus the distinct-
    provenance turn count of :func:`triple_support`. The validity-interval
    signal a transcript-built KG needs for staleness pruning and
    conflict-by-recency resolution (no reference counterpart: one CXL map
    has no time axis).

    Scale posture: the shared head; then (a) the distinct provenance
    frame, (b) one hash join of it against the (conv_id, turn_idx) -> ts
    projection of the input (left join: a provenance without a turn row
    keeps null bounds rather than dropping the triple), (c) one final hash
    aggregate. The candidate stream is touched exactly once.

    Output: TRIPLES key + first_asserted_us, last_asserted_us, n_turns.
    """
    ts_us = transcripts.select(
        "conv_id",
        "turn_idx",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_ts_us"),
    )
    return (
        _provenance(transcripts, checkpoint)
        .join(ts_us, ["conv_id", "turn_idx"], "left")
        .groupBy(*TRIPLE_KEY)
        .agg(
            F.min("_ts_us").alias("first_asserted_us"),
            F.max("_ts_us").alias("last_asserted_us"),
            F.count(F.lit(1)).cast("long").alias("n_turns"),
        )
    )


def turn_sft_pairs(transcripts: DataFrame, checkpoint: bool = True) -> DataFrame:
    """SFT pairs FROM the KG (round 5 — the graft cell's fusion product:
    transcripts in, training data out): per turn, ``prompt`` = the turn's
    raw text and ``target`` = the canonical triples that turn asserts,
    serialized deterministically (sorted ``subj|pred|obj`` tokens joined
    with " ; ") — the supervision pairs for fine-tuning an extraction
    model on the pipeline's own outputs (the standard bootstrap loop:
    pipeline labels the corpus, the model distills the pipeline).

    Scale posture: the shared head; then the distinct provenance frame,
    one hash aggregate per turn building the sorted token list
    (collect_list is bounded by triples-per-turn — a human turn asserts a
    handful), one hash join back to the turn text. Output is turn-linear.

    Output: (conv_id, turn_idx, prompt, target, n_triples); turns that
    assert no triple produce no pair (inner-join semantics — empty
    targets teach nothing).
    """
    obj_repr = F.when(
        F.col("obj_kind") == "literal",
        F.concat(F.lit('"'), F.col("obj_lexical"), F.lit('"^^'), F.col("obj_datatype")),
    ).otherwise(F.col("obj_iri"))
    tok = _provenance(transcripts, checkpoint).select(
        "conv_id",
        "turn_idx",
        F.concat_ws("|", F.col("subj"), F.col("pred"), obj_repr).alias("token"),
    )
    agg = tok.groupBy("conv_id", "turn_idx").agg(
        F.array_join(F.array_sort(F.collect_list("token")), " ; ").alias("target"),
        F.count(F.lit(1)).cast("long").alias("n_triples"),
    )
    return agg.join(
        transcripts.select("conv_id", "turn_idx", F.col("text").alias("prompt")),
        ["conv_id", "turn_idx"],
    ).select("conv_id", "turn_idx", "prompt", "target", "n_triples")


def triple_growth(timeline: DataFrame, bucket_us: int = 3_600_000_000) -> DataFrame:
    """KG growth curve over the temporal timeline (round 5): per time
    bucket of FIRST assertion, how many canonical triples the corpus
    minted in that bucket, plus the running total — the monitoring
    product a continuously-built KG needs (is extraction saturating? did
    a source change bend the curve?). ``bucket_us`` sizes the bucket
    (default hourly; a corpus whose canonical facts saturate early — like
    the synthetic fixture, where recurring facts are all first-asserted
    within the first conversations — needs fine buckets to show a curve).

    Scale posture: one hash aggregate over the timeline keyed on the
    bucket ordinal (map-side combinable), then a running sum by window
    over the per-bucket frame — which is CALENDAR-sized (one row per
    bucket of corpus history), not corpus-sized, so the unpartitioned
    window is bounded by design. Bucket ordinal is exact integer
    division of microseconds (``DIV`` — no double rounding at edges).

    Output: (epoch_bucket, n_new_triples, cum_triples), ascending
    ordinals of ``bucket_us``-microsecond buckets since the epoch.
    """
    from pyspark.sql import Window

    bucket = F.expr(f"first_asserted_us DIV {int(bucket_us)}")
    per = (
        timeline.filter(F.col("first_asserted_us").isNotNull())
        .groupBy(bucket.alias("epoch_bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_triples"))
    )
    w = Window.orderBy("epoch_bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        F.col("epoch_bucket").cast("long").alias("epoch_bucket"),
        "n_new_triples",
        F.sum("n_new_triples").over(w).cast("long").alias("cum_triples"),
    )


def resolve_by_recency(timeline: DataFrame) -> DataFrame:
    """Conflict resolution by recency: for every multi-valued
    (subject, predicate) in a :func:`triple_timeline` frame, keep the most
    recently asserted value — the standard merge policy for a KG built
    from a stream of conversations (later statements supersede earlier
    ones; rdf:type and dct:title are excluded as legitimately
    multi-valued, the :func:`~rdfcmap_spark.operators.relational.
    fact_conflicts` contract).

    One window over (subj, pred) — rank by (last_asserted_us DESC nulls
    last, obj_kind, value token, datatype: a total order, so the winner is
    deterministic even on timestamp ties — plus the per-pair value count;
    only pairs that actually conflicted (n_values > 1) are returned.

    Output: TRIPLES key + last_asserted_us + n_values (how many values
    the winner displaced, itself included).
    """
    from pyspark.sql import Window

    t = timeline.filter(~F.col("pred").isin(vocab.RDF_TYPE, vocab.DCT_TITLE))
    tok = F.coalesce(F.col("obj_iri"), F.col("obj_lexical"))
    w = Window.partitionBy("subj", "pred")
    wo = w.orderBy(
        F.col("last_asserted_us").desc_nulls_last(),
        F.col("obj_kind").asc(),
        tok.asc(),
        F.col("obj_datatype").asc_nulls_first(),
    )
    return (
        t.withColumn("_rn", F.row_number().over(wo))
        .withColumn("n_values", F.count(F.lit(1)).over(w).cast("long"))
        .filter((F.col("_rn") == 1) & (F.col("n_values") > 1))
        .select(
            "subj", "pred", "obj_kind", "obj_iri", "obj_lexical", "obj_datatype",
            "last_asserted_us", "n_values",
        )
    )
