"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG-construction run on sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2 plus the
training-data operators (dedup / similarity / text analysis / multimodal).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for every oracle-checkable
query (same column names; engine-stable numerics: md5 hex hashes, integer
counts, single rounded divisions).

Rows-only entries (no oracle): the full text->KG pipeline and its
canonicalization mapping, which run over deterministically synthesized
transcripts (the driver's DuckDB session only sees the 10 parquet views).
Their semantics are covered by the golden-fixture P/R tests instead
(tests/test_pipeline_golden.py, BASELINE.md P/R >= 0.95).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdfcmap_spark.operators import (
    dedup,
    graph as graphops,
    multimodal,
    relational,
    similarity,
    textstats,
    traindata,
    transcripts,
)
from rdfcmap_spark.sources.tables import load


def _t(name):
    return lambda spark, sf_dir: load(spark, sf_dir, name)


def _sf_of(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.001


def _synth_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic transcripts, ALSO persisted to the fixed
    parquet location the DuckDB pipeline oracle reads
    (rdfcmap_spark.oracle.TRANSCRIPTS_ORACLE_PATH) — this is what upgrades
    the four pipeline-level queries from rows-only to hash-checked.

    The fixture is write-once per (params, generator version): generation is
    deterministic, so if a matching fixture is already published we reuse it
    instead of rewriting. The first writer publishes via ``os.rename`` of a
    uniquely-named staging dir, so a concurrent reader never observes a
    half-written fixture (a mode("overwrite") rewrite deletes parquet parts
    under a running scan — seen as FAILED_READ_FILE in concurrent harness
    runs). Caveat: on a params/version CHANGE the swap is two renames
    (POSIX rename cannot replace a non-empty dir), so there is a tiny
    ENOENT window for readers racing that one-time upgrade — params changes
    only happen when the generator code changes, never between the driver's
    same-version query runs."""
    import json
    import os
    import shutil
    import uuid

    from rdfcmap_spark.oracle import TRANSCRIPTS_ORACLE_PATH
    from rdfcmap_spark.synth import SYNTH_VERSION, transcripts_df

    sf = _sf_of(sf_dir)
    n_convs = max(8, int(400 * sf))
    params = json.dumps({"n_convs": n_convs, "turns": 8, "ver": SYNTH_VERSION})
    marker = os.path.join(TRANSCRIPTS_ORACLE_PATH, "_PARAMS.json")
    try:
        with open(marker) as fh:
            if fh.read() == params:
                return spark.read.parquet(TRANSCRIPTS_ORACLE_PATH)
    except OSError:
        pass
    tr = transcripts_df(spark, n_convs=n_convs, turns_per_conv=8)
    staging = TRANSCRIPTS_ORACLE_PATH + ".staging-" + uuid.uuid4().hex
    tr.write.mode("overwrite").parquet(staging)
    with open(os.path.join(staging, "_PARAMS.json"), "w") as fh:
        fh.write(params)
    old = TRANSCRIPTS_ORACLE_PATH + ".old-" + uuid.uuid4().hex
    try:
        if os.path.isdir(TRANSCRIPTS_ORACLE_PATH):
            os.rename(TRANSCRIPTS_ORACLE_PATH, old)
        os.rename(staging, TRANSCRIPTS_ORACLE_PATH)
    except OSError:
        # lost the publish race to a concurrent writer of the same params
        shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    return spark.read.parquet(TRANSCRIPTS_ORACLE_PATH)


def _jsonl_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write-once JSONL twin of the transcripts fixture (same params/
    staging/rename discipline as _synth_transcripts), for the JSONL
    ingest round-trip query and its DuckDB read_json oracle."""
    import json
    import os
    import shutil
    import uuid

    from rdfcmap_spark.oracle import TRANSCRIPTS_ORACLE_PATH
    from rdfcmap_spark.sources.jsonl import write_transcripts_jsonl
    from rdfcmap_spark.synth import SYNTH_VERSION

    path = TRANSCRIPTS_ORACLE_PATH + "-jsonl"
    sf = _sf_of(sf_dir)
    n_convs = max(8, int(400 * sf))
    params = json.dumps({"n_convs": n_convs, "turns": 8, "ver": SYNTH_VERSION})
    # marker deliberately NOT named *.json — the oracle's read_json glob
    # must see only the data shards
    marker = os.path.join(path, "_PARAMS")
    try:
        with open(marker) as fh:
            if fh.read() == params:
                return path
    except OSError:
        pass
    turns = _synth_transcripts(spark, sf_dir)
    staging = path + ".staging-" + uuid.uuid4().hex
    write_transcripts_jsonl(turns, staging)
    with open(os.path.join(staging, "_PARAMS"), "w") as fh:
        fh.write(params)
    old = path + ".old-" + uuid.uuid4().hex
    try:
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(staging, path)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    return path


def _kg_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdfcmap_spark.sources.jsonl import read_transcripts_jsonl, split_quarantine

    good, _bad = split_quarantine(
        read_transcripts_jsonl(spark, _jsonl_fixture(spark, sf_dir))
    )
    return good


def _lsh_verified(docs: DataFrame) -> DataFrame:
    """LSH candidates + exact-Jaccard verify. The shingle frame is
    recomputed per consumer BY DESIGN: persisting it was A/B'd at 500k docs
    and rejected — cache blocks steal unified memory from the verify's
    half-billion-row joins and push them to disk (>90 GB spill, DNF, vs
    178 s recomputing; see dedup.dup_groups and BENCH.md)."""
    return dedup.ngram_jaccard_verify(docs, dedup.lsh_candidate_pairs(docs))


def _kg_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdfcmap_spark.plans.pipeline import run_pipeline

    res = run_pipeline(_synth_transcripts(spark, sf_dir))
    return res.triples


def _kg_rdfs_entail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdfcmap_spark import vocab
    from rdfcmap_spark.operators.ontology import rdfs_entail
    from rdfcmap_spark.plans.pipeline import run_pipeline

    tri = run_pipeline(_synth_transcripts(spark, sf_dir)).triples
    edges = spark.createDataFrame(vocab.SUBCLASS_EDGES, "child string, parent string")
    return rdfs_entail(tri, edges)


def _kg_triple_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdfcmap_spark.plans.pipeline import triple_support

    return triple_support(_synth_transcripts(spark, sf_dir))


def _kg_triple_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG: per canonical triple, exact-microsecond first/last
    assertion timestamp + distinct-provenance turn count (the validity-
    interval signal for staleness pruning; no reference counterpart — one
    CXL map has no time axis)."""
    from rdfcmap_spark.plans.pipeline import triple_timeline

    return triple_timeline(_synth_transcripts(spark, sf_dir))


def _kg_turn_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT pairs from the KG (round 5): per turn, (turn text, sorted
    serialized canonical triples) — the pipeline-distillation training
    product of the transcripts->KG graft."""
    from rdfcmap_spark.plans.pipeline import turn_sft_pairs

    return turn_sft_pairs(_synth_transcripts(spark, sf_dir))


def _kg_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG growth curve (round 5): newly-minted canonical triples per
    hourly bucket of first assertion + running total — the extraction
    monitoring product of a continuously-built KG."""
    from rdfcmap_spark.plans.pipeline import triple_growth, triple_timeline

    return triple_growth(triple_timeline(_synth_transcripts(spark, sf_dir)))


def _kg_conflicts_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-asserted-wins merge over the multi-valued facts of the
    triple timeline (conflict-by-recency, the stream-of-conversations
    merge policy)."""
    from rdfcmap_spark.plans.pipeline import resolve_by_recency, triple_timeline

    return resolve_by_recency(triple_timeline(_synth_transcripts(spark, sf_dir)))


def _synth_identity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sameAs ∪ shared-identifier star edges from the synthetic transcripts
    (the pipeline's identity layers, shared by the canonical-mapping and
    incremental-canonicalization queries)."""
    from rdfcmap_spark.plans import pipeline as P

    sent = P.linked_sentences(_synth_transcripts(spark, sf_dir))
    return P.identity_edges(P.identity_rows(sent))


def _kg_canonical_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdfcmap_spark.operators import canonicalize

    return canonicalize.connected_components(_synth_identity_edges(spark, sf_dir))


def _kg_incremental_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental canonicalization: split the identity edges into two
    deterministic batches, canonicalize batch 1, then merge batch 2 via
    :func:`canonicalize.merge_mapping` — the result must equal the
    full-recompute mapping (the oracle is the SAME recursive-CTE mapping
    over ALL edges as kg_canonical_mapping), proving the maintenance path
    is exact, not approximate."""
    from rdfcmap_spark.operators import canonicalize

    edges = _synth_identity_edges(spark, sf_dir).localCheckpoint()
    batch = F.pmod(F.xxhash64("src", "dst"), F.lit(2))
    m1 = canonicalize.connected_components(edges.filter(batch == 0))
    return canonicalize.merge_mapping(m1, edges.filter(batch == 1))


def _kg_staged_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged pipeline run twice in a fresh workdir — the second run must
    resume every stage from its snapshot (asserted) and reproduce the same
    triples (returned)."""
    import tempfile

    from rdfcmap_spark.plans.staged import run_staged

    tr = _synth_transcripts(spark, sf_dir).localCheckpoint()
    wd = tempfile.mkdtemp(prefix="kg_staged_")
    run_staged(spark, tr, wd, "driver-check")
    df, run2 = run_staged(spark, tr, wd, "driver-check")
    assert run2.ran == [], f"resume recomputed stages: {run2.ran}"
    return df


def _kg_ttl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline triples -> distributed TTL write -> distributed TTL read;
    returns the parsed-back triples (losslessness is pytest-asserted)."""
    import tempfile

    from rdfcmap_spark.sources.ttl import read_ttl, write_ttl

    triples = _kg_pipeline_full(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="kg_ttl_") + "/out.ttl"
    write_ttl(triples, path)
    return read_ttl(spark, path)


def _kg_ttl_noprefix_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same round trip through the ``--noprefixes`` writer (raw <iri>
    terms, no @prefix block; `Cmap2TurtleConverter.java:1918-1923`) — the
    triple SET must be identical to the prefixed round trip, so it shares
    that oracle."""
    import tempfile

    from rdfcmap_spark.sources.ttl import read_ttl, write_ttl

    triples = _kg_pipeline_full(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="kg_ttl_np_") + "/out.ttl"
    write_ttl(triples, path, use_prefixes=False)
    return read_ttl(spark, path)


def _kg_nquads_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline triples -> distributed N-Quads write (conv_id as the
    urn:conv: graph label) -> distributed read; returns the parsed-back
    quads (lineage preserved, turn_idx has no N-Quads slot -> NULL)."""
    import tempfile

    from rdfcmap_spark.sources.nquads import read_nquads, write_nquads

    triples = _kg_pipeline_full(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="kg_nq_") + "/out.nq"
    write_nquads(triples, path)
    return read_nquads(spark, path)


def _events_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of events_hourly_rollup: file-source stream
    over the same parquet, watermarked tumbling window, memory sink; the
    result table must match the batch/DuckDB oracle exactly."""
    from rdfcmap_spark.streaming.stream import streaming_hourly_rollup

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file source needs a directory; glob-filter down to the events table
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    name = "events_stream_rollup_result"
    q = (
        streaming_hourly_rollup(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def _chat_stream_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of chat_conv_stats: session-windowed
    (30-min gap) conversation stats over the live turn stream. The synth
    fixture spaces turns 30 s apart within a conversation, so every
    conversation closes as exactly ONE session and the result must match
    the batch/DuckDB oracle (session_end = max(ts) + gap)."""
    from rdfcmap_spark.oracle import TRANSCRIPTS_ORACLE_PATH
    from rdfcmap_spark.streaming.stream import streaming_conv_stats

    batch = _synth_transcripts(spark, sf_dir)  # publishes the fixture
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(TRANSCRIPTS_ORACLE_PATH)
    )
    name = "chat_stream_conv_stats_result"
    q = (
        streaming_conv_stats(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def _kg_sparql_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 product: BFS path from a marked source to its target over a
    relational entity graph, emitted as SPARQL BGP statement rows
    (`SparqlCreator.findNeighbour:537-664` re-architected as frontier
    joins; see operators/sparql.py)."""
    from rdfcmap_spark.operators.sparql import path_statements

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    o = orders.select(
        F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")).alias("src"),
        F.lit("ex:by").alias("pred"),
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("dst"),
    )
    c = customer.select(
        F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias("src"),
        F.lit("ex:inNation").alias("pred"),
        F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    n = nation.select(
        F.concat(F.lit("n:"), F.col("n_nationkey").cast("string")).alias("src"),
        F.lit("ex:inRegion").alias("pred"),
        F.concat(F.lit("r:"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    edges = o.unionByName(c).unionByName(n)
    k = orders.agg(F.min("o_orderkey").alias("k")).collect()[0]["k"]
    chain = (
        orders.filter(F.col("o_orderkey") == k)
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(nation, F.col("n_nationkey") == F.col("c_nationkey"))
        .select("n_regionkey")
        .collect()[0]
    )
    return path_statements(edges, f"o:{k}", f"r:{chain['n_regionkey']}")


def _kg_ontology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`--ontology` mode (`OntologyCreator.java:51-168`): derive OWL class /
    property declarations + observed-cardinality owl:Restriction nodes from
    an instance model planted on customer/orders/nation."""
    from rdfcmap_spark.operators.ontology import ontology_from_instances
    from rdfcmap_spark import vocab as V

    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    EX = "http://example.org/"

    def t(subj, pred, kind, obj_iri, lex):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            kind.cast("string").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    csub = F.concat(F.lit("c:"), F.col("c_custkey").cast("string"))
    nsub = F.concat(F.lit("n:"), F.col("n_nationkey").cast("string"))
    null_s = F.lit(None).cast("string")
    cust_t = customer.select(F.explode(F.array(
        t(csub, F.lit(V.RDF_TYPE), F.lit("iri"), F.lit(EX + "Customer"), null_s),
        t(csub, F.lit(EX + "locatedIn"), F.lit("iri"),
          F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")), null_s),
        t(csub, F.lit(EX + "hasName"), F.lit("literal"), null_s, F.col("c_name")),
    )).alias("x")).select("x.*")
    ord_t = orders.select(F.explode(F.array(
        t(F.concat(F.lit("c:"), F.col("o_custkey").cast("string")), F.lit(EX + "hasOrder"),
          F.lit("iri"), F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")), null_s),
    )).alias("x")).select("x.*")
    nat_t = nation.select(F.explode(F.array(
        t(nsub, F.lit(V.RDF_TYPE), F.lit("iri"), F.lit(EX + "Nation"), null_s),
        t(nsub, F.lit(EX + "inRegion"), F.lit("iri"),
          F.concat(F.lit("r:"), F.col("n_regionkey").cast("string")), null_s),
    )).alias("x")).select("x.*")
    return ontology_from_instances(cust_t.unionByName(ord_t).unionByName(nat_t))


def _kg_title_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 title-priority ladder (`Turtle2CmapConverter.createTitle:
    2049-2130`): dct:title ▷ skos:prefLabel ▷ dct:identifier ▷ rdfs:label ▷
    type-label ▷ "instance", over a label fixture planted on `part`."""
    from rdfcmap_spark.operators.reverse import title_ladder
    from rdfcmap_spark import vocab as V

    part = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    m, tk = k % 6, k % 7
    subj = F.concat(F.lit("s:"), k.cast("string"))
    tsub = F.concat(F.lit("t:"), tk.cast("string"))

    def lit_t(s, pred, lex):
        return F.struct(
            s.cast("string").alias("subj"), F.lit(pred).alias("pred"),
            F.lit("literal").alias("obj_kind"), F.lit(None).cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), F.lit(V.XSD_STRING).alias("obj_datatype"),
            F.lit(None).cast("string").alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    def iri_t(s, pred, obj):
        return F.struct(
            s.cast("string").alias("subj"), F.lit(pred).alias("pred"),
            F.lit("iri").alias("obj_kind"), obj.cast("string").alias("obj_iri"),
            F.lit(None).cast("string").alias("obj_lexical"), F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    name = F.col("p_name")
    arr = F.array(
        F.when(m == 0, lit_t(subj, V.DCT_TITLE, F.concat(F.lit("T "), name))),
        F.when((m == 0) | (m == 2) | (m == 3), lit_t(subj, V.RDFS_LABEL, F.concat(F.lit("L "), name))),
        F.when(m == 1, lit_t(subj, V.SKOS_PREF_LABEL, F.concat(F.lit("P "), name))),
        F.when(m == 2, lit_t(subj, V.DCT + "identifier", F.concat(F.lit("I "), name))),
        F.when(m == 4, iri_t(subj, V.RDF_TYPE, tsub)),
        F.when((m == 4) & (tk % 2 == 0), lit_t(tsub, V.DCT_TITLE, F.concat(F.lit("TY"), tk.cast("string")))),
        F.when(m == 5, iri_t(subj, "ex:related", F.lit("x:1"))),
    )
    triples = (
        part.select(F.explode(arr).alias("t")).filter(F.col("t").isNotNull()).select("t.*")
    )
    return title_ladder(triples)


def _kg_reverse_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-node visualization (the reference's default
    ``visualizeLiterals=true``; ``--hideliterals`` disables —
    `Turtle2CmapConverter.addLiteralNodesForVisualization:438-620`): one
    (concept, link) group per instance-graph literal statement, dct:title
    skip-listed, XSD-compacted ``"lex"^^xsd:t`` labels, addPrefix'd link
    labels, deterministic uuid3 ids. Fixture planted on `part`: prefixable
    namespaces (dct), the OBO idspace ladder (iao), an unprefixed
    namespace whose predicate carries its own dct:title, a skipped
    dct:title statement, and a non-instance subject that must not emit."""
    from rdfcmap_spark.operators.reverse import literal_nodes
    from rdfcmap_spark import vocab as V

    part = load(spark, sf_dir, "part")
    k = F.col("p_partkey")
    m = k % 5
    inst = F.concat(F.lit("urn:uuid:s"), k.cast("string"))
    bnode = F.concat(F.lit("_:b"), k.cast("string"))
    ex_pred = "http://example.org/x/p"

    def lit_t(s, pred, lex, dt):
        return F.struct(
            s.cast("string").alias("subj"), F.lit(pred).alias("pred"),
            F.lit("literal").alias("obj_kind"), F.lit(None).cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), F.lit(dt).alias("obj_datatype"),
            F.lit(None).cast("string").alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    name = F.col("p_name")
    arr = F.array(
        F.when(m == 0, lit_t(inst, V.DCT + "description", name, V.XSD_STRING)),
        F.when(m == 1, lit_t(inst, V.OBO + "IAO_0000115", name, V.XSD_STRING)),
        F.when(m == 2, lit_t(bnode, ex_pred, F.col("p_size"), V.XSD_DOUBLE)),
        F.when(m == 2, lit_t(F.lit(ex_pred), V.DCT_TITLE, F.lit("has price"), V.XSD_STRING)),
        F.when(m == 3, lit_t(inst, V.DCT_TITLE, name, V.XSD_STRING)),
        F.when(m == 4, lit_t(F.concat(F.lit("http://example.org/v"), k.cast("string")), V.DCT + "description", name, V.XSD_STRING)),
    )
    triples = part.select(F.explode(arr).alias("t")).filter(F.col("t").isNotNull()).select("t.*")
    return literal_nodes(triples)


def _kg_owl_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 RDF/XML vocabulary read (`Turtle2CmapConverter.java:87-108`): a
    deterministic ``.owl`` document planted on `part` (typed node elements,
    xml:lang labels, deprecation + redirect) -> driver-side parse ->
    the J2 alias dictionary rows via ``alias_rows_from_triples``."""
    import os
    import tempfile

    from rdfcmap_spark.sources.rdfxml import read_vocab
    from rdfcmap_spark.sources.turtle import alias_rows_from_triples

    part = load(spark, sf_dir, "part").select("p_partkey", "p_name").orderBy("p_partkey").collect()
    kinds = ["owl:Class", "owl:ObjectProperty", "owl:NamedIndividual"]
    ents = []
    for r in part:
        k, name = r["p_partkey"], r["p_name"]
        tag = ' xml:lang="en"' if k % 4 == 0 else ""
        cls = kinds[k % 3]
        dep = (
            '<owl:deprecated rdf:datatype="http://www.w3.org/2001/XMLSchema#boolean">true'
            f'</owl:deprecated><dct:isReplacedBy rdf:resource="urn:vocab:{k + 1}"/>'
            if k % 5 == 0
            else ""
        )
        ents.append(
            f'  <{cls} rdf:about="urn:vocab:{k}">'
            f"<skos:prefLabel{tag}>{name}</skos:prefLabel>{dep}</{cls}>"
        )
    xml = (
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"\n'
        '         xmlns:owl="http://www.w3.org/2002/07/owl#"\n'
        '         xmlns:skos="http://www.w3.org/2004/02/skos/core#"\n'
        '         xmlns:dct="http://purl.org/dc/terms/">\n'
        + "\n".join(ents)
        + "\n</rdf:RDF>\n"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="kg_owl_"), "vocab.owl")
    with open(path, "w", encoding="utf-8") as f:
        f.write(xml)
    rows = [tuple(r) for r in read_vocab(spark, path).collect()]
    return spark.createDataFrame(
        alias_rows_from_triples(rows), "label_norm string, iri string, term_kind string"
    )


def _kg_langtag_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-tag preservation: tagged literals planted on `part` ->
    distributed TTL write -> distributed TTL read -> (subj, label, lang).
    The tag folds into obj_datatype as rdf:langString@<tag> (schemas.py)."""
    import tempfile

    from rdfcmap_spark import vocab as V
    from rdfcmap_spark.sources.ttl import read_ttl, write_ttl

    part = load(spark, sf_dir, "part")
    triples = part.select(
        F.concat(F.lit("urn:part:"), F.col("p_partkey").cast("string")).alias("subj"),
        F.lit(V.RDFS_LABEL).alias("pred"),
        F.lit("literal").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_iri"),
        F.col("p_name").alias("obj_lexical"),
        F.concat(
            F.lit(V.RDF + "langString@"),
            F.when(F.col("p_partkey") % 2 == 0, F.lit("en")).otherwise(F.lit("de")),
        ).alias("obj_datatype"),
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
    )
    path = tempfile.mkdtemp(prefix="kg_lang_") + "/out.ttl"
    write_ttl(triples, path)
    back = read_ttl(spark, path)
    return back.select(
        "subj",
        F.col("obj_lexical").alias("label"),
        F.substring_index(F.col("obj_datatype"), "@", -1).alias("lang"),
    )


def _kg_pathfinder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`--pathfinder` report (`path/PathFinder.java:52-178`): oval-border
    root detection, ONE shared BFS parent tree, per-target shortest-path
    listing with the sortAndReorder `#hops` formatting — over a root ->
    region -> nation instance graph with viz twins."""
    from rdfcmap_spark import vocab as V
    from rdfcmap_spark.operators.pathfinder import pathfinder_report

    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, kind, obj_iri, lex):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            kind.cast("string").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), null_s.alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    rsub = F.concat(F.lit("urn:uuid:r"), F.col("r_regionkey").cast("string"))
    rtwin = F.concat(F.lit(V.AFV + "r"), F.col("r_regionkey").cast("string"))
    nsub = F.concat(F.lit("urn:uuid:n"), F.col("n_nationkey").cast("string"))
    ntwin = F.concat(F.lit(V.AFV + "n"), F.col("n_nationkey").cast("string"))
    reg_t = region.select(F.explode(F.array(
        t(F.lit("urn:uuid:root"), F.lit(EX + "hasRegion"), F.lit("iri"), rsub, null_s),
        t(rsub, F.lit(V.DCT_TITLE), F.lit("literal"), null_s, F.col("r_name")),
        t(rsub, F.lit(V.RDF_TYPE), F.lit("iri"), F.lit(EX + "Region"), null_s),
        t(rtwin, F.lit(V.RDF_TYPE), F.lit("iri"), F.lit(V.AFV + "Concept"), null_s),
    )).alias("x")).select("x.*")
    nat_t = nation.select(F.explode(F.array(
        t(F.concat(F.lit("urn:uuid:r"), F.col("n_regionkey").cast("string")),
          F.lit(EX + "hasNation"), F.lit("iri"), nsub, null_s),
        t(nsub, F.lit(V.DCT_TITLE), F.lit("literal"), null_s, F.col("n_name")),
        t(nsub, F.lit(V.RDF_TYPE), F.lit("iri"), F.lit(EX + "Nation"), null_s),
        t(ntwin, F.lit(V.RDF_TYPE), F.lit("iri"), F.lit(V.AFV + "Concept"), null_s),
    )).alias("x")).select("x.*")
    root_rows = spark.createDataFrame(
        [
            ("urn:uuid:root", V.DCT_TITLE, "literal", None, "root", None, None, None),
            ("urn:uuid:root", V.RDF_TYPE, "iri", "http://example.org/Root", None, None, None, None),
            (V.AFV + "root", V.RDF_TYPE, "iri", V.AFV + "Concept", None, None, None, None),
            (V.AFV + "root", V.AFV + "hasBorder", "iri", V.AFV + "border-root", None, None, None, None),
            (V.AFV + "border-root", V.AFV + "shape", "literal", None, "oval", None, None, None),
        ],
        reg_t.schema,
    )
    return pathfinder_report(reg_t.unionByName(nat_t).unionByName(root_rows))


def _kg_sparql_outside(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL outside-path closure (`createGraphStringForUnhandledNodes:
    215-299`, the `--skipnodesoutsidepath=false` default): the full WHERE
    body — path BGP, path-subject properties, target ?var lines, and every
    other node's statements — as distinct rendered lines."""
    from rdfcmap_spark.operators.sparql import render_sparql
    from rdfcmap_spark import vocab as V

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, kind, obj_iri, lex, dt):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            kind.cast("string").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), dt.cast("string").alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    osub = F.concat(F.lit(EX + "o"), F.col("o_orderkey").cast("string"))
    csub = F.concat(F.lit(EX + "c"), F.col("c_custkey").cast("string"))
    nsub = F.concat(F.lit(EX + "n"), F.col("n_nationkey").cast("string"))
    rsub = F.concat(F.lit(EX + "r"), F.col("r_regionkey").cast("string"))
    xsd_s = F.lit(V.XSD_STRING)
    ord_t = orders.select(F.explode(F.array(
        t(osub, F.lit(EX + "by"), F.lit("iri"),
          F.concat(F.lit(EX + "c"), F.col("o_custkey").cast("string")), null_s, null_s),
    )).alias("x")).select("x.*")
    cust_t = customer.select(F.explode(F.array(
        t(csub, F.lit(EX + "inNation"), F.lit("iri"),
          F.concat(F.lit(EX + "n"), F.col("c_nationkey").cast("string")), null_s, null_s),
        t(csub, F.lit(EX + "hasName"), F.lit("literal"), null_s, F.col("c_name"), xsd_s),
    )).alias("x")).select("x.*")
    nat_t = nation.select(F.explode(F.array(
        t(nsub, F.lit(EX + "inRegion"), F.lit("iri"),
          F.concat(F.lit(EX + "r"), F.col("n_regionkey").cast("string")), null_s, null_s),
        t(nsub, F.lit(EX + "hasName"), F.lit("literal"), null_s, F.col("n_name"), xsd_s),
    )).alias("x")).select("x.*")
    reg_t = region.select(F.explode(F.array(
        t(rsub, F.lit(EX + "hasName"), F.lit("literal"), null_s, F.col("r_name"), xsd_s),
    )).alias("x")).select("x.*")

    k = orders.agg(F.min("o_orderkey").alias("k")).collect()[0]["k"]
    chain = (
        orders.filter(F.col("o_orderkey") == k)
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(nation, F.col("n_nationkey") == F.col("c_nationkey"))
        .select("n_regionkey")
        .collect()[0]
    )
    src, tgt = f"{EX}o{k}", f"{EX}r{chain['n_regionkey']}"
    markers = spark.createDataFrame(
        [
            (src, V.AFV + "isSourceNode", "literal", None, "true", V.XSD_BOOLEAN, None, None),
            (tgt, V.AFV + "isTargetNode", "literal", None, "true", V.XSD_BOOLEAN, None, None),
        ],
        ord_t.schema,
    )
    triples = ord_t.unionByName(cust_t).unionByName(nat_t).unionByName(reg_t).unionByName(markers)
    r = render_sparql(triples)
    return spark.createDataFrame([(l,) for l in sorted(set(r.where_lines))], "line string")


def _kg_sparql_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute a generated-style SPARQL BGP directly on the triples frame
    (operators/sparql_exec.py): per-pattern pushed-filter scans hash-joined
    on shared variables — the query side the reference delegates to an
    external store. Instance graph: order -ex:by-> customer -ex:inNation->
    nation -ex:inRegion-> region, plus a c_mktsegment literal."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql
    from rdfcmap_spark import vocab as V

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, kind, obj_iri, lex, dt):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            kind.cast("string").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), dt.cast("string").alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    osub = F.concat(F.lit(EX + "order/"), F.col("o_orderkey").cast("string"))
    csub = F.concat(F.lit(EX + "customer/"), F.col("c_custkey").cast("string"))
    nsub = F.concat(F.lit(EX + "nation/"), F.col("n_nationkey").cast("string"))
    ord_t = orders.select(F.explode(F.array(
        t(osub, F.lit(EX + "by"), F.lit("iri"),
          F.concat(F.lit(EX + "customer/"), F.col("o_custkey").cast("string")), null_s, null_s),
    )).alias("x")).select("x.*")
    cust_t = customer.select(F.explode(F.array(
        t(csub, F.lit(EX + "inNation"), F.lit("iri"),
          F.concat(F.lit(EX + "nation/"), F.col("c_nationkey").cast("string")), null_s, null_s),
        t(csub, F.lit(EX + "mktsegment"), F.lit("literal"), null_s,
          F.col("c_mktsegment"), F.lit(V.XSD_STRING)),
    )).alias("x")).select("x.*")
    nat_t = nation.select(F.explode(F.array(
        t(nsub, F.lit(EX + "inRegion"), F.lit("iri"),
          F.concat(F.lit(EX + "region/"), F.col("n_regionkey").cast("string")), null_s, null_s),
    )).alias("x")).select("x.*")
    triples = ord_t.unionByName(cust_t).unionByName(nat_t)
    query = """
PREFIX ex: <http://example.org/>
SELECT ?ord ?nation ?segment WHERE {
  ?ord ex:by ?cust .
  ?cust ex:mktsegment ?segment .
  ?cust ex:inNation ?nation .
  ?nation ex:inRegion <http://example.org/region/0> .
}
"""
    return execute_sparql(triples, query)


def _kg_sparql_exec_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extended executor surface beyond plain BGPs
    (operators/sparql_exec.py): UNION branches union-by-name, OPTIONAL
    left-joins on the shared variable, FILTER compiles to a JVM-side
    numeric predicate (try_cast maps SPARQL's error→false rule onto SQL
    null-drop), ORDER BY + LIMIT applied after projection. ?ord is unique
    per result row, so the ordered LIMIT is deterministic."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql
    from rdfcmap_spark import vocab as V

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, kind, obj_iri, lex, dt):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            kind.cast("string").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), dt.cast("string").alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    osub = F.concat(F.lit(EX + "order/"), F.col("o_orderkey").cast("string"))
    csub = F.concat(F.lit(EX + "customer/"), F.col("c_custkey").cast("string"))
    ord_t = orders.select(F.explode(F.array(
        t(osub, F.lit(EX + "by"), F.lit("iri"),
          F.concat(F.lit(EX + "customer/"), F.col("o_custkey").cast("string")), null_s, null_s),
        t(osub, F.lit(EX + "total"), F.lit("literal"), null_s,
          F.col("o_totalprice").cast("string"), F.lit(V.XSD + "decimal")),
    )).alias("x")).select("x.*")
    cust_t = customer.select(F.explode(F.array(
        t(csub, F.lit(EX + "mktsegment"), F.lit("literal"), null_s,
          F.col("c_mktsegment"), F.lit(V.XSD_STRING)),
        # phone only for well-funded customers -> the OPTIONAL is meaningful
        t(csub, F.when(F.col("c_acctbal") > 5000, F.lit(EX + "phone")),
          F.lit("literal"), null_s, F.col("c_name"), F.lit(V.XSD_STRING)),
    )).alias("x")).select("x.*").filter(F.col("pred").isNotNull())
    triples = ord_t.unionByName(cust_t)
    query = """
PREFIX ex: <http://example.org/>
SELECT ?ord ?segment ?phone WHERE {
  ?ord ex:by ?cust .
  ?ord ex:total ?total .
  { ?cust ex:mktsegment "BUILDING" . } UNION { ?cust ex:mktsegment "AUTOMOBILE" . }
  ?cust ex:mktsegment ?segment .
  OPTIONAL { ?cust ex:phone ?phone . }
  FILTER(?total > 100000)
}
ORDER BY ?ord
LIMIT 2000
"""
    return execute_sparql(triples, query)


def _sparql_results_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SELECT result frame behind the W3C result-serialization queries
    (operators/sparql_results.py): an IRI var, a lang-tagged literal, a
    string literal containing a comma (forces RFC-4180 quoting in CSV), and
    an OPTIONAL var unbound for 2/3 of the rows."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql
    from rdfcmap_spark import vocab as V

    customer = load(spark, sf_dir, "customer")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, lex, dt):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            F.lit("literal").alias("obj_kind"), null_s.alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), dt.cast("string").alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    csub = F.concat(F.lit(EX + "customer/"), F.col("c_custkey").cast("string"))
    triples = customer.select(F.explode(F.array(
        t(csub, F.lit(EX + "label"), F.col("c_name"),
          F.lit(V.RDF + "langString@en")),
        t(csub, F.lit(EX + "display"),
          F.concat(F.col("c_name"), F.lit(", "), F.col("c_mktsegment")),
          F.lit(V.XSD_STRING)),
        t(csub, F.when(F.col("c_custkey") % 3 == 0, F.lit(EX + "phone")),
          F.col("c_acctbal").cast("string"), F.lit(V.XSD_STRING)),
    )).alias("x")).select("x.*").filter(F.col("pred").isNotNull())
    query = """
PREFIX ex: <http://example.org/>
SELECT ?cust ?label ?seg ?phone WHERE {
  ?cust ex:label ?label .
  ?cust ex:display ?seg .
  OPTIONAL { ?cust ex:phone ?phone . }
}
"""
    return execute_sparql(triples, query)


def _results_serialized(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    from rdfcmap_spark.operators import sparql_results as SR

    res = _sparql_results_select(spark, sf_dir)
    names = ["cust", "label", "seg", "phone"]
    if fmt == "csv":
        return SR.select_csv(res, names)
    if fmt == "tsv":
        return SR.select_tsv(res, names)
    if fmt == "xml":
        return SR.select_xml_results(res, names)
    return SR.select_json_bindings(res, names)


def _succession_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-succession chains as triples (order -next-> its
    successor by key within the customer, order -by-> customer, customer
    -inNation-> nation) — shared input of the property-path driver
    queries."""
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, obj_iri):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            F.lit("iri").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            null_s.alias("obj_lexical"), null_s.alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    osub = F.concat(F.lit(EX + "order/"), F.col("o_orderkey").cast("string"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    succ = (
        orders.select("o_orderkey", "o_custkey",
                      F.lead("o_orderkey").over(w).alias("succ_key"))
        .filter(F.col("succ_key").isNotNull())
    )
    next_t = succ.select(t(
        F.concat(F.lit(EX + "order/"), F.col("o_orderkey").cast("string")),
        F.lit(EX + "next"),
        F.concat(F.lit(EX + "order/"), F.col("succ_key").cast("string")),
    ).alias("x")).select("x.*")
    by_t = orders.select(t(
        osub, F.lit(EX + "by"),
        F.concat(F.lit(EX + "customer/"), F.col("o_custkey").cast("string")),
    ).alias("x")).select("x.*")
    nat_t = customer.select(t(
        F.concat(F.lit(EX + "customer/"), F.col("c_custkey").cast("string")),
        F.lit(EX + "inNation"),
        F.concat(F.lit(EX + "nation/"), F.col("c_nationkey").cast("string")),
    ).alias("x")).select("x.*")
    return next_t.unionByName(by_t).unionByName(nat_t)


def _kg_sparql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-path execution (operators/sparql_exec.py + graph.py
    transitive_closure): ``?a ex:next+ ?b`` closes the succession chain
    transitively (pointer-doubling, predicate filter pushed below the
    closure) and ``ex:by/ex:inNation`` composes a two-step sequence path.
    Oracle: the closure of a successor chain is exactly the
    (earlier, later) pairs within each customer."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql

    query = """
PREFIX ex: <http://example.org/>
SELECT ?a ?b ?n WHERE {
  ?a ex:next+ ?b .
  ?b ex:by/ex:inNation ?n .
}
"""
    return execute_sparql(_succession_triples(spark, sf_dir), query)


def _kg_sparql_path_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-or-more paths + alternation (operators/sparql_exec.py
    `_step_edges` / `_seq_edges`): ``ex:next*`` is the transitive closure ∪
    the zero-length self-pairs over every graph term — the ``ex:by/…`` join
    then restricts ?a to orders, so the oracle is reflexive-or-later pairs
    within each customer. The alternation's second branch (``ex:bogus``)
    matches nothing, pinning that an empty alternative is a no-op of the
    bag union, not an error."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql

    query = """
PREFIX ex: <http://example.org/>
SELECT ?a ?b ?n WHERE {
  ?a ex:next* ?b .
  ?a ex:by/ex:inNation|ex:bogus ?n .
}
"""
    return execute_sparql(_succession_triples(spark, sf_dir), query)


def _kg_sparql_nps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated property set (operators/sparql_exec.py `_step_edges` NPS
    branch): ``!(ex:next|^ex:by)`` splits per SPARQL 1.1 §9.1 into forward
    edges whose predicate is not ``ex:next`` (the by + inNation edges) ∪
    inverse edges whose predicate is not ``ex:by`` (reversed next +
    reversed inNation) — the NOT-IN predicates are pushed-down scan
    filters, no closure involved."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql

    query = """
PREFIX ex: <http://example.org/>
SELECT ?x ?y WHERE {
  ?x !(ex:next|^ex:by) ?y .
}
"""
    return execute_sparql(_succession_triples(spark, sf_dir), query)


def _kg_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested ``{ SELECT … GROUP BY }`` subquery (operators/sparql_exec.py
    `_select_frame` via `Group.subselects`): the inner per-customer order
    COUNT joins the outer by-pattern on ?c — one hash aggregate + one
    equi-join; the aggregate output binds as its plain lexical string
    (module-docstring caveat, mirrored in the oracle's CAST)."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql

    query = """
PREFIX ex: <http://example.org/>
SELECT ?o ?c ?n WHERE {
  ?o ex:by ?c .
  { SELECT ?c (COUNT(?o2) AS ?n) WHERE { ?o2 ex:by ?c . } GROUP BY ?c }
}
"""
    return execute_sparql(_succession_triples(spark, sf_dir), query)


def _kg_sparql_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES inline table (broadcast, top join priority) + MINUS
    (left-anti on the shared variable): pin three nations, then subtract
    the customers of one of them."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql

    query = """
PREFIX ex: <http://example.org/>
SELECT ?c ?n WHERE {
  VALUES ?n { <http://example.org/nation/0> <http://example.org/nation/1>
              <http://example.org/nation/2> }
  ?c ex:inNation ?n .
  MINUS { ?c ex:inNation <http://example.org/nation/1> . }
}
"""
    return execute_sparql(_succession_triples(spark, sf_dir), query)


def _kg_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASK form: one boolean row — the limit(1)-then-count probe plan."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql

    query = """
PREFIX ex: <http://example.org/>
ASK { ?c ex:inNation <http://example.org/nation/0> . }
"""
    return execute_sparql(_succession_triples(spark, sf_dir), query)


def _kg_sparql_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH clause over lineage (operators/sparql_exec.py `Group.graphs`):
    the engine's conv_id provenance column IS its named-graph dimension —
    ``GRAPH ?g`` binds ``urn:conv:<conv_id>`` per pattern (no per-graph
    loop), while the default graph is the union (the inNation triples carry
    NULL lineage and are invisible to GRAPH). One lineage-aware scan + one
    hash join, nothing driver-side."""
    from pyspark.sql import functions as F2

    from rdfcmap_spark.operators.sparql_exec import execute_sparql

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    EX = "http://example.org/"
    null_s = F2.lit(None).cast("string")
    by_t = orders.select(
        F2.concat(F2.lit(EX + "order/"), F2.col("o_orderkey").cast("string")).alias("subj"),
        F2.lit(EX + "by").alias("pred"),
        F2.lit("iri").alias("obj_kind"),
        F2.concat(F2.lit(EX + "customer/"), F2.col("o_custkey").cast("string")).alias("obj_iri"),
        null_s.alias("obj_lexical"), null_s.alias("obj_datatype"),
        F2.col("o_custkey").cast("string").alias("conv_id"),
        F2.lit(None).cast("int").alias("turn_idx"),
    )
    nat_t = customer.select(
        F2.concat(F2.lit(EX + "customer/"), F2.col("c_custkey").cast("string")).alias("subj"),
        F2.lit(EX + "inNation").alias("pred"),
        F2.lit("iri").alias("obj_kind"),
        F2.concat(F2.lit(EX + "nation/"), F2.col("c_nationkey").cast("string")).alias("obj_iri"),
        null_s.alias("obj_lexical"), null_s.alias("obj_datatype"),
        null_s.alias("conv_id"), F2.lit(None).cast("int").alias("turn_idx"),
    )
    query = """
PREFIX ex: <http://example.org/>
SELECT ?g ?o ?n WHERE {
  GRAPH ?g { ?o ex:by ?c . }
  ?c ex:inNation ?n .
}
"""
    return execute_sparql(by_t.unionByName(nat_t), query)


def _kg_sparql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Update (operators/sparql_exec.py `execute_update`):
    DELETE/INSERT-WHERE as a pure frame→frame transformation — both
    templates instantiate against the ORIGINAL store's bindings, then
    store := (store − deletes) ∪ inserts with set semantics on the triple
    key (null-safe anti-joins, the same exchange class as the pipeline's
    set-dedup). Customers WITH orders get their inNation edge reversed
    into nation-hasCustomer; order and orderless-customer triples survive
    untouched."""
    from rdfcmap_spark.operators.sparql_exec import execute_update

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t6(subj, pred, obj_iri):
        return [
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            F.lit("iri").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            null_s.alias("obj_lexical"), null_s.alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        ]

    by_t = orders.select(*t6(
        F.concat(F.lit(EX + "order/"), F.col("o_orderkey").cast("string")),
        F.lit(EX + "by"),
        F.concat(F.lit(EX + "customer/"), F.col("o_custkey").cast("string")),
    ))
    nat_t = customer.select(*t6(
        F.concat(F.lit(EX + "customer/"), F.col("c_custkey").cast("string")),
        F.lit(EX + "inNation"),
        F.concat(F.lit(EX + "nation/"), F.col("c_nationkey").cast("string")),
    ))
    update = """
PREFIX ex: <http://example.org/>
DELETE { ?c ex:inNation ?n . }
INSERT { ?n ex:hasCustomer ?c . }
WHERE { ?c ex:inNation ?n . ?o ex:by ?c . }
"""
    out = execute_update(by_t.unionByName(nat_t), update)
    return out.select("subj", "pred", F.col("obj_iri").alias("obj"))


def _order_nation_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H orders/customer rendered as triples — the shared input of the
    SPARQL aggregation-surface driver queries (order -by-> customer,
    order -okey-> integer literal, customer -inNation-> nation IRI)."""
    from rdfcmap_spark import vocab as V

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, kind, obj_iri, lex, dt):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            kind.cast("string").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), dt.cast("string").alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    osub = F.concat(F.lit(EX + "order/"), F.col("o_orderkey").cast("string"))
    csub = F.concat(F.lit(EX + "customer/"), F.col("c_custkey").cast("string"))
    ord_t = orders.select(F.explode(F.array(
        t(osub, F.lit(EX + "by"), F.lit("iri"),
          F.concat(F.lit(EX + "customer/"), F.col("o_custkey").cast("string")), null_s, null_s),
        t(osub, F.lit(EX + "okey"), F.lit("literal"), null_s,
          F.col("o_orderkey").cast("string"), F.lit(V.XSD + "integer")),
    )).alias("x")).select("x.*")
    nat_t = customer.select(t(
        csub, F.lit(EX + "inNation"), F.lit("iri"),
        F.concat(F.lit(EX + "nation/"), F.col("c_nationkey").cast("string")),
        null_s, null_s,
    ).alias("x")).select("x.*")
    return ord_t.unionByName(nat_t)


def _kg_sparql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL aggregation surface (operators/sparql_exec.py `_aggregate`):
    COUNT(*) / COUNT(DISTINCT) / SUM + GROUP BY compile to one
    hash-aggregate exchange over the BGP join. SUM goes through the lexical
    try_cast; the summed values are integer-valued so the double sum is
    exact and order-independent. MIN is over the IRI binding string (no
    float-formatting parity risk vs the oracle)."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql

    triples = _order_nation_triples(spark, sf_dir)
    query = """
PREFIX ex: <http://example.org/>
SELECT ?nation (COUNT(*) AS ?n_orders) (COUNT(DISTINCT ?cust) AS ?n_custs)
       (SUM(?okey) AS ?key_sum) (MIN(?ord) AS ?first_ord) WHERE {
  ?ord ex:by ?cust .
  ?cust ex:inNation ?nation .
  ?ord ex:okey ?okey .
}
GROUP BY ?nation
ORDER BY ?nation
"""
    return execute_sparql(triples, query)


def _kg_sparql_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING + GROUP_CONCAT + SAMPLE (operators/sparql_exec.py
    `_aggregate` / `_rewrite_having`): the HAVING constraints mix a grouped
    variable (the nation-IRI cut really filters groups at every sf — 25
    nations always exist) with hidden aggregate columns (COUNT DISTINCT /
    SUM rewritten to __hN, computed in the same hash aggregate, dropped
    before projection). GROUP_CONCAT concatenates sorted-DISTINCT customer
    IRIs (oracle: string_agg ORDER BY); SAMPLE is the deterministic binding
    MIN."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql

    triples = _order_nation_triples(spark, sf_dir)
    query = """
PREFIX ex: <http://example.org/>
SELECT ?nation (COUNT(*) AS ?n_orders)
       (GROUP_CONCAT(DISTINCT ?cust; SEPARATOR=",") AS ?custs)
       (SAMPLE(?ord) AS ?any_ord) WHERE {
  ?ord ex:by ?cust .
  ?cust ex:inNation ?nation .
  ?ord ex:okey ?okey .
}
GROUP BY ?nation
HAVING (?nation >= "http://example.org/nation/10") (COUNT(DISTINCT ?cust) >= 1) (SUM(?okey) > 0)
ORDER BY ?nation
"""
    return execute_sparql(triples, query)


def _kg_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSTRUCT-form execution (operators/sparql_exec.py `_construct`):
    rule-based triple materialization — the WHERE bindings instantiate a
    two-pattern template into a TRIPLES-shaped frame with set semantics
    (one distinct exchange). The ?ord pattern makes 'has at least one
    order' an EXISTS-style gate the oracle mirrors with a semi-join."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql
    from rdfcmap_spark import vocab as V

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, kind, obj_iri, lex, dt):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            kind.cast("string").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), dt.cast("string").alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    osub = F.concat(F.lit(EX + "order/"), F.col("o_orderkey").cast("string"))
    csub = F.concat(F.lit(EX + "customer/"), F.col("c_custkey").cast("string"))
    ord_t = orders.select(t(
        osub, F.lit(EX + "by"), F.lit("iri"),
        F.concat(F.lit(EX + "customer/"), F.col("o_custkey").cast("string")),
        null_s, null_s,
    ).alias("x")).select("x.*")
    cust_t = customer.select(F.explode(F.array(
        t(csub, F.lit(EX + "inNation"), F.lit("iri"),
          F.concat(F.lit(EX + "nation/"), F.col("c_nationkey").cast("string")), null_s, null_s),
        t(csub, F.lit(EX + "mktsegment"), F.lit("literal"), null_s,
          F.col("c_mktsegment"), F.lit(V.XSD_STRING)),
    )).alias("x")).select("x.*")
    triples = ord_t.unionByName(cust_t)
    query = """
PREFIX ex: <http://example.org/>
CONSTRUCT {
  ?cust ex:orderedIn ?nation .
  ?cust ex:label ?seg .
  ?cust a ex:ActiveCustomer .
} WHERE {
  ?ord ex:by ?cust .
  ?cust ex:inNation ?nation .
  ?cust ex:mktsegment ?seg .
}
"""
    return execute_sparql(triples, query)


def _kg_sparql_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER NOT EXISTS execution (operators/sparql_exec.py): the subgroup
    (with its own inner FILTER) runs as a group, then anti-joins the outer
    bindings on the shared variable — one LeftAnti hash join, no correlated
    subquery. Orders whose customer does NOT have a balance over 5000."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql
    from rdfcmap_spark import vocab as V

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, kind, obj_iri, lex, dt):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            kind.cast("string").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), dt.cast("string").alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    ord_t = orders.select(t(
        F.concat(F.lit(EX + "order/"), F.col("o_orderkey").cast("string")),
        F.lit(EX + "by"), F.lit("iri"),
        F.concat(F.lit(EX + "customer/"), F.col("o_custkey").cast("string")),
        null_s, null_s,
    ).alias("x")).select("x.*")
    bal_t = customer.select(t(
        F.concat(F.lit(EX + "customer/"), F.col("c_custkey").cast("string")),
        F.lit(EX + "balance"), F.lit("literal"), null_s,
        F.col("c_acctbal").cast("string"), F.lit(V.XSD + "decimal"),
    ).alias("x")).select("x.*")
    triples = ord_t.unionByName(bal_t)
    query = """
PREFIX ex: <http://example.org/>
SELECT ?ord WHERE {
  ?ord ex:by ?cust .
  FILTER NOT EXISTS { ?cust ex:balance ?b . FILTER(?b > 5000) }
}
"""
    return execute_sparql(triples, query)


def _kg_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE + VALUES execution (operators/sparql_exec.py): the inline
    VALUES table broadcast-joins into the BGP as the most selective unit,
    then DESCRIBE semi-joins the triples frame once against the matched
    node set and returns their distinct subject-description graph."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql
    from rdfcmap_spark import vocab as V

    customer = load(spark, sf_dir, "customer")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, kind, obj_iri, lex, dt):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            kind.cast("string").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), dt.cast("string").alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    csub = F.concat(F.lit(EX + "customer/"), F.col("c_custkey").cast("string"))
    triples = customer.select(F.explode(F.array(
        t(csub, F.lit(EX + "mktsegment"), F.lit("literal"), null_s,
          F.col("c_mktsegment"), F.lit(V.XSD_STRING)),
        t(csub, F.lit(EX + "inNation"), F.lit("iri"),
          F.concat(F.lit(EX + "nation/"), F.col("c_nationkey").cast("string")), null_s, null_s),
        t(csub, F.lit(EX + "hasName"), F.lit("literal"), null_s,
          F.col("c_name"), F.lit(V.XSD_STRING)),
    )).alias("x")).select("x.*")
    query = """
PREFIX ex: <http://example.org/>
DESCRIBE ?cust WHERE {
  VALUES ?seg { "BUILDING" "MACHINERY" }
  ?cust ex:mktsegment ?seg .
}
"""
    return execute_sparql(triples, query)


def _kg_sparql_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIND execution (operators/sparql_exec.py `compile_bind`): value
    expressions become `withColumn` binding-encoded columns — arithmetic in
    double (integer-valued here, so the double→string lexical is
    formatting-stable vs DuckDB), IF/CONCAT/LCASE/STRLEN string logic, and
    a group FILTER that references a BIND variable (whole-group filter
    scope). No per-row Python anywhere."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql
    from rdfcmap_spark import vocab as V

    customer = load(spark, sf_dir, "customer")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, kind, obj_iri, lex, dt):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            kind.cast("string").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), dt.cast("string").alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    csub = F.concat(F.lit(EX + "customer/"), F.col("c_custkey").cast("string"))
    triples = customer.select(F.explode(F.array(
        t(csub, F.lit(EX + "key"), F.lit("literal"), null_s,
          F.col("c_custkey").cast("string"), F.lit(V.XSD + "integer")),
        t(csub, F.lit(EX + "balance"), F.lit("literal"), null_s,
          F.col("c_acctbal").cast("string"), F.lit(V.XSD + "decimal")),
        t(csub, F.lit(EX + "mktsegment"), F.lit("literal"), null_s,
          F.col("c_mktsegment"), F.lit(V.XSD_STRING)),
    )).alias("x")).select("x.*")
    query = """
PREFIX ex: <http://example.org/>
SELECT ?cust ?score ?tier ?seglen WHERE {
  ?cust ex:key ?key .
  ?cust ex:balance ?bal .
  ?cust ex:mktsegment ?seg .
  BIND(?key * 3 + 7 AS ?score)
  BIND(IF(?bal > 5000, "high", CONCAT("low-", LCASE(?seg))) AS ?tier)
  BIND(STRLEN(?seg) AS ?seglen)
  FILTER(?score > 40)
}
"""
    return execute_sparql(triples, query)


def _kg_sparql_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL value-function tail over events-derived triples: xsd:dateTime
    component accessors YEAR/MONTH/DAY/HOURS/MINUTES/SECONDS/TZ (§17.4.5 —
    they read the literal's own lexical form, no zone normalization), hash
    digests MD5/SHA256 (§17.4.4), ENCODE_FOR_URI (§17.4.3.4, RFC 3986
    percent-encoding as a split/transform/hex column fold), the IRI() and
    STRLANG() term constructors, and a boolean call in BIND value position
    (isIRI -> xsd:boolean literal). All compiled to JVM columns in
    operators/sparql_exec.py — no per-row Python."""
    from rdfcmap_spark.operators.sparql_exec import execute_sparql
    from rdfcmap_spark import vocab as V

    events = load(spark, sf_dir, "events")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    def t(subj, pred, kind, obj_iri, lex, dt):
        return F.struct(
            subj.cast("string").alias("subj"), pred.cast("string").alias("pred"),
            kind.cast("string").alias("obj_kind"), obj_iri.cast("string").alias("obj_iri"),
            lex.cast("string").alias("obj_lexical"), dt.cast("string").alias("obj_datatype"),
            null_s.alias("conv_id"), F.lit(None).cast("int").alias("turn_idx"),
        )

    esub = F.concat(F.lit(EX + "event/"), F.col("event_id").cast("string"))
    triples = events.select(F.explode(F.array(
        t(esub, F.lit(EX + "at"), F.lit("literal"), null_s,
          F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit(V.XSD + "dateTime")),
        t(esub, F.lit(EX + "type"), F.lit("literal"), null_s,
          F.col("event_type"), F.lit(V.XSD_STRING)),
        t(esub, F.lit(EX + "props"), F.lit("literal"), null_s,
          F.col("props"), F.lit(V.XSD_STRING)),
    )).alias("x")).select("x.*")
    query = """
PREFIX ex: <http://example.org/>
SELECT ?ev ?y ?mo ?d ?h ?mi ?s ?tz ?m5 ?dig ?propiri ?tagged ?isres WHERE {
  ?ev ex:at ?t .
  ?ev ex:type ?k .
  ?ev ex:props ?pr .
  BIND(YEAR(?t) AS ?y)   BIND(MONTH(?t) AS ?mo)   BIND(DAY(?t) AS ?d)
  BIND(HOURS(?t) AS ?h)  BIND(MINUTES(?t) AS ?mi) BIND(SECONDS(?t) AS ?s)
  BIND(TZ(?t) AS ?tz)
  BIND(MD5(?k) AS ?m5)
  BIND(SHA256(?pr) AS ?dig)
  BIND(IRI(CONCAT("http://example.org/props/", ENCODE_FOR_URI(?pr))) AS ?propiri)
  BIND(STRLANG(?k, "EN") AS ?tagged)
  BIND(isIRI(?propiri) AS ?isres)
  FILTER(MONTH(?t) >= 1 && MONTH(?t) <= 12)
}
"""
    return execute_sparql(triples, query)


def _kg_sparql_graph_mgmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Update graph management (§3.2) over the lineage named
    graphs (operators/sparql_exec.py `execute_graph_update`): a MOVE →
    ADD → CLEAR → COPY-to-DEFAULT sequence over orders-derived quads. The
    ADD's idempotence bite is a 'shared' triple present in every graph with
    the same provenance — it must NOT duplicate when ADD lands on a graph
    that already holds it. All ops are lineage-filter + union frames
    (partition-prunable at scale); nothing driver-side."""
    from rdfcmap_spark.operators.sparql_exec import execute_update_script

    orders = load(spark, sf_dir, "orders")
    EX = "http://example.org/"
    null_s = F.lit(None).cast("string")

    base = orders.select(
        F.concat(F.lit(EX + "order/"), F.col("o_orderkey").cast("string")).alias("subj"),
        F.lit(EX + "status").alias("pred"),
        F.lit("literal").alias("obj_kind"),
        null_s.alias("obj_iri"),
        F.col("o_orderstatus").cast("string").alias("obj_lexical"),
        F.lit("http://www.w3.org/2001/XMLSchema#string").alias("obj_datatype"),
        F.concat(F.lit("g"), (F.col("o_orderkey") % 5).cast("string")).alias("conv_id"),
        (F.col("o_orderkey") % 100).cast("int").alias("turn_idx"),
    ).unionByName(
        spark.range(5).select(
            F.lit(EX + "shared").alias("subj"),
            F.lit(EX + "tag").alias("pred"),
            F.lit("literal").alias("obj_kind"),
            null_s.alias("obj_iri"),
            F.lit("x").alias("obj_lexical"),
            F.lit("http://www.w3.org/2001/XMLSchema#string").alias("obj_datatype"),
            F.concat(F.lit("g"), F.col("id").cast("string")).alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
        )
    )
    t = execute_update_script(
        base,
        """MOVE <urn:conv:g0> TO <urn:conv:g1> ;
ADD <urn:conv:g2> TO <urn:conv:g1> ;
CLEAR GRAPH <urn:conv:g3> ;
COPY <urn:conv:g4> TO DEFAULT""",
    )
    return t.select(
        "subj", "pred", F.col("obj_lexical").alias("lex"), "conv_id", "turn_idx"
    )


def _o3_concepts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic positioned concept maps from ``part``: 20 maps, dense
    0..359 coordinate range so the O3 probe-and-bump actually fires."""
    part = load(spark, sf_dir, "part")
    return part.select(
        (F.col("p_partkey") % 20).cast("bigint").alias("conv_id"),
        F.col("p_partkey").cast("bigint").alias("node"),
        ((F.col("p_partkey") * 37) % 360).cast("bigint").alias("x"),
        ((F.col("p_partkey") * 59) % 360).cast("bigint").alias("y"),
    )


def _o3_links(concepts: DataFrame) -> DataFrame:
    # chain each node to its same-map successor (node + 20 keeps the map id)
    a = concepts.select("conv_id", F.col("node").alias("src"))
    b = concepts.select(F.col("conv_id").alias("conv2"), F.col("node").alias("dst"))
    return (
        a.join(b, (F.col("dst") == F.col("src") + 20) & (F.col("conv_id") == F.col("conv2")))
        .select("conv_id", F.col("src").alias("link_id"), "src", "dst")
    )


def _kg_m1_node_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: box width/height clamps + font ladder over the G4 hierarchy
    levels (`VisualizationInfoBuilder.java:1215-1277`)."""
    from rdfcmap_spark.operators import layout

    return layout.node_sizes(relational.g4_hierarchy_levels(spark))


def _kg_o3_link_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: linking-phrase midpoints + removeOverlap bump per concept map
    (`Layouter.updateLinkLocations:178-255`, `removeOverlap:257-302`)."""
    from rdfcmap_spark.operators import layout

    concepts = _o3_concepts(spark, sf_dir)
    return layout.link_positions(concepts, _o3_links(concepts))


def _kg_g9_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9: deterministic per-map force-directed layout
    (`Layouter.doAutoLayout:773-794`).  Iterative float kernel — no SQL
    oracle; the driver records the rows-only check and pytest pins
    determinism, the +100 min-shift, and cluster separation."""
    from rdfcmap_spark.operators import layout

    concepts = _o3_concepts(spark, sf_dir)
    edges = _o3_links(concepts).select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.concat(F.lit("n"), F.col("src").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("dst").cast("string")).alias("dst"),
    )
    from rdfcmap_spark.operators.layout import force_layout

    return force_layout(edges, iters=30)


def _suggestion_fragments() -> list[str]:
    """Planted miss norms for the partial-hit report: the distinct first
    words (len >= 4) of the resolved dictionary labels — every fragment is
    contained in at least one label, so the contains join has real bite —
    plus one guaranteed no-hit probe. Shared verbatim by the Spark query
    and the DuckDB oracle."""
    from rdfcmap_spark.operators.linking import resolved_alias_rows

    words = {r[0].split()[0] for r in resolved_alias_rows() if len(r[0].split()[0]) >= 4}
    # 4-char prefixes collide across labels ("prec"/"pres"/"proc"/"prod"…),
    # so several misses get multiple candidates and the top-k ordering has
    # real bite, not just rank=1 rows
    frags = sorted(words | {w[:4] for w in words})
    return frags + ["zzz-unmatchable"]


def _kg_unresolved_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unresolved-label partial-hit report (`RdfUtil.java:531-537`):
    broadcast contains join of missed norms against the alias dictionary,
    top-5 per miss by closest length."""
    from rdfcmap_spark.operators.linking import (
        resolved_alias_df,
        unresolved_suggestions,
    )

    frags = _suggestion_fragments()
    part = load(spark, sf_dir, "part")
    misses = part.select(
        F.element_at(
            F.array(*[F.lit(x) for x in frags]),
            (F.col("p_partkey") % len(frags) + 1).cast("int"),
        ).alias("norm")
    )
    return unresolved_suggestions(misses, resolved_alias_df(spark), k=5)


def _kg_viz_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visualization-twin minting (`VisualizationInfoBuilder.java:40-350`):
    per urn:uuid instance, the afv: twin with hasObject/type/identifier/
    title/hasMap/comments/position-walk/width/height — the --update parity
    product. Fixture: one titled instance per customer."""
    from rdfcmap_spark import vocab as V
    from rdfcmap_spark.operators.reverse import viz_twins

    customer = load(spark, sf_dir, "customer")
    subj = F.concat(
        F.lit("urn:uuid:"), F.md5(F.concat(F.lit("c:"), F.col("c_custkey").cast("string")))
    )
    triples = customer.select(
        subj.alias("subj"),
        F.lit(V.DCT_TITLE).alias("pred"),
        F.lit("literal").alias("obj_kind"),
        F.lit(None).cast("string").alias("obj_iri"),
        F.col("c_name").cast("string").alias("obj_lexical"),
        F.lit(V.XSD_STRING).alias("obj_datatype"),
    )
    return viz_twins(triples)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG construction (extract -> link -> assemble ->
    canonicalize) over deterministic synthetic transcripts at sf0.001 scale,
    unioned with triples lifted from the sf0.001 relational tables via the
    J1 two-hop assembly — both paths of SURVEY.md §3.1."""
    sf_dir = "/root/testdata/sf0.001"
    triples = _kg_pipeline_full(spark, sf_dir)
    rel = relational.j1_triple_assembly(
        load(spark, sf_dir, "customer"), load(spark, sf_dir, "nation"), load(spark, sf_dir, "region")
    ).select(
        F.col("from_concept").alias("subj"),
        F.concat(F.lit("urn:pred:"), F.col("link_label")).alias("pred"),
        F.lit("iri").alias("obj_kind"),
        F.col("to_concept").alias("obj_iri"),
        F.lit(None).cast("string").alias("obj_lexical"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
    )
    return triples.unionByName(rel)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

# Driver-window rotation (round 4): the driver's CORRECTNESS gate samples the
# FIRST 50 registry keys each round.  Rounds 1-3 covered the SURVEY §2 family
# (74 distinct queries hold driver-green rows in CORRECTNESS_r01-r03); the
# names below have never had a driver row, so they are promoted to the front
# of the dict — new round-4 queries first, then the never-checked tier.  The
# full 145+-query gate is still `tools/check_oracle.py` (run locally every
# session); this ordering only decides which slice the driver artifact
# re-verifies this round.
_DRIVER_WINDOW_PRIORITY = [
    # new in round 5 (driver-check immediately)
    "sim_ann_recall_sampled",
    "kg_growth_curve",
    "multimodal_resize_real",
    "multimodal_audio_features",
    "dedup_group_sizes",
    "text_bpe_pairs",
    "dedup_bucket_stats",
    "kg_degree_profile",
    "kg_turn_sft_pairs",
    "sim_hard_negatives",
    # the final 32 never-driver-checked queries (no row in CORRECTNESS_r01-r04;
    # the r1-r4 union covers 124/156 — this window finishes the job)
    "dedup_embedding_lsh",
    "dedup_embedding_groups",
    "text_repetition",
    "text_quality_filter",
    "text_pii_redact",
    "text_lm_score",
    "text_lm_bigram",
    "text_tfidf_keywords",
    "text_decontaminate",
    "text_pii_scan",
    "data_split",
    "data_shuffle_order",
    "pack_concat_chunk",
    "pack_greedy",
    "data_cap_per_source",
    "data_sample_stratified",
    "multimodal_resize",
    "multimodal_frame_sample",
    "chat_render",
    "chat_sft_pairs",
    "chat_role_check",
    "chat_conv_stats",
    "chat_latency",
    "chat_dialog_acts",
    "chat_tool_transitions",
    "chat_truncate_budget",
    "chat_dup_groups",
    "chat_quality",
    "chat_stream_conv_stats",
    "chat_entity_pmi",
    "chat_entity_timeline",
    "chat_pronoun_coref",
    # multimodal_features rides here too: round 5 replaces its stubbed
    # payload stats with a real PNG/BMP decode, so re-verify it in-window.
    "multimodal_features",
]
# Everything else already holds a driver-green row in CORRECTNESS_r01-r04;
# no tail list is needed this round (the window above is 34 names + round-5
# additions, comfortably inside the 50-slot driver sample).
_DRIVER_WINDOW_NEXT: list[str] = []


def _rotate_for_driver_window(
    q: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    front = [k for k in _DRIVER_WINDOW_PRIORITY + _DRIVER_WINDOW_NEXT if k in q]
    ordered = {k: q[k] for k in front}
    ordered.update({k: v for k, v in q.items() if k not in ordered})
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- KG operator coverage (SURVEY.md §2) over relational inputs ---
        "kg_j1_triple_assembly": lambda s, d: relational.j1_triple_assembly(
            load(s, d, "customer"), load(s, d, "nation"), load(s, d, "region")
        ),
        "kg_j2_entity_linking": lambda s, d: relational.j2_entity_linking(load(s, d, "part")),
        "kg_j3_deprecated_redirect": lambda s, d: relational.j3_deprecated_redirect(load(s, d, "part")),
        "kg_j4_twin_join": lambda s, d: relational.j4_twin_join(load(s, d, "orders")),
        "kg_f2_triage": lambda s, d: relational.f2_triage(load(s, d, "orders")),
        "kg_f3_property_skiplist": lambda s, d: relational.f3_property_skiplist(load(s, d, "orders")),
        "kg_j5_endpoint_typing": lambda s, d: relational.j5_endpoint_typing(
            load(s, d, "orders"), load(s, d, "customer")
        ),
        "kg_j8_cardinality_match": lambda s, d: relational.j8_cardinality_match(load(s, d, "part")),
        "kg_a2_instance_assembly": lambda s, d: relational.a2_instance_assembly(
            load(s, d, "customer"), load(s, d, "nation"), load(s, d, "region")
        ),
        "kg_x7_obo_prefix": lambda s, d: relational.x7_obo_prefix(load(s, d, "part")),
        "kg_x8_camel_case": lambda s, d: relational.x8_qudt_camel_case(load(s, d, "part")),
        "kg_x13_comments": lambda s, d: relational.x13_comment_annotation(load(s, d, "part")),
        "kg_f6_orphan_cleanup": lambda s, d: relational.f6_orphan_cleanup(
            load(s, d, "customer"), load(s, d, "orders")
        ),
        "kg_f7_stale_edge_sync": lambda s, d: relational.f7_stale_edge_sync(
            load(s, d, "orders"), load(s, d, "lineitem")
        ),
        "kg_u3_delta_apply": lambda s, d: relational.u3_delta_apply(load(s, d, "orders")),
        "kg_first_match_title": lambda s, d: relational.first_match_title(load(s, d, "part")),
        "kg_a4_label_collision": lambda s, d: relational.a4_label_collision(load(s, d, "part")),
        "kg_x9_normalize": lambda s, d: relational.x9_normalize(load(s, d, "part")),
        "kg_x3_cardinality": lambda s, d: relational.x3_cardinality(load(s, d, "part")),
        "kg_x12_literal_typing": lambda s, d: relational.x12_literal_typing(load(s, d, "events")),
        "kg_g8_skolemize": lambda s, d: relational.g8_skolemize(load(s, d, "orders")),
        "kg_g1_connected_components": lambda s, d: relational.g1_connected_components(
            load(s, d, "events")
        ),
        "kg_g2_shortest_path": lambda s, d: relational.g2_shortest_paths(load(s, d, "events")),
        "kg_pagerank": lambda s, d: relational.entity_pagerank(load(s, d, "events")),
        "kg_ppr": lambda s, d: relational.entity_ppr(load(s, d, "events")),
        "kg_khop_sample": lambda s, d: relational.khop_neighborhood(load(s, d, "events")),
        "kg_triangle_count": lambda s, d: relational.part_triangle_count(load(s, d, "lineitem")),
        "kg_kcore": lambda s, d: relational.part_kcore(load(s, d, "lineitem")),
        "kg_label_prop": lambda s, d: relational.entity_communities(load(s, d, "events")),
        "kg_ktruss": lambda s, d: relational.part_ktruss(load(s, d, "lineitem")),
        "kg_link_predict": lambda s, d: relational.part_link_predict(load(s, d, "lineitem")),
        "kg_random_walks": lambda s, d: relational.entity_walks(load(s, d, "events")),
        "events_funnel": lambda s, d: relational.event_funnel(load(s, d, "events")),
        "events_cohort_retention": lambda s, d: relational.cohort_retention(
            load(s, d, "events")
        ),
        "data_kg_negatives": lambda s, d: relational.kg_triple_negatives(load(s, d, "events")),
        "kg_g4_hierarchy_level": lambda s, d: relational.g4_hierarchy_levels(s),
        "kg_x4_long_comments": lambda s, d: relational.x4_long_comments(load(s, d, "part")),
        "kg_x6_prefix_compact": lambda s, d: relational.x6_prefix_compact(load(s, d, "part")),
        "kg_sparql_body": _kg_sparql_body,
        "kg_title_ladder": _kg_title_ladder,
        "kg_reverse_literals": _kg_reverse_literals,
        "kg_ontology": _kg_ontology,
        "kg_shacl_shapes": lambda s, d: relational.shacl_shape_summary(
            load(s, d, "customer"), load(s, d, "orders"), load(s, d, "nation")
        ),
        # round 4: the full SHACL shapes GRAPH (sh:NodeShape/sh:property
        # triples with RDF-list sh:path cons cells, ShapesCreator2.java)
        "kg_shacl_graph": lambda s, d: relational.shacl_graph_product(
            load(s, d, "customer"), load(s, d, "orders"), load(s, d, "nation"),
            load(s, d, "region")
        ),
        # round 4: afv: visualization twins (position walk + defaults)
        "kg_viz_twins": _kg_viz_twins,
        # round 4: unresolved-label partial-hit suggestions
        "kg_unresolved_suggestions": _kg_unresolved_suggestions,
        # --- round-3 reference-parity additions ---
        "kg_m1_node_sizing": _kg_m1_node_sizing,
        "kg_o3_link_overlap": _kg_o3_link_overlap,
        "kg_g9_layout": _kg_g9_layout,
        "kg_owl_read": _kg_owl_read,
        "kg_langtag_roundtrip": _kg_langtag_roundtrip,
        "kg_pathfinder": _kg_pathfinder,
        "kg_sparql_outside": _kg_sparql_outside,
        "kg_sparql_exec": _kg_sparql_exec,
        "kg_sparql_exec_full": _kg_sparql_exec_full,
        "kg_sparql_path": _kg_sparql_path,
        "kg_sparql_path_star": _kg_sparql_path_star,
        "kg_sparql_nps": _kg_sparql_nps,
        "kg_sparql_subquery": _kg_sparql_subquery,
        "kg_sparql_values": _kg_sparql_values,
        "kg_sparql_ask": _kg_sparql_ask,
        "kg_sparql_graph": _kg_sparql_graph,
        "kg_sparql_update": _kg_sparql_update,
        "kg_sparql_agg": _kg_sparql_agg,
        "kg_sparql_having": _kg_sparql_having,
        "kg_sparql_construct": _kg_sparql_construct,
        "kg_sparql_not_exists": _kg_sparql_not_exists,
        "kg_sparql_describe": _kg_sparql_describe,
        "kg_sparql_bind": _kg_sparql_bind,
        "kg_sparql_builtins": _kg_sparql_builtins,
        "kg_sparql_graph_mgmt": _kg_sparql_graph_mgmt,
        # W3C result-set serializations of one SELECT (CSV/TSV/JSON wire
        # formats, operators/sparql_results.py)
        "kg_sparql_results_csv": lambda s, d: _results_serialized(s, d, "csv"),
        "kg_sparql_results_tsv": lambda s, d: _results_serialized(s, d, "tsv"),
        "kg_sparql_results_json": lambda s, d: _results_serialized(s, d, "json"),
        "kg_sparql_results_xml": lambda s, d: _results_serialized(s, d, "xml"),
        # --- full text->KG pipeline (rows-only; P/R-tested in pytest) ---
        "kg_pipeline_full": _kg_pipeline_full,
        "kg_rdfs_entail": _kg_rdfs_entail,
        "kg_triple_support": _kg_triple_support,
        # temporal KG: first/last assertion ts per canonical triple
        "kg_triple_timeline": _kg_triple_timeline,
        "kg_growth_curve": _kg_growth_curve,
        "kg_turn_sft_pairs": _kg_turn_sft_pairs,
        # round 5: undirected degree-distribution histogram of the
        # constructed KG (structural health monitor)
        "kg_degree_profile": lambda s, d: graphops.degree_profile(_kg_pipeline_full(s, d)),
        # KG quality: multi-valued-fact conflict report over the pipeline
        "kg_conflicts": lambda s, d: relational.fact_conflicts(_kg_pipeline_full(s, d)),
        # temporal merge policy: latest-asserted value wins per conflict
        "kg_conflicts_resolved": _kg_conflicts_resolved,
        "kg_jsonl_roundtrip": _kg_jsonl_roundtrip,
        "kg_canonical_mapping": _kg_canonical_mapping,
        "kg_incremental_canon": _kg_incremental_canon,
        "kg_staged_resume": _kg_staged_resume,
        "kg_ttl_roundtrip": _kg_ttl_roundtrip,
        "kg_ttl_noprefix_roundtrip": _kg_ttl_noprefix_roundtrip,
        "kg_anonymize": lambda s, d: relational.anonymize_instances(_kg_pipeline_full(s, d)),
        "kg_nquads_roundtrip": _kg_nquads_roundtrip,
        # --- streaming (oracle-checked against the batch SQL) ---
        "events_stream_rollup": _events_stream_rollup,
        # --- dedup family ---
        "dedup_exact": lambda s, d: dedup.exact_dedup(load(s, d, "documents")),
        "dedup_minhash_lsh": lambda s, d: dedup.lsh_candidate_pairs(load(s, d, "documents")),
        "dedup_ngram_jaccard": lambda s, d: dedup.ngram_jaccard_pairs(load(s, d, "documents")),
        "dedup_lsh_verified": lambda s, d: _lsh_verified(load(s, d, "documents")),
        # recall of the banded index vs exact within-block truth at 0.5
        "dedup_lsh_recall": lambda s, d: dedup.lsh_recall(load(s, d, "documents")),
        "dedup_simhash": lambda s, d: dedup.simhash_signatures(load(s, d, "documents")),
        "dedup_simhash_pairs": lambda s, d: dedup.simhash_pairs(load(s, d, "documents")),
        "dedup_simhash_groups": lambda s, d: dedup.simhash_groups(load(s, d, "documents")),
        # linear-output product: doc -> canonical keep-id (exact collapse ->
        # LSH over representatives -> verify -> connected components)
        "dedup_dup_groups": lambda s, d: dedup.dup_groups(load(s, d, "documents")),
        # round 5: cluster-size histogram over the groups product (the
        # standard dedup diagnostic — fat tail = boilerplate content)
        "dedup_group_sizes": lambda s, d: dedup.dup_group_sizes(load(s, d, "documents")),
        # round 5: LSH bucket-size histogram per band — the blocking-skew
        # diagnostic (candidate mass = sum c(c-1)/2 over bucket sizes)
        "dedup_bucket_stats": lambda s, d: dedup.lsh_bucket_stats(load(s, d, "documents")),
        # incremental maintenance path: fold a new batch (doc_id % 4 == 0)
        # into the mapping built from the rest; contract == full recompute,
        # so the oracle is dup_groups' own naive all-docs SQL
        "dedup_incremental_groups": lambda s, d: dedup.incremental_dup_groups(
            load(s, d, "documents").filter(F.col("doc_id") % 4 != 0),
            dedup.dup_groups(load(s, d, "documents").filter(F.col("doc_id") % 4 != 0)),
            load(s, d, "documents").filter(F.col("doc_id") % 4 == 0),
        ),
        # corpus-level repeated-span removal (C4-style): first occurrence of
        # each 8-word span survives, later occurrences drop, docs reassembled
        "dedup_span": lambda s, d: dedup.span_dedup(load(s, d, "documents")),
        "dedup_embedding_cosine": lambda s, d: similarity.embedding_dup_pairs(
            load(s, d, "embeddings"), threshold=0.3
        ),
        # --- similarity search ---
        "sim_topk_bruteforce": lambda s, d: similarity.topk_bruteforce(load(s, d, "embeddings")),
        "sim_topk_ivf": lambda s, d: similarity.topk_ivf(load(s, d, "embeddings")),
        "sim_topk_pq": lambda s, d: similarity.topk_pq(load(s, d, "embeddings")),
        "sim_topk_pq_refined": lambda s, d: similarity.topk_pq_refined(
            load(s, d, "embeddings")
        ),
        "sim_topk_ivfpq": lambda s, d: similarity.topk_ivfpq(load(s, d, "embeddings")),
        "sim_kmeans": lambda s, d: similarity.kmeans_iterate(load(s, d, "embeddings")),
        # recall@5 of IVF vs exact brute force (the ANN quality gate)
        "sim_ann_recall": lambda s, d: similarity.ann_recall(load(s, d, "embeddings")),
        # the production-shaped recurring gate (round 5): a 16x-sparser
        # deterministic query sample — the bigscale 200k x 4k point drops
        # from 625 s to <60 s; recall is a corpus property so the thin
        # sample estimates it (threading demanded by the r4 review)
        "sim_ann_recall_sampled": lambda s, d: similarity.ann_recall(
            load(s, d, "embeddings"), query_mod=16 * similarity.QUERY_MOD
        ),
        # round 5: hard-negative mining — per query, the k closest corpus
        # vectors that are NOT its near-duplicates (contrastive training
        # pairs; positives = the hyperplane-LSH dup component)
        "sim_hard_negatives": lambda s, d: similarity.hard_negatives(
            load(s, d, "embeddings")
        ),
        # quality-gated retrieval: corpus pruned by the C4/Gopher keep bit
        "sim_filtered_topk": lambda s, d: similarity.filtered_topk(
            load(s, d, "embeddings"), load(s, d, "documents")
        ),
        "data_mixture_weights": lambda s, d: traindata.mixture_weights(
            load(s, d, "documents")
        ),
        "sim_topk_bucketed": lambda s, d: similarity.topk_clustered(load(s, d, "embeddings")),
        "sim_cluster_assign": lambda s, d: similarity.assign_clusters(
            load(s, d, "embeddings"), similarity.centroids(load(s, d, "embeddings"))
        ),
        # hyperplane-LSH blocking keys (full oracle bite on the plane/fold/
        # packing math — the pair query below is empty at oracle scale
        # because the synthetic sf tables have no high-cosine pairs)
        "sim_hyperplane_sig": lambda s, d: similarity.hyperplane_signatures(
            load(s, d, "embeddings")
        ),
        # corpus-scale embedding near-dup: hyperplane-banded + cosine verify
        "dedup_embedding_lsh": lambda s, d: similarity.embedding_dup_pairs_lsh(
            load(s, d, "embeddings")
        ),
        # linear-output twin: vec -> canonical cluster id
        "dedup_embedding_groups": lambda s, d: similarity.embedding_dup_groups(
            load(s, d, "embeddings")
        ),
        # --- text analysis ---
        "text_token_stats": lambda s, d: textstats.token_stats(load(s, d, "documents")),
        "text_quality": lambda s, d: textstats.quality_scores(load(s, d, "documents")),
        "text_langid": lambda s, d: textstats.lang_id(load(s, d, "documents")),
        "text_fingerprint": lambda s, d: textstats.fingerprints(load(s, d, "documents")),
        "text_repetition": lambda s, d: textstats.repetition_stats(load(s, d, "documents")),
        # composite C4/Gopher keep/drop verdict with per-rule flags; all
        # thresholds are integer cross-multiplications (engine-exact)
        "text_quality_filter": lambda s, d: textstats.quality_filter(load(s, d, "documents")),
        # precise-replace PII redaction (ordered patterns, progressive counts)
        "text_pii_redact": lambda s, d: textstats.pii_redact(load(s, d, "documents")),
        "text_lm_score": lambda s, d: textstats.lm_score(load(s, d, "documents")),
        "text_lm_bigram": lambda s, d: textstats.lm_score_bigram(load(s, d, "documents")),
        "text_tfidf_keywords": lambda s, d: textstats.tfidf_keywords(load(s, d, "documents")),
        # corpus 3-gram heavy hitters (boilerplate detector), top-20 by df
        "text_top_ngrams": lambda s, d: textstats.top_ngrams(load(s, d, "documents")),
        # round 5: the first BPE merge step — corpus-wide adjacent
        # character-pair counts within words (the tokenizer-training
        # statistic), TakeOrdered top-k
        "text_bpe_pairs": lambda s, d: textstats.bpe_pair_counts(load(s, d, "documents")),
        # benchmark = deterministic 5% sample (doc_id % 20): in production the
        # benchmark frame is the eval suite; here it must be derivable from
        # the shared parquet views so the DuckDB oracle sees the same set
        "text_decontaminate": lambda s, d: textstats.decontaminate(
            load(s, d, "documents"),
            load(s, d, "documents").filter(F.col("doc_id") % 20 == 0),
        ),
        "text_pii_scan": lambda s, d: textstats.pii_scan(load(s, d, "documents")),
        # --- training-corpus assembly (operators/traindata.py) ---
        "data_split": lambda s, d: traindata.split_assign(load(s, d, "documents")),
        # RAG/pretraining chunking: 64-token windows, 16-token overlap
        "data_chunking": lambda s, d: traindata.chunk_documents(
            load(s, d, "documents"), window=64, overlap=16
        ),
        # deterministic global corpus shuffle: distributed ordinal via range
        # exchange + per-partition rank + in-plan prefix-sum offsets (no
        # single-partition window over the data)
        "data_shuffle_order": lambda s, d: traindata.shuffle_order(load(s, d, "documents")),
        "pack_concat_chunk": lambda s, d: traindata.pack_concat_chunk(
            load(s, d, "documents"), budget=512, n_shards=8
        ),
        "pack_greedy": lambda s, d: traindata.pack_greedy(
            load(s, d, "documents"), budget=512, n_shards=8
        ),
        # mixing rates: keep all of src0, half of src1, a tenth of src2,
        # 30% of everything else
        # per-source contribution cap (no domain dominates): keep <=10 docs
        # per source by seeded-md5 rank (sources hold 25 at sf0.01 -> real bite)
        "data_cap_per_source": lambda s, d: traindata.cap_per_source(
            load(s, d, "documents"), k=10
        ),
        "data_sample_stratified": lambda s, d: traindata.sample_stratified(
            load(s, d, "documents"),
            {"src0": 1.0, "src1": 0.5, "src2": 0.1},
            default=0.3,
        ),
        # --- multimodal (Arrow mapInPandas) ---
        # multimodal_features is the REAL decode path (round 5): synthesize
        # actual PNG/BMP bytes per doc, decode them with the in-repo codec
        # (functions/imagecodec.py), measure pixel stats; the oracle mirrors
        # the generator's closed-form values, so the whole encode -> zlib ->
        # un-filter -> stats chain is verified bit-for-bit.
        "multimodal_features": lambda s, d: multimodal.real_image_features(
            load(s, d, "documents")
        ),
        "multimodal_resize": lambda s, d: multimodal.resize_media(
            multimodal.extract_features(multimodal.ingest_media(load(s, d, "documents")))
        ),
        # round 5: resize planning composed over REAL decoded dimensions —
        # the whole chain (synth bytes -> codec decode -> integer fit) is
        # measured pixels, no stubs anywhere
        "multimodal_resize_real": lambda s, d: multimodal.resize_media(
            multimodal.real_image_features(load(s, d, "documents")).select(
                "doc_id", "width", "height"
            )
        ),
        "multimodal_frame_sample": lambda s, d: multimodal.sample_frames(
            multimodal.extract_features(multimodal.ingest_media(load(s, d, "documents")))
        ),
        # round 5: REAL audio decode — synthesize RIFF/WAVE PCM bytes,
        # decode with the in-repo codec (functions/audiocodec.py), report
        # stats measured from the decoded samples; oracle = closed-form
        # waveform model (same verification story as the image path)
        "multimodal_audio_features": lambda s, d: multimodal.real_audio_features(
            load(s, d, "documents")
        ),
        # --- conversation-level assembly over the transcripts table
        # (operators/transcripts.py; same synthesized fixture the pipeline
        # oracle reads, so DuckDB sees identical input) ---
        "chat_render": lambda s, d: transcripts.chat_render(_synth_transcripts(s, d)),
        "chat_sft_pairs": lambda s, d: transcripts.sft_pairs(_synth_transcripts(s, d), k=4),
        "chat_role_check": lambda s, d: transcripts.role_check(_synth_transcripts(s, d)),
        "chat_conv_stats": lambda s, d: transcripts.conv_stats(_synth_transcripts(s, d)),
        "chat_latency": lambda s, d: transcripts.turn_latency(_synth_transcripts(s, d)),
        "chat_dialog_acts": lambda s, d: transcripts.dialog_acts(_synth_transcripts(s, d)),
        "chat_tool_transitions": lambda s, d: transcripts.tool_transitions(
            _synth_transcripts(s, d)
        ),
        "chat_truncate_budget": lambda s, d: transcripts.truncate_to_budget(
            _synth_transcripts(s, d), budget=48
        ),
        "chat_dup_groups": lambda s, d: transcripts.conv_dup_groups(_synth_transcripts(s, d)),
        "chat_quality": lambda s, d: transcripts.conv_quality(_synth_transcripts(s, d)),
        "chat_stream_conv_stats": _chat_stream_conv_stats,
        "chat_entity_pmi": lambda s, d: transcripts.entity_pmi(_synth_transcripts(s, d)),
        "chat_entity_timeline": lambda s, d: transcripts.entity_timeline(
            _synth_transcripts(s, d)
        ),
        "chat_pronoun_coref": lambda s, d: transcripts.pronoun_antecedents(
            _synth_transcripts(s, d)
        ),
        # --- analytics / window coverage ---
        "tpch_q1": lambda s, d: relational.tpch_q1(load(s, d, "lineitem")),
        "events_sessionize": lambda s, d: relational.sessionize(load(s, d, "events")),
        "events_hourly_rollup": lambda s, d: relational.hourly_event_rollup(load(s, d, "events")),
    }
    return _rotate_for_driver_window(q)


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; views pre-registered per TESTDATA.md)
# ---------------------------------------------------------------------------

_SHINGLES_CTE = r"""
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 0) + 1)) AS r(i)
  WHERE len(t) >= 3
)
"""

_MINHASH_CTE = (
    _SHINGLES_CTE
    + r""",
mh AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS minhash
  FROM sh, UNNEST(range(0, 16)) AS s(seed)
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
         md5(array_to_string(list_sort(list(CAST(seed AS VARCHAR) || ':' || minhash)), ',')) AS band_key
  FROM mh GROUP BY doc_id, CAST(seed // 4 AS INTEGER)
)
"""
)

# 60-bit simhash (15 md5 hex chars), 4 bands of 15 bits — mirrors
# operators/dedup.py SIMHASH_BITS/SIMHASH_BAND_BITS
_SIMHASH_CTE = r"""
tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents
),
th AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM tok WHERE token <> ''
),
sgn AS (
  SELECT doc_id, pos, CASE WHEN (h >> pos) & 1 = 1 THEN 1 ELSE -1 END AS s
  FROM th, UNNEST(range(0, 60)) AS p(pos)
),
sc AS (SELECT doc_id, pos, sum(s) AS score FROM sgn GROUP BY doc_id, pos),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN score > 0 THEN (1::BIGINT << pos) ELSE 0::BIGINT END) AS BIGINT) AS simhash
  FROM sc GROUP BY doc_id
)
"""

_COS = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 5)"
)

_X9_SQL_CHAIN = r"""
      lower(trim(regexp_replace(
        CASE WHEN len(string_split(c7, ',')) > 1
             THEN trim(coalesce(
                    list_filter(string_split(c7, ','), p -> lower(trim(p)) LIKE 'af%')[1],
                    string_split(c7, ',')[1]))
             ELSE c7 END, '\s+', ' ', 'g')))
"""


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["kg_j1_triple_assembly"] = r"""
WITH concepts AS (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS concept_id, c_name AS label FROM customer
  UNION ALL
  SELECT 'r:' || CAST(r_regionkey AS VARCHAR), r_name FROM region
),
links AS (SELECT 'l:' || CAST(n_nationkey AS VARCHAR) AS link_id, lower(n_name) AS label FROM nation),
connections AS (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS from_id, 'l:' || CAST(c_nationkey AS VARCHAR) AS to_id FROM customer
  UNION ALL
  SELECT 'l:' || CAST(n_nationkey AS VARCHAR), 'r:' || CAST(n_regionkey AS VARCHAR) FROM nation
),
c2l AS (SELECT cn.from_id AS from_concept, l.link_id, l.label FROM connections cn JOIN links l ON cn.to_id = l.link_id),
l2c AS (SELECT cn.from_id AS link_id_r, cn.to_id AS to_concept FROM connections cn JOIN links l ON cn.from_id = l.link_id)
SELECT c2l.from_concept, fc.label AS from_label, c2l.label AS link_label, l2c.to_concept, tc.label AS to_label
FROM c2l JOIN l2c ON c2l.link_id = l2c.link_id_r
JOIN concepts fc ON fc.concept_id = c2l.from_concept
JOIN concepts tc ON tc.concept_id = l2c.to_concept
"""

    _PART_DICT = r"""
d AS (
  SELECT lower(p_type) AS label_norm,
         'urn:part:' || CAST(p_partkey AS VARCHAR) AS iri,
         p_size % 3 AS ns_priority,
         p_size % 5 = 0 AS is_deprecated,
         'urn:part:replaced:' || CAST(p_partkey % 100 AS VARCHAR) AS replaced_by
  FROM part
),
w AS (
  SELECT * FROM (
    SELECT d.*, row_number() OVER (PARTITION BY label_norm ORDER BY ns_priority ASC, iri ASC) AS rn FROM d
  ) WHERE rn = 1
)
"""
    sql["kg_j2_entity_linking"] = (
        "WITH "
        + _PART_DICT
        + r""",
m AS (SELECT DISTINCT upper(p_type) AS surface FROM part WHERE p_partkey % 7 = 0)
SELECT m.surface, w.iri AS resolved_iri FROM m LEFT JOIN w ON lower(m.surface) = w.label_norm
"""
    )
    sql["kg_j3_deprecated_redirect"] = (
        "WITH "
        + _PART_DICT
        + r"""
SELECT label_norm, CASE WHEN is_deprecated THEN replaced_by ELSE iri END AS final_iri FROM w
"""
    )

    sql["kg_j4_twin_join"] = r"""
WITH i AS (
  SELECT md5('o' || CAST(o_orderkey AS VARCHAR)) AS uuid,
         'urn:uuid:' || md5('o' || CAST(o_orderkey AS VARCHAR)) AS inst_iri,
         o_totalprice AS inst_price
  FROM orders
),
v AS (
  SELECT md5('o' || CAST(o_orderkey AS VARCHAR)) AS uuid,
         'http://purl.allotrope.org/ontologies/visualization#' || md5('o' || CAST(o_orderkey AS VARCHAR)) AS viz_iri,
         o_orderstatus AS viz_status
  FROM orders
)
SELECT i.uuid, inst_iri, viz_iri, inst_price, viz_status FROM i JOIN v ON i.uuid = v.uuid
"""

    sql["kg_f2_triage"] = r"""
SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'instance'
            WHEN o_orderkey % 3 = 1 THEN 'visualization'
            ELSE 'other' END AS class,
       count(*) AS n
FROM orders GROUP BY 1
"""

    sql["kg_f6_orphan_cleanup"] = r"""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""

    sql["kg_f7_stale_edge_sync"] = r"""
SELECT o_orderkey, o_orderstatus FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
"""

    sql["kg_u3_delta_apply"] = r"""
SELECT o_orderkey FROM (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 100000
  UNION
  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
) u
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
"""

    sql["kg_first_match_title"] = r"""
SELECT p_brand, p_name AS title FROM (
  SELECT p_brand, p_name, row_number() OVER (PARTITION BY p_brand ORDER BY p_name ASC, p_partkey ASC) AS rn
  FROM part
) WHERE rn = 1
"""

    sql["kg_a4_label_collision"] = r"""
SELECT p_partkey,
       CASE WHEN rn = 1 THEN p_type ELSE p_type || '_' || CAST(rn - 1 AS VARCHAR) END AS shape_label
FROM (SELECT p_partkey, p_type, row_number() OVER (PARTITION BY p_type ORDER BY p_partkey ASC) AS rn FROM part)
"""

    from rdfcmap_spark.oracle import norm_c7_sql as _norm_c7

    sql["kg_x9_normalize"] = (
        r"""
WITH src AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 4 = 0 THEN p_name
              WHEN p_partkey % 4 = 1 THEN p_name || ' (AFX_0012345)'
              WHEN p_partkey % 4 = 2 THEN '[ ' || p_name || ' ]'
              ELSE p_name || ', af ' || p_name END AS dirty
  FROM part
),
steps AS (
  SELECT p_partkey, dirty, """
        + _norm_c7("dirty")
        + r""" AS c7
  FROM src
)
SELECT p_partkey, dirty, """
        + _X9_SQL_CHAIN
        + r""" AS label_norm,
      lower(regexp_replace(trim(dirty), '[^A-Za-z0-9]+', '-', 'g')) AS slug
FROM steps"""
    )

    sql["kg_x3_cardinality"] = r"""
WITH src AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 7 = 0 THEN '=1'
              WHEN p_partkey % 7 = 1 THEN '2'
              WHEN p_partkey % 7 = 2 THEN '>3'
              WHEN p_partkey % 7 = 3 THEN '<5'
              WHEN p_partkey % 7 = 4 THEN '2,4'
              WHEN p_partkey % 7 = 5 THEN '3 5'
              ELSE '>2[' END AS card
  FROM part
),
c AS (SELECT p_partkey, card, trim(replace(card, '=', '')) AS cc FROM src)
SELECT p_partkey, card,
  CASE WHEN cc = '' THEN 'http://purl.allotrope.org/ontologies/visualization#MinCardinality'
       WHEN regexp_matches(cc, '[\[\]]') THEN NULL
       WHEN regexp_matches(cc, '^[0-9]+$') THEN 'http://purl.allotrope.org/ontologies/visualization#ExactCardinality'
       WHEN regexp_matches(cc, '^>[0-9]+$') THEN 'http://purl.allotrope.org/ontologies/visualization#MinCardinality'
       WHEN regexp_matches(cc, '^<[0-9]+$') THEN 'http://purl.allotrope.org/ontologies/visualization#MaxCardinality'
       WHEN regexp_matches(cc, '^[0-9]+[\s,]+[0-9]+$') THEN 'http://purl.allotrope.org/ontologies/visualization#IntervalCardinality'
       ELSE NULL END AS card_type,
  CASE WHEN cc = '' THEN '0'
       WHEN regexp_matches(cc, '^[0-9]+$') THEN cc
       WHEN regexp_matches(cc, '^>[0-9]+$') THEN regexp_extract(cc, '^>([0-9]+)$', 1)
       WHEN regexp_matches(cc, '^[0-9]+[\s,]+[0-9]+$') AND NOT regexp_matches(cc, '[\[\]]') THEN regexp_extract(cc, '^([0-9]+)[\s,]+([0-9]+)$', 1)
       ELSE NULL END AS card_min,
  CASE WHEN regexp_matches(cc, '^[0-9]+$') THEN cc
       WHEN regexp_matches(cc, '^<[0-9]+$') THEN regexp_extract(cc, '^<([0-9]+)$', 1)
       WHEN regexp_matches(cc, '^[0-9]+[\s,]+[0-9]+$') THEN regexp_extract(cc, '^([0-9]+)[\s,]+([0-9]+)$', 2)
       ELSE NULL END AS card_max
FROM c
"""

    sql["kg_x12_literal_typing"] = r"""
WITH src AS (
  SELECT event_id, event_id % 6 AS m,
         regexp_extract(props, '"k":\s*([0-9]+)', 1) AS k,
         CAST(floor(value) AS BIGINT) AS fv, ts
  FROM events
),
tokens AS (
  SELECT event_id,
    CASE WHEN m = 0 THEN CAST(fv AS VARCHAR) || '.5'
         WHEN m = 1 THEN k
         WHEN m = 2 THEN CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END
         WHEN m = 3 THEN strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
         WHEN m = 4 THEN k
         ELSE 'n/a' END AS lex,
    CASE WHEN m = 0 THEN 'double' WHEN m = 1 THEN 'integer' WHEN m = 2 THEN 'boolean'
         WHEN m = 3 THEN 'dateTime' WHEN m = 4 THEN 'float' ELSE 'double' END AS dt_local
  FROM src
)
SELECT event_id,
  '"' || lex || '"^^xsd:' || dt_local AS token,
  lex AS obj_lexical,
  CASE dt_local
    WHEN 'double' THEN 'http://www.w3.org/2001/XMLSchema#double'
    WHEN 'integer' THEN 'http://www.w3.org/2001/XMLSchema#integer'
    WHEN 'boolean' THEN 'http://www.w3.org/2001/XMLSchema#boolean'
    WHEN 'dateTime' THEN 'http://www.w3.org/2001/XMLSchema#dateTime'
    WHEN 'dateTimeStamp' THEN 'http://www.w3.org/2001/XMLSchema#dateTimeStamp'
    ELSE 'http://www.w3.org/2001/XMLSchema#string' END AS obj_datatype,
  CASE WHEN dt_local = 'double' THEN regexp_matches(lex, '^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$')
       WHEN dt_local = 'integer' THEN regexp_matches(lex, '^[+-]?[0-9]+$')
       WHEN dt_local = 'boolean' THEN regexp_matches(lex, '^(true|false|True|False|TRUE|FALSE)$')
       WHEN dt_local = 'dateTime' THEN regexp_matches(lex, '^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}(\.[0-9]+)?(Z|[+-][0-9]{2}:[0-9]{2})?$')
       ELSE true END AS lex_valid
FROM tokens
"""

    sql["kg_g8_skolemize"] = r"""
SELECT 'b' || CAST(o_orderkey AS VARCHAR) AS bnode_id,
       'urn:uuid:bnode:' || md5('skolem|' || CAST(o_orderkey AS VARCHAR)) AS skolem_iri
FROM orders
"""

    sql["kg_g1_connected_components"] = r"""
WITH RECURSIVE g AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, 'u' || CAST(user_id AS VARCHAR) AS node FROM events
),
hub AS (SELECT event_type, day, min(node) AS hub FROM g GROUP BY event_type, day),
e0 AS (
  SELECT DISTINCT h.hub AS src, g.node AS dst
  FROM g JOIN hub h USING (event_type, day) WHERE g.node <> h.hub
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, comp) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node, min(comp) AS comp FROM reach GROUP BY node
"""

    sql["kg_g2_shortest_path"] = r"""
WITH RECURSIVE g AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, 'u' || CAST(user_id AS VARCHAR) AS node FROM events
),
hub AS (SELECT event_type, day, min(node) AS hub FROM g GROUP BY event_type, day),
e0 AS (
  SELECT DISTINCT h.hub AS src, g.node AS dst
  FROM g JOIN hub h USING (event_type, day) WHERE g.node <> h.hub
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
seeds AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS node FROM events WHERE user_id < 5),
reach(node, hops) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.dst, r.hops + 1 FROM reach r JOIN edges e ON e.src = r.node WHERE r.hops < 20
)
SELECT node, CAST(min(hops) AS INTEGER) AS hops FROM reach GROUP BY node
"""

    # kg_pagerank: unrolled fixed-iteration nano-rank PageRank over the same
    # identity graph as kg_g2 (graph.pagerank's arithmetic contract: integer
    # division for contributions, exact BIGINT sums, IEEE-double teleport/
    # damping terms whose literals are the python doubles' exact reprs)
    _pr_iters = 10
    _pr_tel = repr((1.0 - 0.85) * 1_000_000_000.0)
    _pr_ctes = [
        r"""g AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, 'u' || CAST(user_id AS VARCHAR) AS node FROM events
),
hub AS (SELECT event_type, day, min(node) AS hub FROM g GROUP BY event_type, day),
e0 AS (
  SELECT DISTINCT h.hub AS src, g.node AS dst
  FROM g JOIN hub h USING (event_type, day) WHERE g.node <> h.hub
),
pedges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
pnodes AS (SELECT src AS node FROM pedges UNION SELECT dst FROM pedges),
pnn AS (SELECT count(*) AS n_nodes FROM pnodes),
poutd AS (SELECT src AS node, count(*) AS outdeg FROM pedges GROUP BY src),
pr0 AS (SELECT node, CAST(floor(CAST(1000000000 AS DOUBLE) / n_nodes) AS BIGINT) AS r_nano FROM pnodes CROSS JOIN pnn)"""
    ]
    for _i in range(_pr_iters):
        _pr_ctes.append(
            f"""pc{_i} AS (
  SELECT e.dst AS node, r.r_nano // o.outdeg AS c
  FROM pr{_i} r JOIN poutd o USING (node) JOIN pedges e ON e.src = r.node
),
ps{_i} AS (SELECT node, CAST(sum(c) AS BIGINT) AS s FROM pc{_i} GROUP BY node),
pr{_i + 1} AS (
  SELECT n.node,
         CAST(floor(CAST('{_pr_tel}' AS DOUBLE) / pnn.n_nodes)
              + floor(CAST('0.85' AS DOUBLE) * CAST(coalesce(s.s, 0) AS DOUBLE)) AS BIGINT) AS r_nano
  FROM pnodes n LEFT JOIN ps{_i} s USING (node) CROSS JOIN pnn
)"""
        )
    sql["kg_pagerank"] = (
        "WITH "
        + ",\n".join(_pr_ctes)
        + f"\nSELECT node, r_nano, round(CAST(r_nano AS DOUBLE) / CAST(1000000000 AS DOUBLE), 9) AS pr"
        f" FROM pr{_pr_iters}"
    )

    # kg_ppr: personalized PageRank — kg_pagerank's unrolled nano-rank
    # arithmetic with the teleport term restricted to the seed set
    _qpr_iters = 10
    _qpr_tel = repr((1.0 - 0.85) * 1_000_000_000.0)
    _qpr_ctes = [
        r"""qg AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, 'u' || CAST(user_id AS VARCHAR) AS node FROM events
),
qhub AS (SELECT event_type, day, min(node) AS hub FROM qg GROUP BY event_type, day),
qe0 AS (
  SELECT DISTINCT h.hub AS src, qg.node AS dst
  FROM qg JOIN qhub h USING (event_type, day) WHERE qg.node <> h.hub
),
qedges AS (SELECT src, dst FROM qe0 UNION SELECT dst, src FROM qe0),
qnodes AS (SELECT src AS node FROM qedges UNION SELECT dst FROM qedges),
qseeds AS (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS node FROM events WHERE user_id < 5
),
qsg AS (SELECT s.node FROM qseeds s JOIN qnodes n ON n.node = s.node),
qns AS (SELECT count(*) AS n_seeds FROM qsg),
qoutd AS (SELECT src AS node, count(*) AS outdeg FROM qedges GROUP BY src),
qr0 AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL
              THEN CAST(floor(CAST(1000000000 AS DOUBLE) / qns.n_seeds) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS r_nano
  FROM qnodes n LEFT JOIN qsg s ON s.node = n.node CROSS JOIN qns
)"""
    ]
    for _i in range(_qpr_iters):
        _qpr_ctes.append(
            f"""qc{_i} AS (
  SELECT e.dst AS node, r.r_nano // o.outdeg AS c
  FROM qr{_i} r JOIN qoutd o USING (node) JOIN qedges e ON e.src = r.node
),
qs{_i} AS (SELECT node, CAST(sum(c) AS BIGINT) AS s FROM qc{_i} GROUP BY node),
qr{_i + 1} AS (
  SELECT n.node,
         CAST(CASE WHEN sd.node IS NOT NULL
                   THEN floor(CAST('{_qpr_tel}' AS DOUBLE) / qns.n_seeds)
                   ELSE 0 END
              + floor(CAST('0.85' AS DOUBLE) * CAST(coalesce(s.s, 0) AS DOUBLE)) AS BIGINT) AS r_nano
  FROM qnodes n LEFT JOIN qs{_i} s USING (node)
  LEFT JOIN qsg sd ON sd.node = n.node CROSS JOIN qns
)"""
        )
    sql["kg_ppr"] = (
        "WITH "
        + ",\n".join(_qpr_ctes)
        + f"\nSELECT node, r_nano, round(CAST(r_nano AS DOUBLE) / CAST(1000000000 AS DOUBLE), 9) AS pr"
        f" FROM qr{_qpr_iters}"
    )

    # kg_khop_sample: unrolled 2-hop deterministic GraphSAGE sample over the
    # same symmetrized identity graph as kg_g2 (rank = md5(seed|parent|dst),
    # fanouts 3 then 2, per-seed first-hop dedup via NOT EXISTS)
    sql["kg_khop_sample"] = r"""
WITH g AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, 'u' || CAST(user_id AS VARCHAR) AS node FROM events
),
hub AS (SELECT event_type, day, min(node) AS hub FROM g GROUP BY event_type, day),
e0 AS (
  SELECT DISTINCT h.hub AS src, g.node AS dst
  FROM g JOIN hub h USING (event_type, day) WHERE g.node <> h.hub
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
seeds AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS node FROM events WHERE user_id < 5),
v0 AS (SELECT node AS seed, node, 0 AS hop FROM seeds),
c1 AS (
  SELECT v.seed, e.src, e.dst,
         row_number() OVER (PARTITION BY v.seed, e.src
                            ORDER BY md5(v.seed || '|' || e.src || '|' || e.dst), e.dst) AS rk
  FROM v0 v JOIN edges e ON e.src = v.node
),
n1 AS (SELECT DISTINCT seed, dst AS node FROM c1 WHERE rk <= 3),
n1f AS (
  SELECT seed, node, 1 AS hop FROM n1
  WHERE NOT EXISTS (SELECT 1 FROM v0 WHERE v0.seed = n1.seed AND v0.node = n1.node)
),
v1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM n1f),
c2 AS (
  SELECT v.seed, e.src, e.dst,
         row_number() OVER (PARTITION BY v.seed, e.src
                            ORDER BY md5(v.seed || '|' || e.src || '|' || e.dst), e.dst) AS rk
  FROM n1f v JOIN edges e ON e.src = v.node
),
n2 AS (SELECT DISTINCT seed, dst AS node FROM c2 WHERE rk <= 2),
n2f AS (
  SELECT seed, node, 2 AS hop FROM n2
  WHERE NOT EXISTS (SELECT 1 FROM v1 WHERE v1.seed = n2.seed AND v1.node = n2.node)
)
SELECT seed, node, CAST(hop AS INTEGER) AS hop FROM v1
UNION ALL
SELECT seed, node, CAST(hop AS INTEGER) AS hop FROM n2f
"""

    # kg_triangle_count: degree-oriented triangle counting over the part
    # co-purchase graph — orientation rank is the same zero-padded
    # (deg, node) string; each triangle counted once at its lowest corner,
    # then fanned to all three corners
    sql["kg_triangle_count"] = r"""
WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
e AS (
  SELECT DISTINCT a.pk AS a, b.pk AS b
  FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
),
nodes AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
deg AS (SELECT node, count(*) AS deg FROM nodes GROUP BY node),
dr AS (SELECT node, lpad(CAST(deg AS VARCHAR), 12, '0') || '|' || CAST(node AS VARCHAR) AS rk FROM deg),
o AS (
  SELECT CASE WHEN da.rk < db.rk THEN e.a ELSE e.b END AS u,
         CASE WHEN da.rk < db.rk THEN e.b ELSE e.a END AS v,
         CASE WHEN da.rk < db.rk THEN db.rk ELSE da.rk END AS rkv
  FROM e JOIN dr da ON da.node = e.a JOIN dr db ON db.node = e.b
),
wedges AS (
  SELECT x.u AS wu, x.v AS wv, y.v AS ww
  FROM o x JOIN o y ON x.u = y.u AND x.rkv < y.rkv
),
tri AS (
  SELECT w.wu, w.wv, w.ww
  FROM wedges w JOIN o c ON c.u = w.wv AND c.v = w.ww
),
corners AS (
  SELECT wu AS node FROM tri
  UNION ALL SELECT wv FROM tri
  UNION ALL SELECT ww FROM tri
)
SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node
"""

    # kg_kcore: synchronous-peel 80-core over the near-regular part
    # co-purchase graph (deg 42-206 at sf0.01; k=80 peels 143 nodes over a
    # 5-round cascade — real bite),
    # unrolled to the operator's bounded round count (12) — extra rounds
    # after the fixed point are no-ops, so early convergence on the Spark
    # side is result-identical
    # every round references the prior edge CTE 3x (degree union + two
    # semi-joins) — WITHOUT materialization DuckDB inlines the chain into
    # 3^rounds parquet scans (observed as a too-many-open-files blowup),
    # so each round's frames are AS MATERIALIZED
    _kc_rounds, _kc_k = 12, 80
    _kc_ctes = [
        r"""kpp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
ke0 AS MATERIALIZED (
  SELECT DISTINCT a.pk AS a, b.pk AS b
  FROM kpp a JOIN kpp b ON a.ok = b.ok AND a.pk < b.pk
)"""
    ]
    for _i in range(_kc_rounds):
        _kc_ctes.append(
            f"""kd{_i} AS MATERIALIZED (
  SELECT node, count(*) AS deg
  FROM (SELECT a AS node FROM ke{_i} UNION ALL SELECT b FROM ke{_i}) GROUP BY node
),
kk{_i} AS MATERIALIZED (SELECT node FROM kd{_i} WHERE deg >= {_kc_k}),
ke{_i + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM ke{_i} e
  JOIN kk{_i} ka ON ka.node = e.a JOIN kk{_i} kb ON kb.node = e.b
)"""
        )
    sql["kg_kcore"] = (
        "WITH "
        + ",\n".join(_kc_ctes)
        + f"""
SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS deg
FROM (SELECT a AS node FROM ke{_kc_rounds} UNION ALL SELECT b FROM ke{_kc_rounds})
GROUP BY node HAVING count(*) >= {_kc_k}"""
    )

    # kg_label_prop: synchronous mode-of-neighbors label propagation over
    # the identity graph, unrolled to the operator's fixed 6 rounds
    # (tie-break = smallest label; MATERIALIZED per round)
    _lp_rounds = 6
    _lp_ctes = [
        r"""lg AS MATERIALIZED (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, 'u' || CAST(user_id AS VARCHAR) AS node FROM events
),
lhub AS MATERIALIZED (SELECT event_type, day, min(node) AS hub FROM lg GROUP BY event_type, day),
le0 AS MATERIALIZED (
  SELECT DISTINCT h.hub AS src, g.node AS dst
  FROM lg g JOIN lhub h USING (event_type, day) WHERE g.node <> h.hub
),
lsym AS MATERIALIZED (SELECT src, dst FROM le0 UNION SELECT dst, src FROM le0),
ll0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM lsym)"""
    ]
    for _i in range(_lp_rounds):
        _lp_ctes.append(
            f"""ln{_i} AS MATERIALIZED (
  SELECT s.src AS node, l.label, count(*) AS n
  FROM lsym s JOIN ll{_i} l ON l.node = s.dst
  GROUP BY s.src, l.label
),
ll{_i + 1} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY n DESC, label ASC) AS rk
    FROM ln{_i}
  ) WHERE rk = 1
)"""
        )
    sql["kg_label_prop"] = (
        "WITH " + ",\n".join(_lp_ctes) + f"\nSELECT node, label FROM ll{_lp_rounds}"
    )

    # data_kg_negatives: filtered negative sampling over the typed identity
    # triples — entity index = row_number ORDER BY ent (the dense_ordinal
    # contract), neg pick = md5-prefix bucket, filtered protocol via NOT
    # EXISTS on the true-triple key
    sql["data_kg_negatives"] = r"""
WITH g AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, 'u' || CAST(user_id AS VARCHAR) AS node FROM events
),
hub AS (SELECT event_type, day, min(node) AS hub FROM g GROUP BY event_type, day),
t AS (
  SELECT DISTINCT h.hub AS subj, g.event_type AS pred, g.node AS obj
  FROM g JOIN hub h USING (event_type, day) WHERE g.node <> h.hub
),
ents AS (SELECT subj AS ent FROM t UNION SELECT obj FROM t),
eidx AS (SELECT ent, row_number() OVER (ORDER BY ent) AS idx FROM ents),
nn AS (SELECT count(*) AS n_ents FROM eidx),
cand AS (
  SELECT t.subj, t.pred, t.obj, r.i AS neg_i,
         (('0x' || substr(md5(t.subj || '|' || t.pred || '|' || t.obj || ':neg' || CAST(r.i AS VARCHAR)), 1, 6))::BIGINT
          % nn.n_ents) + 1 AS neg_idx
  FROM t CROSS JOIN nn CROSS JOIN UNNEST(range(1, 4)) AS r(i)
),
j AS (
  SELECT c.subj, c.pred, c.obj, CAST(c.neg_i AS INTEGER) AS neg_i, e.ent AS neg_obj
  FROM cand c JOIN eidx e ON e.idx = c.neg_idx
)
SELECT * FROM j
WHERE neg_obj <> obj
  AND NOT EXISTS (SELECT 1 FROM t WHERE t.subj = j.subj AND t.pred = j.pred AND t.obj = j.neg_obj)
"""

    # kg_ktruss: synchronous support peeling to the 12-truss of the part
    # co-purchase graph (min support 10; 115.7k -> 1.1k edges over a
    # 4-effective-round cascade at sf0.01), unrolled to the operator's
    # bounded round count (6) — support per edge = |N(a) ∩ N(b)|, the
    # plain common-neighbor form (the Spark side's degree ORIENTATION is
    # a compute device, not a semantics change); extra rounds after the
    # fixed point are no-ops, so Spark's early exit is result-identical.
    # MATERIALIZED per round for the same CTE-inlining reason as kg_kcore.
    _kt_rounds, _kt_sup = 6, 10
    _kt_ctes = [
        r"""tpp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
te0 AS MATERIALIZED (
  SELECT DISTINCT a.pk AS a, b.pk AS b
  FROM tpp a JOIN tpp b ON a.ok = b.ok AND a.pk < b.pk
)"""
    ]
    for _i in range(_kt_rounds):
        _kt_ctes.append(
            f"""tadj{_i} AS MATERIALIZED (SELECT a AS w, b AS x FROM te{_i} UNION ALL SELECT b, a FROM te{_i}),
ts{_i} AS MATERIALIZED (
  SELECT e.a, e.b, count(*) AS support
  FROM te{_i} e
  JOIN tadj{_i} l ON l.x = e.a
  JOIN tadj{_i} r ON r.x = e.b AND r.w = l.w
  GROUP BY e.a, e.b HAVING count(*) >= {_kt_sup}
),
te{_i + 1} AS MATERIALIZED (SELECT a, b FROM ts{_i})"""
        )
    sql["kg_ktruss"] = (
        "WITH "
        + ",\n".join(_kt_ctes)
        + f"""
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, CAST(support AS BIGINT) AS support
FROM ts{_kt_rounds - 1}"""
    )

    # kg_link_predict: Adamic–Adar missing links over the part co-purchase
    # graph — wedge centers capped at degree 100 (the operator's documented
    # hub exclusion), integer-nano contributions floor(1e9/ln(deg)) summed
    # as BIGINT (order-free), existing edges anti-joined away, top-10 per
    # left endpoint by (nano desc, b asc)
    sql["kg_link_predict"] = r"""
WITH lpp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
le AS (
  SELECT DISTINCT a.pk AS a, b.pk AS b
  FROM lpp a JOIN lpp b ON a.ok = b.ok AND a.pk < b.pk
),
ladj AS (SELECT a AS w, b AS x FROM le UNION ALL SELECT b, a FROM le),
ldeg AS (SELECT w AS node, count(*) AS deg FROM ladj GROUP BY w),
lcent AS (
  SELECT node AS w, CAST(floor(1e9 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS nano
  FROM ldeg WHERE deg BETWEEN 2 AND 100
),
linc AS (SELECT a.w, a.x, c.nano FROM ladj a JOIN lcent c USING (w)),
lpairs AS (
  SELECT l.x AS a, r.x AS b, l.nano
  FROM linc l JOIN linc r ON l.w = r.w AND l.x < r.x
),
lcand AS (
  SELECT a, b, count(*) AS n_common, CAST(sum(nano) AS BIGINT) AS aa_nano
  FROM lpairs GROUP BY a, b
),
lout AS (
  SELECT * FROM lcand c
  WHERE NOT EXISTS (SELECT 1 FROM le WHERE le.a = c.a AND le.b = c.b)
),
lrk AS (
  SELECT *, row_number() OVER (PARTITION BY a ORDER BY aa_nano DESC, b ASC) AS rank
  FROM lout
)
SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, CAST(rank AS INTEGER) AS rank,
       CAST(n_common AS BIGINT) AS n_common, aa_nano,
       CAST(round(aa_nano / 1e9, 9) AS DOUBLE) AS aa_score
FROM lrk WHERE rank <= 10
"""

    # events_funnel: 3-stage earliest-completion funnel, exact integer
    # microseconds; stage k = min ts strictly after stage k-1's completion
    sql["events_funnel"] = r"""
WITH f1 AS (
  SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS ts_us_1
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
f2 AS (
  SELECT e.user_id, CAST(min(epoch_us(e.ts)) AS BIGINT) AS ts_us_2
  FROM events e JOIN f1 ON f1.user_id = e.user_id
  WHERE e.event_type = 'view' AND epoch_us(e.ts) > f1.ts_us_1
  GROUP BY e.user_id
),
f3 AS (
  SELECT e.user_id, CAST(min(epoch_us(e.ts)) AS BIGINT) AS ts_us_3
  FROM events e JOIN f2 ON f2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f2.ts_us_2
  GROUP BY e.user_id
)
SELECT f1.user_id,
       CAST(CASE WHEN f3.ts_us_3 IS NOT NULL THEN 3
                 WHEN f2.ts_us_2 IS NOT NULL THEN 2
                 ELSE 1 END AS INTEGER) AS stage_reached,
       f1.ts_us_1, f2.ts_us_2, f3.ts_us_3
FROM f1 LEFT JOIN f2 USING (user_id) LEFT JOIN f3 USING (user_id)
"""

    # events_cohort_retention: epoch-week ordinals (floor(epoch_days/7) —
    # calendar-free, engine-exact), per-cohort distinct-active counts
    sql["events_cohort_retention"] = r"""
WITH wk AS (
  SELECT user_id, event_type,
         CAST(floor(floor(epoch_us(ts) / 86400000000) / 7) AS BIGINT) AS week
  FROM events
),
cohorts AS (
  SELECT user_id, min(week) AS cohort_week FROM wk WHERE event_type = 'signup' GROUP BY user_id
),
sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM cohorts GROUP BY cohort_week),
active AS (SELECT DISTINCT user_id, week FROM wk),
cells AS (
  SELECT c.cohort_week, a.week - c.cohort_week AS week_offset, count(*) AS n_active
  FROM active a JOIN cohorts c USING (user_id)
  WHERE a.week >= c.cohort_week
  GROUP BY c.cohort_week, a.week - c.cohort_week
)
SELECT cells.cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
       CAST(n_active AS BIGINT) AS n_active, CAST(cohort_size AS BIGINT) AS cohort_size,
       round(CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6) AS retention
FROM cells JOIN sizes USING (cohort_week)
"""

    # kg_random_walks: deterministic DeepWalk corpus over the identity
    # graph — per step, the neighbor minimizing md5('walk'|walk_id|step|u|v)
    # (binary varchar min over the 32-hex-prefixed key, neighbor recovered
    # by substring from 34), unrolled to the operator's 4 steps × 2 walks
    _rw_ctes = [
        r"""wg AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, 'u' || CAST(user_id AS VARCHAR) AS node FROM events
),
whub AS (SELECT event_type, day, min(node) AS hub FROM wg GROUP BY event_type, day),
we0 AS (
  SELECT DISTINCT h.hub AS src, g.node AS dst
  FROM wg g JOIN whub h USING (event_type, day) WHERE g.node <> h.hub
),
wsym AS (SELECT src, dst FROM we0 UNION SELECT dst, src FROM we0),
wstart AS (SELECT DISTINCT src AS start FROM wsym),
w0 AS (
  SELECT start || '#' || CAST(wk AS VARCHAR) AS walk_id, start,
         CAST(0 AS INTEGER) AS step, start AS node
  FROM wstart CROSS JOIN (SELECT unnest([0, 1]) AS wk)
)"""
    ]
    for _i in range(1, 5):
        _rw_ctes.append(
            f"""w{_i} AS (
  SELECT walk_id, start, CAST({_i} AS INTEGER) AS step,
         substring(
           min(md5(concat_ws('|', 'walk', walk_id, '{_i}', node, dst)) || '|' || dst),
           34) AS node
  FROM w{_i - 1} JOIN wsym ON wsym.src = w{_i - 1}.node
  GROUP BY walk_id, start
)"""
        )
    sql["kg_random_walks"] = (
        "WITH "
        + ",\n".join(_rw_ctes)
        + "\n"
        + "\nUNION ALL\n".join(
            f"SELECT walk_id, start, step, node FROM w{_i}" for _i in range(5)
        )
    )

    from rdfcmap_spark import vocab as _vocab

    _sc_values = ", ".join(f"('{c}', '{p}')" for c, p in _vocab.SUBCLASS_EDGES)
    sql["kg_g4_hierarchy_level"] = (
        "WITH RECURSIVE sc(child, parent) AS (VALUES "
        + _sc_values
        + r"""),
closure(node, anc) AS (
  SELECT child, parent FROM sc
  UNION
  SELECT c.node, s.parent FROM closure c JOIN sc s ON s.child = c.anc
)
SELECT node, CAST(count(DISTINCT anc) AS BIGINT) AS level FROM closure GROUP BY node
"""
    )

    sql["kg_x4_long_comments"] = r"""
WITH src AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 3 = 0 THEN 'note <<af-x:hasPart =1>> on ' || p_name
              WHEN p_partkey % 3 = 1 THEN 'pre <<af-x:contains >2>> mid <<obo:precedes 2,4>> post ' || p_name
              ELSE p_name END AS comment
  FROM part
),
ex AS (
  SELECT p_partkey, comment,
         CASE WHEN len(regexp_extract_all(comment, '<<([^>]*)>>', 1)) = 0
              THEN [NULL]
              ELSE regexp_extract_all(comment, '<<([^>]*)>>', 1) END AS toks
  FROM src
),
flat AS (
  SELECT p_partkey, comment,
         generate_subscripts(toks, 1) - 1 AS pos0,
         unnest(toks) AS tok
  FROM ex
)
SELECT p_partkey, CAST(CASE WHEN tok IS NULL THEN NULL ELSE pos0 END AS INTEGER) AS pos,
       CASE WHEN tok IS NULL THEN NULL ELSE regexp_extract(tok, '^([a-zA-Z\-]+:[A-Za-z]+)', 1) END AS prop,
       CASE WHEN tok IS NULL THEN NULL ELSE trim(regexp_extract(tok, '^[a-zA-Z\-]+:[A-Za-z]+\s+(.*)$', 1)) END AS card
FROM flat
"""

    sql["kg_f3_property_skiplist"] = r"""
WITH e AS (
  SELECT 'e' || CAST(o_orderkey AS VARCHAR) AS edge_id,
    CASE WHEN o_orderkey % 5 = 0 THEN 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
         WHEN o_orderkey % 5 = 1 THEN 'http://www.w3.org/2000/01/rdf-schema#subClassOf'
         WHEN o_orderkey % 5 = 2 THEN 'http://www.w3.org/2002/07/owl#disjointWith'
         WHEN o_orderkey % 5 = 3 THEN 'http://purl.allotrope.org/ontologies/property#AFX_0000141'
         ELSE 'http://www.w3.org/2004/02/skos/core#related' END AS pred
  FROM orders
)
SELECT edge_id, pred FROM e
WHERE NOT (pred LIKE 'http://www.w3.org/1999/02/22-rdf-syntax-ns#%'
        OR pred LIKE 'http://www.w3.org/2000/01/rdf-schema#%'
        OR pred LIKE 'http://www.w3.org/2002/07/owl#%')
"""

    sql["kg_j5_endpoint_typing"] = r"""
SELECT o_orderkey,
       CASE WHEN c_nationkey % 2 = 0 THEN 'concept' ELSE 'link' END AS endpoint_type
FROM orders JOIN customer ON c_custkey = o_custkey
"""

    sql["kg_j8_cardinality_match"] = r"""
WITH ann AS (SELECT DISTINCT substr(p_name, 1, 4) AS frag FROM part WHERE p_partkey % 13 = 0)
SELECT p.p_partkey, a.frag FROM part p JOIN ann a ON strpos(p.p_name, a.frag) > 0
"""

    sql["kg_a2_instance_assembly"] = r"""
SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS subj,
       array_to_string(list_sort(list(lower(n_name) || '=' || 'r:' || CAST(n_regionkey AS VARCHAR))), ';') AS sub_model
FROM customer JOIN nation ON n_nationkey = c_nationkey
GROUP BY c_custkey
"""

    sql["kg_x7_obo_prefix"] = r"""
WITH src AS (
  SELECT p_partkey,
    CASE WHEN p_partkey % 5 = 0 THEN 'BFO_' || CAST(p_partkey AS VARCHAR)
         WHEN p_partkey % 5 = 1 THEN 'CHEBI_' || CAST(p_partkey AS VARCHAR)
         WHEN p_partkey % 5 = 2 THEN 'PATO_' || CAST(p_partkey AS VARCHAR)
         WHEN p_partkey % 5 = 3 THEN 'IAO_' || CAST(p_partkey AS VARCHAR)
         ELSE p_name END AS local_name
  FROM part
)
SELECT p_partkey, local_name,
  CASE WHEN starts_with(local_name, 'BFO') THEN 'bfo'
       WHEN starts_with(local_name, 'IAO') THEN 'iao'
       WHEN starts_with(local_name, 'OBI') THEN 'obi'
       WHEN starts_with(local_name, 'RO') THEN 'ro'
       WHEN starts_with(local_name, 'CHEBI') THEN 'chebi'
       WHEN starts_with(local_name, 'PATO') THEN 'pato'
       WHEN contains(local_name, '_') THEN lower(string_split(local_name, '_')[1])
       ELSE 'obo' END AS obo_prefix
FROM src
"""

    sql["kg_x8_camel_case"] = r"""
WITH s AS (
  SELECT p_partkey, lower(p_name) AS label,
         regexp_replace(
           list_aggr(list_transform(string_split(lower(p_name), ' '),
                                    w -> upper(substr(w,1,1)) || substr(w,2)), 'string_agg', ' '),
           '\s+', '', 'g') AS camel
  FROM part
)
SELECT p_partkey, label, camel AS class_name,
       lower(substr(camel,1,1)) || substr(camel,2) AS property_name
FROM s
"""

    sql["kg_x13_comments"] = r"""
SELECT p_partkey,
       rpad('afe:AFE_' || CAST(p_partkey AS VARCHAR), 40, ' ') || '# ' || lower(p_name) AS annotated
FROM part
"""

    sql["sim_cluster_assign"] = (
        r"""
WITH pos AS (
  SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
),
cent AS (
  SELECT label AS cluster, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, pos, avg(v) AS m FROM pos GROUP BY label, pos)
  GROUP BY label
),
scored AS (
  SELECT e.vec_id, c.cluster, """
        + _COS.format(a="e.embedding", b="c.centroid")
        + r""" AS cos_sim
  FROM embeddings e CROSS JOIN cent c
)
SELECT vec_id, cluster FROM (
  SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, cluster ASC) AS rn
  FROM scored
) WHERE rn = 1
"""
    )

    # qname ladder generated from vocab.NS_PREFIX_MAP, longest namespace
    # first (mirrors ttl._to_prefixed exactly, full Prefixes.java breadth)
    _qname_ladder = (
        "CASE "
        + " ".join(
            f"WHEN starts_with(iri, '{ns}') AND regexp_matches(substr(iri, {len(ns) + 1}), "
            r"'^[A-Za-z0-9_\-]+$') "
            f"THEN '{p}:' || substr(iri, {len(ns) + 1})"
            for p, ns in sorted(_vocab.NS_PREFIX_MAP.items(), key=lambda kv: -len(kv[1]))
        )
        + " ELSE '<' || iri || '>' END"
    )
    sql["kg_x6_prefix_compact"] = (
        r"""
WITH src AS (
  SELECT p_partkey,
    CASE WHEN p_partkey % 4 = 0 THEN 'http://purl.allotrope.org/ontologies/equipment#AFE_' || CAST(p_partkey AS VARCHAR)
         WHEN p_partkey % 4 = 1 THEN 'http://purl.obolibrary.org/obo/CHEBI_' || CAST(p_partkey AS VARCHAR)
         WHEN p_partkey % 4 = 2 THEN 'http://www.w3.org/2001/XMLSchema#string'
         ELSE 'http://example.org/thing/' || CAST(p_partkey AS VARCHAR) END AS iri
  FROM part
)
SELECT p_partkey, iri, """
        + _qname_ladder
        + """ AS qname
FROM src
"""
    )

    sql["kg_sparql_body"] = r"""
WITH k AS (SELECT min(o_orderkey) AS k FROM orders),
chain AS (
  SELECT o.o_orderkey, c.c_custkey, n.n_nationkey, n.n_regionkey
  FROM k JOIN orders o ON o.o_orderkey = k.k
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
)
SELECT CAST(step AS INTEGER) AS step, subj, pred, obj, direction FROM (
  SELECT 0 AS step, 'o:' || o_orderkey AS subj, 'ex:by' AS pred, 'c:' || c_custkey AS obj, 'forward' AS direction FROM chain
  UNION ALL
  SELECT 1, 'c:' || c_custkey, 'ex:inNation', 'n:' || n_nationkey, 'forward' FROM chain
  UNION ALL
  SELECT 2, 'n:' || n_nationkey, 'ex:inRegion', 'r:' || n_regionkey, 'forward' FROM chain
)
"""

    from rdfcmap_spark.ids import uuid_sql as _uuid_sql

    _ONTO_LABEL = (
        "lower(trim(regexp_replace(regexp_replace("
        "regexp_extract({iri}, '([^#/]+)$', 1), '-', ' ', 'g'), '([A-Z])', ' \\1', 'g')))"
    )
    sql["kg_ontology"] = (
        r"""
WITH t AS (
  SELECT 'c:' || c_custkey AS subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
         'iri' AS obj_kind, 'http://example.org/Customer' AS obj_iri, CAST(NULL AS VARCHAR) AS obj_lexical
  FROM customer
  UNION ALL SELECT 'c:' || c_custkey, 'http://example.org/locatedIn', 'iri', 'n:' || c_nationkey, NULL FROM customer
  UNION ALL SELECT 'c:' || c_custkey, 'http://example.org/hasName', 'literal', NULL, c_name FROM customer
  UNION ALL SELECT 'c:' || o_custkey, 'http://example.org/hasOrder', 'iri', 'o:' || o_orderkey, NULL FROM orders
  UNION ALL SELECT 'n:' || n_nationkey, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'iri', 'http://example.org/Nation', NULL FROM nation
  UNION ALL SELECT 'n:' || n_nationkey, 'http://example.org/inRegion', 'iri', 'r:' || n_regionkey, NULL FROM nation
),
typed AS (SELECT subj, obj_iri AS class_iri FROM t
          WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AND obj_kind = 'iri'),
classes AS (SELECT DISTINCT class_iri FROM typed),
props AS (
  SELECT pred,
         CASE WHEN max(CASE WHEN obj_kind <> 'literal' THEN 1 ELSE 0 END) = 1
              THEN 'http://www.w3.org/2002/07/owl#ObjectProperty'
              ELSE 'http://www.w3.org/2002/07/owl#DatatypeProperty' END AS prop_kind
  FROM t WHERE pred <> 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' GROUP BY pred
),
per_subj AS (
  SELECT ty.class_iri, p.pred, p.subj, count(*) AS n
  FROM typed ty JOIN (SELECT subj, pred FROM t WHERE pred <> 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type') p
    ON p.subj = ty.subj
  GROUP BY ty.class_iri, p.pred, p.subj
),
class_sizes AS (SELECT class_iri, count(DISTINCT subj) AS n_subjects FROM typed GROUP BY class_iri),
envelope AS (
  SELECT ps.class_iri, ps.pred,
         CASE WHEN count(*) < cs.n_subjects THEN 0 ELSE min(ps.n) END AS min_count,
         max(ps.n) AS max_count,
         'urn:uuid:' || """
        + _uuid_sql("'restr|' || ps.class_iri || '|' || ps.pred")
        + r""" AS rnode
  FROM per_subj ps JOIN class_sizes cs USING (class_iri)
  GROUP BY ps.class_iri, ps.pred, cs.n_subjects
)
SELECT subj, pred, obj_kind, obj_iri, obj_lexical, obj_datatype,
       CAST(NULL AS VARCHAR) AS conv_id, CAST(NULL AS INTEGER) AS turn_idx
FROM (
  SELECT class_iri AS subj, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred, 'iri' AS obj_kind,
         'http://www.w3.org/2002/07/owl#Class' AS obj_iri, CAST(NULL AS VARCHAR) AS obj_lexical,
         CAST(NULL AS VARCHAR) AS obj_datatype FROM classes
  UNION ALL
  SELECT class_iri, 'http://www.w3.org/2004/02/skos/core#prefLabel', 'literal', NULL,
         """
        + _ONTO_LABEL.format(iri="class_iri")
        + r""", 'http://www.w3.org/2001/XMLSchema#string' FROM classes
  UNION ALL
  SELECT pred, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'iri', prop_kind, NULL, NULL FROM props
  UNION ALL
  SELECT pred, 'http://www.w3.org/2004/02/skos/core#prefLabel', 'literal', NULL,
         """
        + _ONTO_LABEL.format(iri="pred")
        + r""", 'http://www.w3.org/2001/XMLSchema#string' FROM props
  UNION ALL
  SELECT class_iri, 'http://www.w3.org/2000/01/rdf-schema#subClassOf', 'bnode', rnode, NULL, NULL FROM envelope
  UNION ALL
  SELECT rnode, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'iri',
         'http://www.w3.org/2002/07/owl#Restriction', NULL, NULL FROM envelope
  UNION ALL
  SELECT rnode, 'http://www.w3.org/2002/07/owl#onProperty', 'iri', pred, NULL, NULL FROM envelope
  UNION ALL
  SELECT rnode, 'http://www.w3.org/2002/07/owl#minCardinality', 'literal', NULL,
         CAST(min_count AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#integer' FROM envelope
  UNION ALL
  SELECT rnode, 'http://www.w3.org/2002/07/owl#maxCardinality', 'literal', NULL,
         CAST(max_count AS VARCHAR), 'http://www.w3.org/2001/XMLSchema#integer' FROM envelope
)
"""
    )

    # literal-node visualization mirror: same planted fixture, per-branch
    # expected labels, and the shared uuid3 for both minted ids
    from rdfcmap_spark import vocab as _V

    def _lit_ids(key_expr: str) -> str:
        return (
            "'urn:uuid:' || " + _uuid_sql(f"'litnode|' || {key_expr}")
            + " AS concept_id, "
            + "'urn:uuid:' || " + _uuid_sql(f"'litlink|' || {key_expr}")
            + " AS link_id"
        )

    _XS, _XD = _V.XSD_STRING, _V.XSD_DOUBLE
    sql["kg_reverse_literals"] = f"""
WITH p AS (SELECT p_partkey AS k, p_partkey % 5 AS m, p_name, p_size FROM part),
rows0 AS (
  SELECT 'urn:uuid:s' || k AS subj, '{_V.DCT}description' AS pred,
         p_name AS lexical, '{_XS}' AS dt,
         '"' || p_name || '"^^xsd:string' AS concept_label,
         'dct:description' AS link_label
  FROM p WHERE m = 0
  UNION ALL
  SELECT 'urn:uuid:s' || k, '{_V.OBO}IAO_0000115', p_name, '{_XS}',
         '"' || p_name || '"^^xsd:string', 'iao:IAO_0000115'
  FROM p WHERE m = 1
  UNION ALL
  SELECT '_:b' || k, 'http://example.org/x/p', CAST(p_size AS VARCHAR), '{_XD}',
         '"' || p_size || '"^^xsd:double', 'has price'
  FROM p WHERE m = 2
),
keyed AS (
  SELECT *, subj || '|' || pred || '|' || lexical || '|' || dt AS key FROM rows0
)
SELECT subj, pred, {_lit_ids('key')}, concept_label, link_label
FROM keyed
"""

    sql["kg_title_ladder"] = r"""
WITH p AS (SELECT p_partkey AS k, p_partkey % 6 AS m, p_partkey % 7 AS tk, p_name FROM part),
s_rows AS (
  SELECT 's:' || k AS subj,
    CASE WHEN m = 0 THEN 'T ' || p_name
         WHEN m = 1 THEN 'P ' || p_name
         WHEN m = 2 THEN 'I ' || p_name
         WHEN m = 3 THEN 'L ' || p_name
         WHEN m = 4 THEN CASE WHEN tk % 2 = 0 THEN 'TY' || tk ELSE 't:' || tk END
         ELSE 'instance' END AS title,
    CASE WHEN m = 0 THEN 'title' WHEN m = 1 THEN 'prefLabel' WHEN m = 2 THEN 'identifier'
         WHEN m = 3 THEN 'label' WHEN m = 4 THEN 'type' ELSE 'instance' END AS title_source
  FROM p
),
t_rows AS (
  SELECT DISTINCT 't:' || tk AS subj, 'TY' || tk AS title, 'title' AS title_source
  FROM p WHERE m = 4 AND tk % 2 = 0
)
SELECT subj, title, title_source FROM s_rows
UNION ALL
SELECT subj, title, title_source FROM t_rows
"""

    sql["kg_shacl_shapes"] = r"""
WITH t AS (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS subj, 'ex:Customer' AS rdf_type, 'ex:locatedIn' AS pred FROM customer
  UNION ALL
  SELECT 'c:' || CAST(c_custkey AS VARCHAR), 'ex:Customer', 'ex:hasName' FROM customer
  UNION ALL
  SELECT 'c:' || CAST(o_custkey AS VARCHAR), 'ex:Customer', 'ex:hasOrder' FROM orders
  UNION ALL
  SELECT 'n:' || CAST(n_nationkey AS VARCHAR), 'ex:Nation', 'ex:inRegion' FROM nation
),
per_subj AS (SELECT rdf_type, pred, subj, count(*) AS n FROM t GROUP BY rdf_type, pred, subj),
totals AS (SELECT rdf_type, count(*) AS n_subjects FROM (SELECT DISTINCT rdf_type, subj FROM t) GROUP BY rdf_type)
SELECT p.rdf_type, p.pred,
  CAST(CASE WHEN count(*) < t2.n_subjects THEN 0 ELSE min(p.n) END AS BIGINT) AS min_count,
  CAST(max(p.n) AS BIGINT) AS max_count,
  CAST(count(*) AS BIGINT) AS n_subjects_with_pred
FROM per_subj p JOIN totals t2 USING (rdf_type)
GROUP BY p.rdf_type, p.pred, t2.n_subjects
"""

    # kg_shacl_graph: the full SHACL shapes GRAPH as triples — mirrors
    # operators/shapes.py template-for-template (node shapes with collision-
    # suffixed labels, rdf-type cons-list sh:path, per-(type,pred) property
    # shapes with observed min/max + literal/object branches). Generated
    # here so the 25 triple templates stay mechanically in sync.
    from rdfcmap_spark.ids import uuid_sql as _usql

    _XS = "http://www.w3.org/2001/XMLSchema#"
    _SHN = "http://www.w3.org/ns/shacl#"
    _RDFN = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    _AFSN = "http://purl.allotrope.org/shapes/core#"

    def _mint(name_expr: str) -> str:
        return "'urn:uuid:' || " + _usql(name_expr)

    _ps_t = _mint("'shacl-ts|' || rdf_type")
    _l0 = _mint("'shacl-tp0|' || rdf_type")
    _l1 = _mint("'shacl-tp1|' || rdf_type")
    _zc = _mint("'shacl-tpz|' || rdf_type")
    _ps = _mint("'shacl-ps|' || rdf_type || '|' || pred")

    def _trow(subj, pred, kind, iri="CAST(NULL AS VARCHAR)", lex="CAST(NULL AS VARCHAR)",
              dt="CAST(NULL AS VARCHAR)", src="shp", where=""):
        return (
            f"SELECT {subj} AS subj, '{pred}' AS pred, '{kind}' AS obj_kind, {iri} AS obj_iri, "
            f"{lex} AS obj_lexical, {dt} AS obj_datatype FROM {src}{where}"
        )

    _xint = f"'{_XS}integer'"
    _node_rows = [
        _trow("shape", _RDFN + "type", "iri", f"'{_SHN}NodeShape'"),
        _trow("shape", _SHN + "targetClass", "iri", "rdf_type"),
        _trow("shape", _SHN + "property", "bnode", _ps_t),
        _trow(_ps_t, _RDFN + "type", "iri", f"'{_SHN}PropertyShape'"),
        _trow(_ps_t, _SHN + "minCount", "literal", lex="'1'", dt=_xint),
        _trow(_ps_t, _SHN + "hasValue", "iri", "rdf_type"),
        _trow(_ps_t, _SHN + "path", "bnode", _l0),
        _trow(_l0, _RDFN + "first", "iri", f"'{_RDFN}type'"),
        _trow(_l0, _RDFN + "rest", "bnode", _l1),
        _trow(_l1, _RDFN + "first", "bnode", _zc),
        _trow(_zc, _SHN + "zeroOrMorePath", "iri",
              "'http://www.w3.org/2000/01/rdf-schema#subClassOf'"),
        _trow(_l1, _RDFN + "rest", "iri", f"'{_RDFN}nil'"),
    ]
    _minlex = "CAST(min_count AS VARCHAR)"
    _maxlex = "CAST(max_count AS VARCHAR)"
    _pp_common = [
        _trow("shape", _SHN + "property", "bnode", _ps, src="pp"),
        _trow(_ps, _RDFN + "type", "iri", f"'{_SHN}PropertyShape'", src="pp"),
        _trow(_ps, _SHN + "path", "iri", "pred", src="pp"),
        _trow(_ps, _SHN + "minCount", "literal", lex=_minlex, dt=_xint, src="pp"),
        _trow(_ps, _SHN + "maxCount", "literal", lex=_maxlex, dt=_xint, src="pp"),
    ]
    _pp_lit = [
        _trow(_ps, _SHN + "nodeKind", "iri", f"'{_SHN}Literal'", src="pp",
              where=" WHERE is_literal"),
        _trow(_ps, _SHN + "datatype", "iri", "dt", src="pp", where=" WHERE is_literal"),
    ]
    # qualified counts paired with [ sh:nodeKind sh:BlankNodeOrIRI ] value
    # shapes (r4 ADVICE) — mirrors shapes.py's obj_triples branch
    _qvs = _mint("'shacl-qvs|' || rdf_type || '|' || pred")
    _pp_obj = [
        _trow(_ps, _SHN + "qualifiedValueShape", "bnode", _qvs, src="pp",
              where=" WHERE NOT is_literal"),
        _trow(_qvs, _SHN + "nodeKind", "iri", f"'{_SHN}BlankNodeOrIRI'", src="pp",
              where=" WHERE NOT is_literal"),
        _trow(_ps, _SHN + "qualifiedMinCount", "literal", lex=_minlex, dt=_xint, src="pp",
              where=" WHERE NOT is_literal"),
        _trow(_ps, _SHN + "qualifiedMaxCount", "literal", lex=_maxlex, dt=_xint, src="pp",
              where=" WHERE NOT is_literal"),
    ]
    sql["kg_shacl_graph"] = (
        r"""
WITH t AS (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS subj, 'ex:Customer' AS rdf_type,
         'ex:locatedIn' AS pred, 'iri' AS obj_kind, CAST(NULL AS VARCHAR) AS obj_datatype
  FROM customer
  UNION ALL
  SELECT 'c:' || CAST(c_custkey AS VARCHAR), 'ex:Customer', 'ex:hasName', 'literal', '"""
        + _XS
        + r"""string' FROM customer
  UNION ALL
  SELECT 'c:' || CAST(c_custkey AS VARCHAR), 'ex:Customer', 'ex:acctBal', 'literal', '"""
        + _XS
        + r"""double' FROM customer
  UNION ALL
  SELECT 'c:' || CAST(o_custkey AS VARCHAR), 'ex:Customer', 'ex:hasOrder', 'iri', NULL FROM orders
  UNION ALL
  SELECT 'n:' || CAST(n_nationkey AS VARCHAR), 'ex:Nation', 'ex:inRegion', 'iri', NULL FROM nation
  UNION ALL
  SELECT 'r:' || CAST(r_regionkey AS VARCHAR), 'ex2:Customer', 'ex:code', 'literal',
         CASE WHEN r_regionkey % 2 = 0 THEN '"""
        + _XS
        + r"""double' ELSE '"""
        + _XS
        + r"""integer' END
  FROM region
),
per_subj AS (
  SELECT rdf_type, pred, subj, count(*) AS n,
         max(CASE WHEN obj_kind <> 'literal' THEN 1 ELSE 0 END) AS any_nonlit
  FROM t GROUP BY rdf_type, pred, subj
),
subj_totals AS (
  SELECT rdf_type, count(*) AS n_subjects
  FROM (SELECT DISTINCT rdf_type, subj FROM t) GROUP BY rdf_type
),
dts AS (
  SELECT rdf_type, pred, count(DISTINCT obj_datatype) AS n_dt, min(obj_datatype) AS dt_min
  FROM t WHERE obj_kind = 'literal' GROUP BY rdf_type, pred
),
agg AS (
  SELECT rdf_type, pred, count(*) AS n_with, min(n) AS observed_min, max(n) AS max_count,
         max(any_nonlit) AS any_nonlit
  FROM per_subj GROUP BY rdf_type, pred
),
summary AS (
  SELECT a.rdf_type, a.pred,
         CASE WHEN a.n_with < s.n_subjects THEN 0 ELSE a.observed_min END AS min_count,
         a.max_count, (a.any_nonlit = 0) AS is_literal,
         CASE WHEN d.n_dt = 1 THEN d.dt_min ELSE '"""
        + _XS
        + r"""string' END AS dt
  FROM agg a JOIN subj_totals s USING (rdf_type) LEFT JOIN dts d USING (rdf_type, pred)
),
labs AS (
  SELECT rdf_type,
         array_to_string(list_transform(
           string_split_regex(
             regexp_replace(regexp_extract(rdf_type, '([^#/:]+)$', 1), '\[|\]', '', 'g'),
             '[-\s\(\)]+'),
           x -> upper(x[1:1]) || lower(x[2:])), '') || 'Shape' AS label
  FROM (SELECT DISTINCT rdf_type FROM t)
),
shp AS (
  SELECT rdf_type, '"""
        + _AFSN
        + r"""' || CASE WHEN rn > 1 THEN label || '_' || CAST(rn - 1 AS VARCHAR) ELSE label END AS shape
  FROM (SELECT rdf_type, label,
               row_number() OVER (PARTITION BY label ORDER BY rdf_type) AS rn FROM labs)
),
pp AS (SELECT su.*, sh.shape FROM summary su JOIN shp sh USING (rdf_type))
"""
        + "\nUNION ALL\n".join(_node_rows + _pp_common + _pp_lit + _pp_obj)
    )

    # kg_viz_twins: afv: twin triples per urn:uuid instance — 11 templates
    # per entity + 2 map rows, positions from the deterministic diagonal
    # walk (10 + 25*ordinal by subject order). The map IRI is minted
    # driver-side with the same uuid3 the operator uses.
    from rdfcmap_spark.ids import VIZ_PREFIX as _VIZP
    from rdfcmap_spark.ids import name_uuid as _name_uuid

    _map_iri = _VIZP + _name_uuid("vizmap|map")
    _xsd_str = f"'{_XS}string'"

    def _vrow(pred, kind, iri="CAST(NULL AS VARCHAR)", lex="CAST(NULL AS VARCHAR)",
              dt="CAST(NULL AS VARCHAR)"):
        return (
            f"SELECT viz AS subj, '{pred}' AS pred, '{kind}' AS obj_kind, {iri} AS obj_iri, "
            f"{lex} AS obj_lexical, {dt} AS obj_datatype FROM r"
        )

    _AFVN = "http://purl.allotrope.org/ontologies/visualization#"
    _walk = "CAST(10 + ord * 25 AS VARCHAR)"
    _viz_rows = [
        _vrow("http://purl.allotrope.org/ontologies/property#AFX_0000396", "iri", "inst"),
        _vrow(_RDFN + "type", "iri", f"'{_AFVN}Concept'"),
        _vrow("http://purl.org/dc/terms/identifier", "literal", lex="viz", dt=_xsd_str),
        _vrow("http://purl.org/dc/terms/title", "literal", lex="title", dt=_xsd_str),
        _vrow(_AFVN + "hasMap", "iri", f"'{_map_iri}'"),
        _vrow(_AFVN + "shortComment", "literal", lex="''", dt=_xsd_str),
        _vrow(_AFVN + "longComment", "literal", lex="''", dt=_xsd_str),
        _vrow(_AFVN + "xPosition", "literal", lex=_walk, dt=_xsd_str),
        _vrow(_AFVN + "yPosition", "literal", lex=_walk, dt=_xsd_str),
        _vrow(_AFVN + "width", "literal", lex="'100'", dt=_xsd_str),
        _vrow(_AFVN + "height", "literal", lex="'25'", dt=_xsd_str),
    ]
    sql["kg_viz_twins"] = (
        r"""
WITH e AS (
  SELECT 'urn:uuid:' || md5('c:' || CAST(c_custkey AS VARCHAR)) AS inst, c_name AS title
  FROM customer
),
r AS (
  SELECT inst, title, '"""
        + _AFVN
        + r"""' || substr(inst, 10) AS viz,
         row_number() OVER (ORDER BY inst) - 1 AS ord
  FROM e
)
"""
        + "\nUNION ALL\n".join(_viz_rows)
        + f"""
UNION ALL
SELECT '{_map_iri}', '{_RDFN}type', 'iri', '{_AFVN}Map', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
UNION ALL
SELECT '{_map_iri}', 'http://purl.org/dc/terms/title', 'literal', CAST(NULL AS VARCHAR), 'map', '{_XS}string'
"""
    )

    # kg_unresolved_suggestions: broadcast contains join of planted miss
    # norms against the inlined dictionary, top-5 per miss by closest
    # length (fragments + dictionary VALUES shared with the Spark side).
    from rdfcmap_spark.oracle import _dict_values as _adict

    _frags = _suggestion_fragments()
    _frag_values = ", ".join(f"('{x}', {i})" for i, x in enumerate(_frags))
    sql["kg_unresolved_suggestions"] = f"""
WITH frags(norm, i) AS (VALUES {_frag_values}),
misses AS (
  SELECT DISTINCT f.norm FROM part p JOIN frags f ON f.i = p.p_partkey % {len(_frags)}
),
cand AS (
  SELECT m.norm, adict.label_norm, adict.resolved_iri, adict.term_kind
  FROM misses m JOIN {_adict()} ON contains(adict.label_norm, m.norm) OR contains(m.norm, adict.label_norm)
),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY norm
    ORDER BY abs(length(label_norm) - length(norm)), label_norm, resolved_iri
  ) AS rank FROM cand
)
SELECT norm, CAST(rank AS INTEGER) AS rank, label_norm AS candidate_label,
       resolved_iri AS candidate_iri, term_kind
FROM rk WHERE rank <= 5
"""

    sql["kg_owl_read"] = r"""
WITH src AS (
  SELECT p_partkey AS k,
         lower(trim(regexp_replace(p_name, '\s+', ' ', 'g'))) AS norm,
         CASE p_partkey % 3 WHEN 0 THEN 'class' WHEN 1 THEN 'objectProperty'
              ELSE 'individual' END AS kind,
         'urn:vocab:' || CAST(p_partkey AS VARCHAR) AS iri,
         p_partkey % 5 = 0 AS dep
  FROM part
)
SELECT DISTINCT s.norm AS label_norm,
  CASE WHEN s.dep THEN 'urn:vocab:' || CAST(s.k + 1 AS VARCHAR) ELSE s.iri END AS iri,
  CASE WHEN s.dep AND t.k IS NOT NULL THEN t.kind ELSE s.kind END AS term_kind
FROM src s LEFT JOIN src t ON t.k = s.k + 1
"""

    sql["kg_langtag_roundtrip"] = r"""
SELECT 'urn:part:' || CAST(p_partkey AS VARCHAR) AS subj,
       p_name AS label,
       CASE WHEN p_partkey % 2 = 0 THEN 'en' ELSE 'de' END AS lang
FROM part
"""

    sql["kg_pathfinder"] = r"""
WITH inst AS (
  SELECT 'root' || chr(9) || 'hasRegion' || chr(9) || r_name AS body, 1 AS hops FROM region
  UNION ALL
  SELECT 'root' || chr(9) || 'hasRegion' || chr(9) || r_name
         || chr(9) || 'hasNation' || chr(9) || n_name, 2
  FROM nation JOIN region ON r_regionkey = n_regionkey
),
typ AS (
  SELECT 'Root(root)' || chr(9) || 'hasRegion' || chr(9) || 'Region(' || r_name || ')' AS body,
         1 AS hops FROM region
  UNION ALL
  SELECT 'Root(root)' || chr(9) || 'hasRegion' || chr(9) || 'Region(' || r_name || ')'
         || chr(9) || 'hasNation' || chr(9) || 'Nation(' || n_name || ')', 2
  FROM nation JOIN region ON r_regionkey = n_regionkey
),
all_l AS (
  SELECT 'instance' AS section, body, hops FROM inst
  UNION ALL
  SELECT 'type', body, hops FROM typ
)
SELECT section,
  CAST(row_number() OVER (
    PARTITION BY section
    ORDER BY body || '#hops = ' || CAST(hops AS VARCHAR) || chr(10)
  ) - 1 AS INTEGER) AS line_no,
  '#hops = ' || CAST(hops AS VARCHAR) || chr(9) || body AS line
FROM all_l
"""

    sql["kg_sparql_outside"] = r"""
WITH k AS (SELECT min(o_orderkey) AS k FROM orders),
chain AS (
  SELECT n.n_regionkey AS rk
  FROM k JOIN orders o ON o.o_orderkey = k.k
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
)
SELECT DISTINCT line FROM (
  SELECT '  <http://example.org/o' || CAST(o_orderkey AS VARCHAR)
         || '> <http://example.org/by> <http://example.org/c'
         || CAST(o_custkey AS VARCHAR) || '> .' AS line FROM orders
  UNION ALL
  SELECT '  <http://example.org/c' || CAST(c_custkey AS VARCHAR)
         || '> <http://example.org/inNation> <http://example.org/n'
         || CAST(c_nationkey AS VARCHAR) || '> .' FROM customer
  UNION ALL
  SELECT '  <http://example.org/c' || CAST(c_custkey AS VARCHAR)
         || '> <http://example.org/hasName> "' || c_name || '"^^xsd:string .' FROM customer
  UNION ALL
  SELECT '  <http://example.org/n' || CAST(n_nationkey AS VARCHAR)
         || '> <http://example.org/inRegion> <http://example.org/r'
         || CAST(n_regionkey AS VARCHAR) || '> .' FROM nation
  UNION ALL
  SELECT '  <http://example.org/n' || CAST(n_nationkey AS VARCHAR)
         || '> <http://example.org/hasName> "' || n_name || '"^^xsd:string .' FROM nation
  UNION ALL
  SELECT '  <http://example.org/r' || CAST(r_regionkey AS VARCHAR)
         || '> <http://example.org/hasName> "' || r_name || '"^^xsd:string .'
  FROM region, chain WHERE r_regionkey <> chain.rk
  UNION ALL
  SELECT '  <http://example.org/r' || CAST(chain.rk AS VARCHAR)
         || '> <http://example.org/hasName> ?hasName .' FROM chain
)
"""

    sql["kg_sparql_exec"] = r"""
SELECT 'http://example.org/order/' || CAST(o.o_orderkey AS VARCHAR) AS ord,
       'http://example.org/nation/' || CAST(n.n_nationkey AS VARCHAR) AS nation,
       '"' || c.c_mktsegment || '"^^http://www.w3.org/2001/XMLSchema#string' AS segment
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE n.n_regionkey = 0
"""

    sql["kg_sparql_exec_full"] = r"""
SELECT ord, segment, phone FROM (
  SELECT 'http://example.org/order/' || CAST(o.o_orderkey AS VARCHAR) AS ord,
         '"' || c.c_mktsegment || '"^^http://www.w3.org/2001/XMLSchema#string' AS segment,
         CASE WHEN c.c_acctbal > 5000
              THEN '"' || c.c_name || '"^^http://www.w3.org/2001/XMLSchema#string' END AS phone
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE o.o_totalprice > 100000
    AND c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
)
ORDER BY ord
LIMIT 2000
"""

    sql["kg_sparql_path"] = r"""
SELECT 'http://example.org/order/' || CAST(o1.o_orderkey AS VARCHAR) AS a,
       'http://example.org/order/' || CAST(o2.o_orderkey AS VARCHAR) AS b,
       'http://example.org/nation/' || CAST(c.c_nationkey AS VARCHAR) AS n
FROM orders o1
JOIN orders o2 ON o2.o_custkey = o1.o_custkey AND o2.o_orderkey > o1.o_orderkey
JOIN customer c ON c.c_custkey = o1.o_custkey
"""

    # next* = reflexive (zero-length, restricted to graph terms — every
    # order IS a graph term) ∪ strictly-later pairs within the customer
    sql["kg_sparql_path_star"] = r"""
WITH pairs AS (
  SELECT o_orderkey AS a, o_orderkey AS b, o_custkey AS ck FROM orders
  UNION ALL
  SELECT o1.o_orderkey, o2.o_orderkey, o1.o_custkey
  FROM orders o1
  JOIN orders o2 ON o2.o_custkey = o1.o_custkey AND o2.o_orderkey > o1.o_orderkey
)
SELECT 'http://example.org/order/' || CAST(p.a AS VARCHAR) AS a,
       'http://example.org/order/' || CAST(p.b AS VARCHAR) AS b,
       'http://example.org/nation/' || CAST(c.c_nationkey AS VARCHAR) AS n
FROM pairs p
JOIN customer c ON c.c_custkey = p.ck
"""

    # !(ex:next|^ex:by) = forward by+inNation edges ∪ reversed next+inNation
    sql["kg_sparql_nps"] = r"""
WITH nxt AS (
  SELECT o_orderkey AS k, o_custkey AS ck,
         LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS succ
  FROM orders
)
SELECT 'http://example.org/order/' || CAST(o_orderkey AS VARCHAR) AS x,
       'http://example.org/customer/' || CAST(o_custkey AS VARCHAR) AS y
FROM orders
UNION ALL
SELECT 'http://example.org/customer/' || CAST(c_custkey AS VARCHAR),
       'http://example.org/nation/' || CAST(c_nationkey AS VARCHAR)
FROM customer
UNION ALL
SELECT 'http://example.org/order/' || CAST(succ AS VARCHAR),
       'http://example.org/order/' || CAST(k AS VARCHAR)
FROM nxt WHERE succ IS NOT NULL
UNION ALL
SELECT 'http://example.org/nation/' || CAST(c_nationkey AS VARCHAR),
       'http://example.org/customer/' || CAST(c_custkey AS VARCHAR)
FROM customer
"""

    # inner { SELECT ?c (COUNT(?o2) AS ?n) GROUP BY ?c } joined on ?c;
    # the aggregate binds as its lexical string (CAST mirrors that)
    sql["kg_sparql_subquery"] = r"""
WITH cnt AS (
  SELECT o_custkey AS ck, COUNT(*) AS n FROM orders GROUP BY o_custkey
)
SELECT 'http://example.org/order/' || CAST(o.o_orderkey AS VARCHAR) AS o,
       'http://example.org/customer/' || CAST(o.o_custkey AS VARCHAR) AS c,
       CAST(cnt.n AS VARCHAR) AS n
FROM orders o JOIN cnt ON cnt.ck = o.o_custkey
"""

    sql["kg_sparql_values"] = r"""
SELECT 'http://example.org/customer/' || CAST(c_custkey AS VARCHAR) AS c,
       'http://example.org/nation/' || CAST(c_nationkey AS VARCHAR) AS n
FROM customer
WHERE c_nationkey IN (0, 2)
"""

    sql["kg_sparql_ask"] = r"""
SELECT (COUNT(*) > 0) AS ask FROM customer WHERE c_nationkey = 0
"""

    sql["kg_sparql_update"] = r"""
WITH by_t AS (
  SELECT 'http://example.org/order/' || CAST(o_orderkey AS VARCHAR) AS subj,
         'http://example.org/by' AS pred,
         'http://example.org/customer/' || CAST(o_custkey AS VARCHAR) AS obj
  FROM orders
), with_orders AS (
  SELECT DISTINCT o_custkey FROM orders
), kept_innation AS (
  SELECT 'http://example.org/customer/' || CAST(c_custkey AS VARCHAR) AS subj,
         'http://example.org/inNation' AS pred,
         'http://example.org/nation/' || CAST(c_nationkey AS VARCHAR) AS obj
  FROM customer
  WHERE c_custkey NOT IN (SELECT o_custkey FROM with_orders)
), inserted AS (
  SELECT DISTINCT
         'http://example.org/nation/' || CAST(c_nationkey AS VARCHAR) AS subj,
         'http://example.org/hasCustomer' AS pred,
         'http://example.org/customer/' || CAST(c_custkey AS VARCHAR) AS obj
  FROM customer JOIN with_orders ON c_custkey = o_custkey
)
SELECT * FROM by_t
UNION ALL SELECT * FROM kept_innation
UNION ALL SELECT * FROM inserted
"""

    sql["kg_sparql_graph"] = r"""
SELECT 'urn:conv:' || CAST(o.o_custkey AS VARCHAR) AS g,
       'http://example.org/order/' || CAST(o.o_orderkey AS VARCHAR) AS o,
       'http://example.org/nation/' || CAST(c.c_nationkey AS VARCHAR) AS n
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
"""

    sql["kg_sparql_agg"] = r"""
SELECT 'http://example.org/nation/' || CAST(c.c_nationkey AS VARCHAR) AS nation,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT c.c_custkey) AS n_custs,
       SUM(CAST(o.o_orderkey AS DOUBLE)) AS key_sum,
       MIN('http://example.org/order/' || CAST(o.o_orderkey AS VARCHAR)) AS first_ord
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY nation
ORDER BY nation
"""

    sql["kg_sparql_having"] = r"""
SELECT 'http://example.org/nation/' || CAST(c.c_nationkey AS VARCHAR) AS nation,
       COUNT(*) AS n_orders,
       string_agg(DISTINCT 'http://example.org/customer/' || CAST(c.c_custkey AS VARCHAR),
                  ',' ORDER BY 'http://example.org/customer/' || CAST(c.c_custkey AS VARCHAR)) AS custs,
       MIN('http://example.org/order/' || CAST(o.o_orderkey AS VARCHAR)) AS any_ord
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY nation
HAVING nation >= 'http://example.org/nation/10'
   AND COUNT(DISTINCT c.c_custkey) >= 1
   AND SUM(CAST(o.o_orderkey AS DOUBLE)) > 0
ORDER BY nation
"""

    sql["kg_sparql_construct"] = r"""
WITH active AS (
  SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment
  FROM customer c
  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
)
SELECT DISTINCT * FROM (
  SELECT 'http://example.org/customer/' || CAST(c_custkey AS VARCHAR) AS subj,
         'http://example.org/orderedIn' AS pred,
         'iri' AS obj_kind,
         'http://example.org/nation/' || CAST(c_nationkey AS VARCHAR) AS obj_iri,
         CAST(NULL AS VARCHAR) AS obj_lexical,
         CAST(NULL AS VARCHAR) AS obj_datatype
  FROM active
  UNION ALL
  SELECT 'http://example.org/customer/' || CAST(c_custkey AS VARCHAR),
         'http://example.org/label', 'literal', NULL,
         c_mktsegment, 'http://www.w3.org/2001/XMLSchema#string'
  FROM active
  UNION ALL
  SELECT 'http://example.org/customer/' || CAST(c_custkey AS VARCHAR),
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'iri',
         'http://example.org/ActiveCustomer', NULL, NULL
  FROM active
)
"""

    sql["kg_sparql_not_exists"] = r"""
SELECT 'http://example.org/order/' || CAST(o.o_orderkey AS VARCHAR) AS ord
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000
)
"""

    sql["kg_sparql_describe"] = r"""
WITH m AS (
  SELECT * FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
)
SELECT 'http://example.org/customer/' || CAST(c_custkey AS VARCHAR) AS subj,
       'http://example.org/mktsegment' AS pred,
       'literal' AS obj_kind, CAST(NULL AS VARCHAR) AS obj_iri,
       c_mktsegment AS obj_lexical,
       'http://www.w3.org/2001/XMLSchema#string' AS obj_datatype
FROM m
UNION ALL
SELECT 'http://example.org/customer/' || CAST(c_custkey AS VARCHAR),
       'http://example.org/inNation', 'iri',
       'http://example.org/nation/' || CAST(c_nationkey AS VARCHAR), NULL, NULL
FROM m
UNION ALL
SELECT 'http://example.org/customer/' || CAST(c_custkey AS VARCHAR),
       'http://example.org/hasName', 'literal', NULL,
       c_name, 'http://www.w3.org/2001/XMLSchema#string'
FROM m
"""

    sql["kg_sparql_bind"] = r"""
SELECT 'http://example.org/customer/' || CAST(c_custkey AS VARCHAR) AS cust,
       '"' || CAST(CAST(c_custkey AS DOUBLE) * 3 + 7 AS VARCHAR)
           || '"^^http://www.w3.org/2001/XMLSchema#double' AS score,
       '"' || CASE WHEN c_acctbal > 5000 THEN 'high'
                   ELSE 'low-' || LOWER(c_mktsegment) END
           || '"^^http://www.w3.org/2001/XMLSchema#string' AS tier,
       '"' || CAST(CAST(LENGTH(c_mktsegment) AS DOUBLE) AS VARCHAR)
           || '"^^http://www.w3.org/2001/XMLSchema#double' AS seglen
FROM customer
WHERE CAST(c_custkey AS DOUBLE) * 3 + 7 > 40
"""

    # encode_for_uri mirror: same per-char unreserved/percent-hex fold the
    # Spark plan runs (list_transform <-> F.transform); hex() is uppercase
    # in both engines
    _ENC = (
        "array_to_string(list_transform(regexp_split_to_array({col}, ''), "
        "c -> CASE WHEN regexp_matches(c, '^[A-Za-z0-9_.~-]$') THEN c "
        "ELSE regexp_replace(upper(hex(encode(c))), '(..)', '%\\1', 'g') END), '')"
    )
    _XD = "http://www.w3.org/2001/XMLSchema#double"
    _XS = "http://www.w3.org/2001/XMLSchema#string"

    def _numbind(expr: str, alias: str) -> str:
        return (
            f"'\"' || CAST(CAST({expr} AS DOUBLE) AS VARCHAR) || '\"^^{_XD}' AS {alias}"
        )

    sql["kg_sparql_builtins"] = f"""
SELECT 'http://example.org/event/' || CAST(event_id AS VARCHAR) AS ev,
       {_numbind("year(ts)", "y")},
       {_numbind("month(ts)", "mo")},
       {_numbind("day(ts)", "d")},
       {_numbind("hour(ts)", "h")},
       {_numbind("minute(ts)", "mi")},
       {_numbind("CAST(floor(second(ts)) AS BIGINT)", "s")},
       '\"\"^^{_XS}' AS tz,
       '\"' || md5(event_type) || '\"^^{_XS}' AS m5,
       '\"' || sha256(props) || '\"^^{_XS}' AS dig,
       'http://example.org/props/' || {_ENC.format(col="props")} AS propiri,
       '\"' || event_type ||
           '\"^^http://www.w3.org/1999/02/22-rdf-syntax-ns#langString@en' AS tagged,
       '\"true\"^^http://www.w3.org/2001/XMLSchema#boolean' AS isres
FROM events
"""

    # graph-management mirror: MOVE = delete dst + relabel src; ADD = union
    # with a full-row NOT EXISTS (the idempotence anti-join); CLEAR = filter;
    # COPY TO DEFAULT = null the lineage (turn_idx with it)
    sql["kg_sparql_graph_mgmt"] = r"""
WITH base AS (
  SELECT 'http://example.org/order/' || CAST(o_orderkey AS VARCHAR) AS subj,
         'http://example.org/status' AS pred,
         CAST(o_orderstatus AS VARCHAR) AS lex,
         'g' || CAST(o_orderkey % 5 AS VARCHAR) AS conv_id,
         CAST(o_orderkey % 100 AS INTEGER) AS turn_idx
  FROM orders
  UNION ALL
  SELECT 'http://example.org/shared', 'http://example.org/tag', 'x',
         'g' || CAST(g AS VARCHAR), 0
  FROM range(5) t(g)
),
a1 AS (  -- MOVE g0 -> g1
  SELECT * FROM base WHERE conv_id NOT IN ('g0', 'g1')
  UNION ALL
  SELECT subj, pred, lex, 'g1', turn_idx FROM base WHERE conv_id = 'g0'
),
a2 AS (  -- ADD g2 -> g1 (idempotent: skip rows already in g1)
  SELECT * FROM a1
  UNION ALL
  SELECT m.subj, m.pred, m.lex, 'g1', m.turn_idx
  FROM a1 m
  WHERE m.conv_id = 'g2' AND NOT EXISTS (
    SELECT 1 FROM a1 x
    WHERE x.conv_id = 'g1' AND x.subj = m.subj AND x.pred = m.pred
      AND x.lex = m.lex AND x.turn_idx = m.turn_idx)
),
a3 AS (SELECT * FROM a2 WHERE conv_id IS NULL OR conv_id <> 'g3'),
a4 AS (  -- COPY g4 -> DEFAULT
  SELECT * FROM a3 WHERE conv_id IS NOT NULL
  UNION ALL
  SELECT subj, pred, lex, CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER)
  FROM a3 WHERE conv_id = 'g4'
)
SELECT subj, pred, lex, conv_id, turn_idx FROM a4
"""

    # --- the four pipeline-level queries: full-pipeline SQL re-implementation
    # (sentence split -> regex extract -> normalize -> link -> mint uuid3 ->
    # assemble -> recursive-CTE union-find -> set semantics) over the
    # transcripts parquet written by _synth_transcripts
    from rdfcmap_spark import oracle as _oracle

    sql["kg_pipeline_full"] = _oracle.pipeline_full_sql()
    sql["kg_rdfs_entail"] = _oracle.rdfs_entail_sql()
    sql["kg_triple_support"] = _oracle.triple_support_sql()
    sql["kg_triple_timeline"] = _oracle.triple_timeline_sql()
    sql["kg_turn_sft_pairs"] = _oracle.turn_sft_pairs_sql()
    # kg_growth_curve: hourly new-triple counts + running total, composed
    # over the timeline oracle (DuckDB // on BIGINT == Spark DIV for the
    # positive microsecond domain)
    sql["kg_growth_curve"] = (
        "WITH tl AS ("
        + _oracle.triple_timeline_sql()
        + r"""),
bk AS (
  SELECT CAST(first_asserted_us // 3600000000 AS BIGINT) AS epoch_bucket
  FROM tl WHERE first_asserted_us IS NOT NULL
),
per AS (
  SELECT epoch_bucket, CAST(count(*) AS BIGINT) AS n_new_triples
  FROM bk GROUP BY epoch_bucket
)
SELECT epoch_bucket, n_new_triples,
       CAST(SUM(n_new_triples) OVER (ORDER BY epoch_bucket) AS BIGINT) AS cum_triples
FROM per
"""
    )
    # kg_conflicts: multi-valued facts over the full pipeline triple set
    # (rdf:type / dct:title excluded — legitimately multi-valued)
    # kg_degree_profile (round 5): undirected degree histogram over the
    # object-property edges of the full pipeline product
    sql["kg_degree_profile"] = (
        "WITH pt AS ("
        + _oracle.pipeline_full_sql()
        + r"""),
pe AS (
  SELECT DISTINCT subj, obj_iri
  FROM pt WHERE obj_kind = 'iri' AND obj_iri IS NOT NULL AND subj <> obj_iri
),
und AS (
  SELECT subj AS node, obj_iri AS nbr FROM pe
  UNION
  SELECT obj_iri AS node, subj AS nbr FROM pe
),
deg AS (SELECT node, count(*) AS degree FROM und GROUP BY node)
SELECT CAST(degree AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_entities
FROM deg GROUP BY degree
"""
    )

    sql["kg_conflicts"] = (
        "WITH pt AS ("
        + _oracle.pipeline_full_sql()
        + f"""),
cfacts AS (
  SELECT DISTINCT subj, pred, obj_kind, coalesce(obj_iri, obj_lexical) AS obj_token
  FROM pt
  WHERE pred NOT IN ('{_RDFN}type', 'http://purl.org/dc/terms/title')
),
ccounts AS (
  SELECT subj, pred, CAST(count(*) AS BIGINT) AS n_values
  FROM cfacts GROUP BY subj, pred
)
SELECT f.subj, f.pred, c.n_values, f.obj_kind, f.obj_token
FROM cfacts f JOIN ccounts c USING (subj, pred)
WHERE c.n_values > 1
"""
    )

    # kg_conflicts_resolved: latest-asserted value wins per multi-valued
    # (subj, pred) of the triple timeline; total-order tie-break
    sql["kg_conflicts_resolved"] = (
        "WITH tl AS ("
        + _oracle.triple_timeline_sql()
        + f"""),
tf AS (
  SELECT * FROM tl
  WHERE pred NOT IN ('{_RDFN}type', 'http://purl.org/dc/terms/title')
),
trk AS (
  SELECT *,
    row_number() OVER (
      PARTITION BY subj, pred
      ORDER BY last_asserted_us DESC NULLS LAST, obj_kind ASC,
               coalesce(obj_iri, obj_lexical) ASC, obj_datatype ASC NULLS FIRST
    ) AS _rn,
    CAST(count(*) OVER (PARTITION BY subj, pred) AS BIGINT) AS n_values
  FROM tf
)
SELECT subj, pred, obj_kind, obj_iri, obj_lexical, obj_datatype,
       last_asserted_us, n_values
FROM trk WHERE _rn = 1 AND n_values > 1
"""
    )
    # kg_jsonl_roundtrip: DuckDB reads the very JSONL files the Spark query
    # wrote (same fixture contract as the transcripts parquet oracle);
    # zone-free microsecond timestampFormat is shared so the lexical forms
    # parse identically
    sql["kg_jsonl_roundtrip"] = (
        "SELECT conv_id, turn_idx, role, text, tool, ts FROM read_json('"
        + _oracle.TRANSCRIPTS_ORACLE_PATH
        + "-jsonl/*.json', format='newline_delimited', columns={"
        "conv_id: 'VARCHAR', turn_idx: 'INTEGER', role: 'VARCHAR', "
        "text: 'VARCHAR', tool: 'VARCHAR', ts: 'TIMESTAMP'})"
    )
    sql["kg_staged_resume"] = _oracle.pipeline_full_sql()
    sql["kg_ttl_roundtrip"] = _oracle.ttl_roundtrip_sql()
    # --noprefixes writer must round-trip to the same triple set
    sql["kg_ttl_noprefix_roundtrip"] = _oracle.ttl_roundtrip_sql()
    sql["kg_anonymize"] = _oracle.anonymize_sql()
    sql["kg_nquads_roundtrip"] = _oracle.nquads_roundtrip_sql()
    sql["kg_canonical_mapping"] = _oracle.canonical_mapping_sql()
    # incremental merge must reproduce the FULL-recompute mapping exactly —
    # same oracle as the one-shot query
    sql["kg_incremental_canon"] = _oracle.canonical_mapping_sql()

    # --- conversation-level assembly mirrors (operators/transcripts.py) over
    # the same transcripts parquet; the role-tag template is
    # transcripts.RENDERED_SQL, generated from the shared constant
    _TR_CTE = (
        "tr AS (SELECT *, "
        + transcripts.RENDERED_SQL
        + " AS rendered FROM read_parquet('"
        + _oracle.TRANSCRIPTS_ORACLE_PATH
        + "/*.parquet'))"
    )
    sql["chat_render"] = (
        "WITH " + _TR_CTE + """
SELECT conv_id, count(*) AS n_turns,
       string_agg(rendered, chr(10) ORDER BY turn_idx) AS text
FROM tr GROUP BY conv_id
"""
    )
    sql["chat_sft_pairs"] = (
        "WITH " + _TR_CTE + """
SELECT conv_id, turn_idx, prompt, text AS completion FROM (
  SELECT conv_id, turn_idx, role, text,
         string_agg(rendered, chr(10)) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS prompt
  FROM tr
) WHERE role = 'assistant' AND turn_idx >= 1
"""
    )
    sql["chat_role_check"] = (
        "WITH " + _TR_CTE + """,
seqs AS (
  SELECT conv_id, string_agg(substr(role, 1, 1), '' ORDER BY turn_idx) AS role_seq
  FROM tr GROUP BY conv_id
),
flags AS (
  SELECT conv_id, role_seq,
         CASE WHEN substr(role_seq, 1, 1) = 'u' THEN 1 ELSE 0 END AS starts_with_user,
         CASE WHEN role_seq LIKE 't%' OR role_seq LIKE '%ut%' THEN 0 ELSE 1 END AS tool_ok,
         CASE WHEN role_seq LIKE '%uu%' THEN 0 ELSE 1 END AS no_consecutive_user
  FROM seqs
)
SELECT conv_id, role_seq,
       CAST(starts_with_user AS INTEGER) AS starts_with_user,
       CAST(tool_ok AS INTEGER) AS tool_ok,
       CAST(no_consecutive_user AS INTEGER) AS no_consecutive_user,
       CAST(starts_with_user * tool_ok * no_consecutive_user AS INTEGER) AS valid
FROM flags
"""
    )
    sql["chat_conv_stats"] = (
        "WITH " + _TR_CTE + """
SELECT conv_id, count(*) AS n_turns,
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
       CAST(sum(CASE WHEN role = 'tool' AND tool <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
       CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars,
       date_diff('second', min(ts), max(ts)) AS duration_secs
FROM tr GROUP BY conv_id
"""
    )

    sql["chat_latency"] = (
        "WITH " + _TR_CTE + """,
lat AS (
  SELECT conv_id, role,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap_us
  FROM tr
)
SELECT conv_id,
       CAST(count(gap_us) AS BIGINT) AS n_gaps,
       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       CAST(count(CASE WHEN role = 'assistant' THEN gap_us END) AS BIGINT) AS n_assistant_gaps,
       CAST(coalesce(sum(CASE WHEN role = 'assistant' THEN gap_us END), 0) AS BIGINT) AS sum_assistant_gap_us,
       round(CAST(sum(gap_us) AS DOUBLE) / count(gap_us) / 1e6, 6) AS mean_gap_secs
FROM lat GROUP BY conv_id
"""
    )

    # chat_dialog_acts: same first-match ladder, regexes generated from the
    # SAME word lists the operator uses (\b is ASCII-safe here)
    _q_re = "^(" + "|".join(transcripts.DIALOG_INTERROGATIVES) + ")\\b"
    _c_re = "^(" + "|".join(transcripts.DIALOG_IMPERATIVES) + ")\\b"
    sql["chat_dialog_acts"] = (
        "WITH " + _TR_CTE + f"""
SELECT conv_id, turn_idx, role,
       CASE WHEN text LIKE '%```%' THEN 'code'
            WHEN lower(trim(text)) LIKE '%?' OR regexp_matches(lower(trim(text)), '{_q_re}') THEN 'question'
            WHEN regexp_matches(lower(trim(text)), '{_c_re}') THEN 'command'
            ELSE 'statement' END AS act
FROM tr
"""
    )

    sql["chat_stream_conv_stats"] = (
        "WITH " + _TR_CTE + """
SELECT conv_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_turns,
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
       CAST(sum(CASE WHEN role = 'tool' AND tool <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
       CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars
FROM tr GROUP BY conv_id
"""
    )

    sql["chat_quality"] = (
        "WITH " + _TR_CTE + """,
g AS (
  SELECT conv_id, count(*) AS n_turns,
         CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total_chars,
         CAST(sum(CASE WHEN coalesce(text, '') = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
         string_agg(substr(role, 1, 1), '' ORDER BY turn_idx) AS role_seq
  FROM tr GROUP BY conv_id
),
f AS (
  SELECT conv_id, n_turns, total_chars, n_empty,
         CASE WHEN substr(role_seq, 1, 1) = 'u'
                   AND NOT role_seq LIKE 't%'
                   AND NOT role_seq LIKE '%ut%'
                   AND NOT role_seq LIKE '%uu%' THEN 1 ELSE 0 END AS role_valid,
         CASE WHEN n_turns BETWEEN 2 AND 64 THEN 1 ELSE 0 END AS turns_ok,
         CASE WHEN total_chars BETWEEN 10 AND 20000 THEN 1 ELSE 0 END AS chars_ok,
         CASE WHEN n_empty <= 0 THEN 1 ELSE 0 END AS empty_ok
  FROM g
)
SELECT conv_id, n_turns, total_chars, n_empty,
       CAST(role_valid AS INTEGER) AS role_valid,
       CAST(turns_ok AS INTEGER) AS turns_ok,
       CAST(chars_ok AS INTEGER) AS chars_ok,
       CAST(empty_ok AS INTEGER) AS empty_ok,
       CAST(role_valid * turns_ok * chars_ok * empty_ok AS INTEGER) AS keep
FROM f
"""
    )
    sql["chat_tool_transitions"] = (
        "WITH " + _TR_CTE + """,
calls AS (
  SELECT conv_id, turn_idx, tool FROM tr
  WHERE role = 'tool' AND tool IS NOT NULL AND tool <> ''
),
seq AS (
  SELECT tool,
         coalesce(lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx),
                  '<start>') AS prev_tool
  FROM calls
)
SELECT prev_tool, tool, count(*) AS n_transitions FROM seq GROUP BY 1, 2
"""
    )
    sql["chat_truncate_budget"] = (
        "WITH " + _TR_CTE + """
SELECT conv_id, turn_idx, role, text, n_tokens, cum_tokens FROM (
  SELECT conv_id, turn_idx, role, text, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM (SELECT *,
          CAST(len(regexp_extract_all(coalesce(text, ''), '\\S+')) + 1 AS BIGINT)
            AS n_tokens
        FROM tr)
) WHERE cum_tokens <= 48
"""
    )
    # span dedup mirror: same chunking (1-based inclusive list slice ==
    # Spark's F.slice(start, length) at the tail), same md5 span key, same
    # bigint composite first-occurrence rule, ORDER BY span_idx reassembly
    sql["dedup_span"] = r"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
exploded AS (
  SELECT doc_id, words,
         unnest(generate_series(1, CAST(ceil(len(words)/8.0) AS BIGINT))) AS one_based
  FROM w
),
spans AS (
  SELECT doc_id, CAST(one_based - 1 AS INTEGER) AS span_idx,
         array_to_string(words[(one_based-1)*8+1 : (one_based-1)*8+8], ' ') AS span
  FROM exploded
),
keyed AS (
  SELECT *, md5(span) AS h, doc_id * 1048576 + span_idx AS pos_key FROM spans
),
firsts AS (SELECT h, min(pos_key) AS first_key FROM keyed GROUP BY h),
survivors AS (
  SELECT k.* FROM keyed k JOIN firsts f ON k.h = f.h AND k.pos_key = f.first_key
),
rebuilt AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS kept,
         string_agg(span, ' ' ORDER BY span_idx) AS text
  FROM survivors GROUP BY doc_id
),
totals AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS total FROM spans GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(r.text, '') AS text,
       COALESCE(r.kept, 0) AS kept, t.total
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""

    sql["dedup_exact"] = r"""
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY md5(text)
"""

    sql["dedup_minhash_lsh"] = (
        "WITH "
        + _MINHASH_CTE
        + r"""
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key
WHERE l.doc_id < r.doc_id
"""
    )

    sql["dedup_ngram_jaccard"] = (
        "WITH "
        + _SHINGLES_CTE
        + r""",
shb AS (SELECT sh.doc_id, d.lang, d.source, sh.shingle FROM sh JOIN documents d ON d.doc_id = sh.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shb GROUP BY doc_id),
inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_inter
  FROM shb l JOIN shb r ON l.lang = r.lang AND l.source = r.source AND l.shingle = r.shingle
  WHERE l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
)
SELECT a, b, n_inter, (sa.n_sh + sb.n_sh - n_inter) AS n_union,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 5) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
"""
    )

    sql["dedup_lsh_verified"] = (
        "WITH "
        + _MINHASH_CTE
        + r""",
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
  GROUP BY c.a, c.b
),
allc AS (
  SELECT c.a, c.b, coalesce(i.n_inter, 0) AS n_inter
  FROM cand c LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
)
SELECT allc.a, allc.b, allc.n_inter,
       (sa.n_sh + sb.n_sh - allc.n_inter) AS n_union,
       round(CAST(allc.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - allc.n_inter), 5) AS jaccard
FROM allc JOIN sizes sa ON sa.doc_id = allc.a JOIN sizes sb ON sb.doc_id = allc.b
"""
    )

    # naive all-docs formulation — provably component-equivalent to the
    # Spark path's exact-collapse-then-LSH-over-representatives (identical
    # texts have identical shingle sets, so cross-clique verified-pair
    # existence is a clique-level property; see dedup.dup_groups docstring)
    # incremental == full recompute (pinned contract), same oracle text
    # assigned below after dedup_dup_groups is built

    sql["dedup_dup_groups"] = (
        "WITH RECURSIVE "
        + _MINHASH_CTE
        + r""",
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
  GROUP BY c.a, c.b
),
verified AS (
  SELECT i.a, i.b
  FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
  WHERE round(CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter), 5) >= 0.8
),
eg AS (SELECT md5(text) AS h, min(doc_id) AS rep_id FROM documents GROUP BY 1),
ee AS (
  SELECT d.doc_id AS a, g.rep_id AS b
  FROM documents d JOIN eg g ON md5(d.text) = g.h WHERE d.doc_id <> g.rep_id
),
edges0 AS (SELECT a, b FROM verified UNION SELECT a, b FROM ee),
und AS (SELECT a AS src, b AS dst FROM edges0 UNION SELECT b AS src, a AS dst FROM edges0),
cnodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, comp) AS (
  SELECT node, node FROM cnodes
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN und e ON e.src = r.node
),
mapping AS (SELECT node, min(comp) AS canonical_id FROM reach GROUP BY node)
SELECT d.doc_id, coalesce(m.canonical_id, d.doc_id) AS canonical_id
FROM documents d LEFT JOIN mapping m ON m.node = d.doc_id
"""
    )
    sql["dedup_incremental_groups"] = sql["dedup_dup_groups"]

    # dedup_bucket_stats (round 5): LSH bucket-size histogram per band,
    # composed over the shared minhash/bands CTE
    sql["dedup_bucket_stats"] = (
        "WITH "
        + _MINHASH_CTE
        + r""",
bsz AS (
  SELECT band, band_key, count(*) AS bucket_size
  FROM bands GROUP BY band, band_key
)
SELECT CAST(band AS INTEGER) AS band,
       CAST(bucket_size AS BIGINT) AS bucket_size,
       CAST(count(*) AS BIGINT) AS n_buckets
FROM bsz GROUP BY band, bucket_size
"""
    )

    # dedup_group_sizes (round 5): cluster-size histogram composed over the
    # groups oracle
    sql["dedup_group_sizes"] = (
        "WITH dg AS ("
        + sql["dedup_dup_groups"]
        + r"""),
sz AS (SELECT canonical_id, count(*) AS group_size FROM dg GROUP BY canonical_id)
SELECT CAST(group_size AS BIGINT) AS group_size,
       CAST(count(*) AS BIGINT) AS n_groups
FROM sz GROUP BY group_size
"""
    )

    # conversation-level near-dup: the rendered-conversation table shadows
    # the `documents` view via a CTE of the same name, so the whole
    # dedup_dup_groups oracle body (already provably component-equivalent to
    # the Spark path) is reused verbatim over conversations
    sql["chat_dup_groups"] = sql["dedup_dup_groups"].replace(
        "WITH RECURSIVE ",
        "WITH RECURSIVE "
        + _TR_CTE
        + """,
documents AS (
  SELECT conv_id AS doc_id,
         string_agg(rendered, chr(10) ORDER BY turn_idx) AS text
  FROM tr GROUP BY conv_id
),
""",
        1,
    )

    sql["dedup_simhash"] = "WITH " + _SIMHASH_CTE + "\nSELECT doc_id, simhash FROM sig"

    sql["dedup_simhash_pairs"] = (
        "WITH "
        + _SIMHASH_CTE
        + r""",
banded AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS band_val
  FROM sig, UNNEST(range(0, 4)) AS b(band)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
         CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
  FROM banded l JOIN banded r ON l.band = r.band AND l.band_val = r.band_val
  WHERE l.doc_id < r.doc_id
)
SELECT a, b, hamming FROM cand WHERE hamming <= 3
"""
    )

    sql["dedup_simhash_groups"] = (
        "WITH RECURSIVE "
        + _SIMHASH_CTE
        + r""",
banded AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS band_val
  FROM sig, UNNEST(range(0, 4)) AS b(band)
),
vp AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM banded l JOIN banded r ON l.band = r.band AND l.band_val = r.band_val
  WHERE l.doc_id < r.doc_id
    AND bit_count(xor(l.simhash, r.simhash)) <= 3
),
und AS (SELECT a AS src, b AS dst FROM vp UNION SELECT b AS src, a AS dst FROM vp),
cnodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, comp) AS (
  SELECT node, node FROM cnodes
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN und e ON e.src = r.node
),
mapping AS (SELECT node, min(comp) AS canonical_id FROM reach GROUP BY node)
SELECT d.doc_id, coalesce(m.canonical_id, d.doc_id) AS canonical_id
FROM documents d LEFT JOIN mapping m ON m.node = d.doc_id
"""
    )

    sql["dedup_embedding_cosine"] = (
        r"""
SELECT l.vec_id AS a, r.vec_id AS b, """
        + _COS.format(a="l.embedding", b="r.embedding")
        + r""" AS cos_sim
FROM embeddings l JOIN embeddings r ON l.label = r.label
WHERE l.vec_id < r.vec_id AND """
        + _COS.format(a="l.embedding", b="r.embedding")
        + " >= 0.3"
    )

    sql["sim_topk_bruteforce"] = (
        r"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
pairs AS (
  SELECT query_id, neighbor_id, """
        + _COS.format(a="qe", b="ce")
        + r""" AS cos_sim
  FROM c, q WHERE neighbor_id <> query_id
),
r AS (SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM r WHERE rank <= 5
"""
    )

    sql["sim_topk_bucketed"] = (
        r"""
WITH q AS (SELECT vec_id AS query_id, label, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS neighbor_id, label, embedding AS ce FROM embeddings),
pairs AS (
  SELECT query_id, neighbor_id, """
        + _COS.format(a="qe", b="ce")
        + r""" AS cos_sim
  FROM c JOIN q USING (label) WHERE neighbor_id <> query_id
),
r AS (SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM r WHERE rank <= 5
"""
    )

    # hyperplane-LSH mirror: the SAME md5-derived ±1 planes as
    # similarity.hyperplanes(), dot signs packed into 8 x 16-bit bands
    from rdfcmap_spark.operators.similarity import HP_BANDS, HP_N_PLANES, hyperplanes

    _hp_dim = 64  # driver embeddings width (all sf testdata tables)
    _planes = hyperplanes(HP_N_PLANES, _hp_dim)
    _rows = HP_N_PLANES // HP_BANDS
    _bits = ",\n    ".join(
        "CASE WHEN list_dot_product(v, ["
        + ",".join(f"{c:.1f}" for c in pl)
        + "]) >= 0 THEN 1 ELSE 0 END"
        for pl in _planes
    )
    _pack = " + ".join(f"bits[band*{_rows}+{i + 1}]*{1 << i}" for i in range(_rows))
    _HP_CTE = f"""
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT vec_id, v, [{_bits}] AS bits FROM e),
banded AS (
  SELECT vec_id, v, band, CAST({_pack} AS BIGINT) AS band_val
  FROM d, UNNEST(range(0, {HP_BANDS})) AS b(band)
)
"""
    sql["sim_hyperplane_sig"] = (
        "WITH "
        + _HP_CTE
        + "\nSELECT vec_id, CAST(band AS INTEGER) AS band, band_val FROM banded"
    )
    sql["dedup_embedding_lsh"] = (
        "WITH "
        + _HP_CTE
        + r""",
cand AS (
  SELECT l.vec_id AS a, r.vec_id AS b, """
        + _COS.format(a="l.v", b="r.v")
        + r""" AS cos_sim
  FROM banded l JOIN banded r ON l.band = r.band AND l.band_val = r.band_val
  WHERE l.vec_id < r.vec_id
)
SELECT DISTINCT a, b, cos_sim FROM cand WHERE cos_sim >= 0.9
"""
    )

    sql["dedup_embedding_groups"] = (
        "WITH RECURSIVE "
        + _HP_CTE
        + r""",
cand AS (
  SELECT l.vec_id AS a, r.vec_id AS b, """
        + _COS.format(a="l.v", b="r.v")
        + r""" AS cos_sim
  FROM banded l JOIN banded r ON l.band = r.band AND l.band_val = r.band_val
  WHERE l.vec_id < r.vec_id
),
vp AS (SELECT DISTINCT a, b FROM cand WHERE cos_sim >= 0.9),
und AS (SELECT a AS src, b AS dst FROM vp UNION SELECT b AS src, a AS dst FROM vp),
cnodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, comp) AS (
  SELECT node, node FROM cnodes
  UNION
  SELECT e.dst, r.comp FROM reach r JOIN und e ON e.src = r.node
),
mapping AS (SELECT node, min(comp) AS canonical_id FROM reach GROUP BY node)
SELECT v.vec_id, coalesce(m.canonical_id, v.vec_id) AS canonical_id
FROM embeddings v LEFT JOIN mapping m ON m.node = v.vec_id
"""
    )

    # true IVF: centroid training + nearest-centroid assignment + nprobe=2
    # multi-probe (mirrors similarity.topk_ivf exactly)
    sql["sim_topk_ivf"] = (
        r"""
WITH pos AS (
  SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
),
cent AS (
  SELECT label AS cluster, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, pos, avg(v) AS m FROM pos GROUP BY label, pos)
  GROUP BY label
),
scored AS (
  SELECT e.vec_id, c.cluster, """
        + _COS.format(a="e.embedding", b="c.centroid")
        + r""" AS a_sim
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY a_sim DESC, cluster ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
corpus AS (
  SELECT e.vec_id AS neighbor_id, a.cluster, e.embedding AS ce
  FROM embeddings e JOIN assigned a USING (vec_id)
),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
qc AS (
  SELECT q.query_id, c.cluster, q.qe, """
        + _COS.format(a="q.qe", b="c.centroid")
        + r""" AS c_sim
  FROM q CROSS JOIN cent c
),
probes AS (
  SELECT query_id, cluster, qe FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c_sim DESC, cluster ASC) AS pr
    FROM qc
  ) WHERE pr <= 2
),
pairs AS (
  SELECT p.query_id, c.neighbor_id, """
        + _COS.format(a="p.qe", b="c.ce")
        + r""" AS cos_sim
  FROM corpus c JOIN probes p USING (cluster)
  WHERE c.neighbor_id <> p.query_id
),
r AS (SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM r WHERE rank <= 5
"""
    )

    # PQ/ADC: per-label one-sweep codebooks over 4 coordinate slices of the
    # 64-dim vectors (sub = 16), encode = rounded-6dp argmin per subspace
    # (tie → smaller code), ADC = DECIMAL(18,6) sum of the 4 table entries
    # (exact, order-free — the lm_score contract). ed computes every
    # (vector, subspace, codeword) distance once; the query tables are the
    # vec_id % 50 slice of the same frame.
    _pq_body = r"""ppos AS (
  SELECT label, vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
),
cb AS (
  SELECT CAST(pos // 16 AS INTEGER) AS m_idx, label AS code, pos, avg(v) AS mean
  FROM ppos GROUP BY label, pos
),
ed AS (
  SELECT p.vec_id, cb.m_idx, cb.code,
         round(sum((p.v - cb.mean) * (p.v - cb.mean)), 6) AS d
  FROM ppos p JOIN cb ON cb.pos = p.pos
  GROUP BY p.vec_id, cb.m_idx, cb.code
),
codes AS (
  SELECT vec_id, m_idx, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m_idx ORDER BY d ASC, code ASC) AS rn
    FROM ed
  ) WHERE rn = 1
),
tq AS (
  SELECT vec_id AS query_id, m_idx, code, CAST(d AS DECIMAL(18,6)) AS d
  FROM ed WHERE vec_id % 50 = 0
)"""

    _pq_adc_tail = r"""adc AS (
  SELECT tq.query_id, c.vec_id AS neighbor_id, sum(tq.d) AS adc_dist
  FROM codes c JOIN tq ON tq.m_idx = c.m_idx AND tq.code = c.code
  WHERE c.vec_id <> tq.query_id
  GROUP BY tq.query_id, c.vec_id
),
adcr AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM adc
)"""

    sql["sim_topk_pq"] = (
        "WITH "
        + _pq_body
        + ",\n"
        + _pq_adc_tail
        + r"""
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       CAST(adc_dist AS DOUBLE) AS adc_dist
FROM adcr WHERE rank <= 5
"""
    )

    # ADC shortlist (top refine*k = 40 code-only candidates) + exact-cosine
    # rerank — mirrors similarity.topk_pq_refined
    sql["sim_topk_pq_refined"] = (
        "WITH "
        + _pq_body
        + ",\n"
        + _pq_adc_tail
        + r""",
shortlist AS (SELECT query_id, neighbor_id FROM adcr WHERE rank <= 40),
rr AS (
  SELECT s.query_id, s.neighbor_id, """
        + _COS.format(a="q.embedding", b="c.embedding")
        + r""" AS cos_sim
  FROM shortlist s
  JOIN embeddings q ON q.vec_id = s.query_id
  JOIN embeddings c ON c.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM rr
) WHERE rank <= 5
"""
    )

    # IVF + PQ composed (IVFADC): coarse quantizer restricts candidates to
    # the query's nprobe=2 probed clusters; scoring is the same DECIMAL ADC
    # sum over the restricted candidate set — mirrors similarity.topk_ivfpq
    sql["sim_topk_ivfpq"] = (
        "WITH "
        + _pq_body
        + r""",
icent AS (
  SELECT label AS cluster, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, pos, avg(v) AS m FROM ppos GROUP BY label, pos)
  GROUP BY label
),
iscored AS (
  SELECT e.vec_id, c.cluster, """
        + _COS.format(a="e.embedding", b="c.centroid")
        + r""" AS a_sim
  FROM embeddings e CROSS JOIN icent c
),
iassigned AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY a_sim DESC, cluster ASC) AS rn
    FROM iscored
  ) WHERE rn = 1
),
iqc AS (
  SELECT e.vec_id AS query_id, c.cluster, """
        + _COS.format(a="e.embedding", b="c.centroid")
        + r""" AS c_sim
  FROM embeddings e CROSS JOIN icent c WHERE e.vec_id % 50 = 0
),
iprobes AS (
  SELECT query_id, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c_sim DESC, cluster ASC) AS pr
    FROM iqc
  ) WHERE pr <= 2
),
icand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, c.m_idx, c.code
  FROM codes c
  JOIN iassigned a ON a.vec_id = c.vec_id
  JOIN iprobes p ON p.cluster = a.cluster
  WHERE c.vec_id <> p.query_id
),
iadc AS (
  SELECT cd.query_id, cd.neighbor_id, sum(tq.d) AS adc_dist
  FROM icand cd
  JOIN tq ON tq.query_id = cd.query_id AND tq.m_idx = cd.m_idx AND tq.code = cd.code
  GROUP BY cd.query_id, cd.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       CAST(adc_dist AS DOUBLE) AS adc_dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM iadc
) WHERE rank <= 5
"""
    )

    # sim_kmeans: 3 synchronous Lloyd rounds, label-mean seed, unrolled —
    # assignment by 5-dp cosine (cluster-asc tie-break) each round, means
    # recomputed as per-(cluster, pos) avg; n_members from the FINAL
    # round's assignment; output = centroid coords exploded to scalar rows
    # (pos 0-based to match posexplode), means rounded to 6 dp
    _km_rounds = 3
    _km_parts = [
        r"""kpos AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
),
kc0 AS (
  SELECT label AS cluster, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, pos, avg(v) AS m FROM kpos GROUP BY label, pos)
  GROUP BY label
)"""
    ]
    for _i in range(_km_rounds):
        _km_parts.append(
            f"""ks{_i} AS (
  SELECT e.vec_id, c.cluster, e.embedding, """
            + _COS.format(a="e.embedding", b="c.centroid")
            + f""" AS s
  FROM embeddings e CROSS JOIN kc{_i} c
),
ka{_i} AS (
  SELECT vec_id, cluster, embedding FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cluster ASC) AS rn
    FROM ks{_i}
  ) WHERE rn = 1
),
kp{_i} AS (
  SELECT cluster, generate_subscripts(embedding, 1) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM ka{_i}
),
kc{_i + 1} AS (
  SELECT cluster, list(m ORDER BY pos) AS centroid
  FROM (SELECT cluster, pos, avg(v) AS m FROM kp{_i} GROUP BY cluster, pos)
  GROUP BY cluster
)"""
        )
    sql["sim_kmeans"] = (
        "WITH "
        + ",\n".join(_km_parts)
        + f""",
kfin AS (
  SELECT cluster, generate_subscripts(centroid, 1) - 1 AS pos, unnest(centroid) AS v
  FROM kc{_km_rounds}
),
kmem AS (SELECT cluster, count(*) AS n_members FROM ka{_km_rounds - 1} GROUP BY cluster)
SELECT f.cluster, CAST(f.pos AS INTEGER) AS pos, round(f.v, 6) AS mean6,
       CAST(kmem.n_members AS BIGINT) AS n_members
FROM kfin f JOIN kmem USING (cluster)"""
    )

    # per-source sampling weights toward the uniform target mix —
    # deterministic ratios of exact BIGINT token counts
    sql["data_mixture_weights"] = r"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens, count(*) AS n_sources FROM per)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE), 9) AS obs_share,
       round(1.0 / n_sources, 9) AS target_share,
       round((1.0 / n_sources) / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)), 6) AS weight
FROM per CROSS JOIN tot
"""

    sql["text_token_stats"] = r"""
SELECT doc_id,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+')) AS BIGINT) AS n_bpe_tokens,
  round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(regexp_extract_all(text, '\S+')), 5) AS avg_token_len
FROM documents
"""

    sql["text_quality"] = r"""
WITH f AS (
  SELECT doc_id, n_chars,
    CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tokens,
    CAST(length(text) AS DOUBLE) AS nc,
    CAST(len(regexp_extract_all(text, '\b(the|a|an|of|to|and|in|is|on|for)\b')) AS DOUBLE) AS n_stop,
    CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) AS n_punct,
    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_digit
  FROM documents
)
SELECT doc_id,
  round(CAST(n_stop AS DOUBLE) / n_tokens, 5) AS stopword_ratio,
  round(CAST(n_punct AS DOUBLE) / nc, 5) AS punct_ratio,
  round(CAST(n_digit AS DOUBLE) / nc, 5) AS digit_ratio,
  CAST(CASE WHEN n_chars >= 100 AND n_chars <= 20000 THEN 400 ELSE 0 END
       + floor(least(300 * 5 * n_stop, 300 * n_tokens) / n_tokens)
       + floor(300 * (nc - least(n_punct + n_digit, nc)) / nc) AS BIGINT) AS quality_score
FROM f
"""

    # \b is ASCII-only in RE2 too — non-ASCII marker sets (zh) use a plain
    # alternation, mirroring textstats._word_re exactly
    _LANG_SCORES = ",\n  ".join(
        "CAST(len(regexp_extract_all(text, '"
        + textstats._word_re(words)
        + "')) AS BIGINT) AS score_" + lang
        for lang, words in sorted(textstats.LANG_MARKERS.items())
    )
    sql["text_langid"] = (
        "WITH s AS (\n  SELECT doc_id,\n  "
        + _LANG_SCORES
        + r"""
  FROM documents
)
SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
  CASE WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0 THEN 'und'
       WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
       WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
       WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
       WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
       ELSE 'zh' END AS lang_pred
FROM s
"""
    )

    sql["text_fingerprint"] = (
        "WITH " + _SHINGLES_CTE + "\nSELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id"
    )

    sql["text_quality_filter"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
g2 AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS gram
  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS r(i)
  WHERE len(t) >= 2
),
g2a AS (
  SELECT doc_id, max(c) AS max2 FROM (
    SELECT doc_id, gram, count(*) AS c FROM g2 WHERE gram <> '' GROUP BY doc_id, gram
  ) GROUP BY doc_id
),
g3 AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS gram
  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 0) + 1)) AS r(i)
  WHERE len(t) >= 3
),
g3a AS (
  SELECT doc_id, sum(c) AS tot3, count(*) AS dst3 FROM (
    SELECT doc_id, gram, count(*) AS c FROM g3 WHERE gram <> '' GROUP BY doc_id, gram
  ) GROUP BY doc_id
),
base AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt,
    CAST(length(text) AS BIGINT) AS nc,
    CAST(len(regexp_extract_all(text,
      '\b(the|a|an|of|to|and|in|is|on|for)\b')) AS BIGINT) AS ns,
    CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT)
      + CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS nsym
  FROM documents
),
j AS (
  SELECT b.*, g2a.max2, g3a.tot3, g3a.dst3
  FROM base b LEFT JOIN g2a ON b.doc_id = g2a.doc_id
              LEFT JOIN g3a ON b.doc_id = g3a.doc_id
)
SELECT doc_id,
  (nt < 10 OR nc > 20000) AS flag_len,
  (nsym * 10 > nc * 3) AS flag_symbols,
  (nt >= 20 AND ns = 0) AS flag_nostop,
  coalesce(max2 * 2 * 10 > nt * 2, FALSE) AS flag_rep2,
  coalesce((tot3 - dst3) * 10 > tot3 * 2, FALSE) AS flag_rep3,
  NOT ((nt < 10 OR nc > 20000) OR (nsym * 10 > nc * 3)
       OR (nt >= 20 AND ns = 0)
       OR coalesce(max2 * 2 * 10 > nt * 2, FALSE)
       OR coalesce((tot3 - dst3) * 10 > tot3 * 2, FALSE)) AS keep
FROM j
"""

    sql["text_repetition"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
g2 AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS gram
  FROM toks, UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS r(i)
  WHERE len(t) >= 2
),
g2a AS (
  SELECT doc_id, max(c) AS max2 FROM (
    SELECT doc_id, gram, count(*) AS c FROM g2 WHERE gram <> '' GROUP BY doc_id, gram
  ) GROUP BY doc_id
),
g3 AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS gram
  FROM toks, UNNEST(range(1, greatest(len(t) - 2, 0) + 1)) AS r(i)
  WHERE len(t) >= 3
),
g3a AS (
  SELECT doc_id, sum(c) AS tot3, count(*) AS dst3 FROM (
    SELECT doc_id, gram, count(*) AS c FROM g3 WHERE gram <> '' GROUP BY doc_id, gram
  ) GROUP BY doc_id
),
nt AS (
  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT nt.doc_id, nt.n_tokens,
  coalesce(round(2 * CAST(g2a.max2 AS DOUBLE) / nt.n_tokens, 5), 0.0) AS top_2gram_frac,
  coalesce(round(CAST(g3a.tot3 - g3a.dst3 AS DOUBLE) / g3a.tot3, 5), 0.0) AS dup_3gram_frac
FROM nt
LEFT JOIN g2a ON g2a.doc_id = nt.doc_id
LEFT JOIN g3a ON g3a.doc_id = nt.doc_id
"""

    sql["text_lm_score"] = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
  ) WHERE tok <> ''
),
dt AS (SELECT doc_id, tok, count(*) AS k FROM toks GROUP BY doc_id, tok),
c AS (SELECT tok, CAST(sum(k) AS BIGINT) AS c FROM dt GROUP BY tok),
g AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v FROM c),
lp AS (
  SELECT tok, c,
         CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS logp
  FROM c CROSS JOIN g
)
SELECT dt.doc_id,
       CAST(sum(dt.k) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN lp.c = 1 THEN dt.k ELSE 0 END) AS BIGINT) AS n_hapax,
       round(-CAST(sum(dt.k * lp.logp) AS DOUBLE) / sum(dt.k), 4) AS avg_nll
FROM dt JOIN lp ON lp.tok = dt.tok
GROUP BY dt.doc_id
"""

    # text_lm_bigram: add-one-smoothed bigram LM — bigrams formed by
    # position indexing into the split token array (unnest(generate_series)
    # mirrors Spark's in-row transform-over-sequence; no token-position
    # window), per-bigram log-probs rounded to 6 decimals and summed as
    # DECIMAL, the same order-free contract as text_lm_score
    sql["text_lm_bigram"] = r"""
WITH arr AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS a
  FROM documents
),
idx AS (
  SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i
  FROM arr WHERE len(a) >= 2
),
bi AS (SELECT doc_id, a[i] AS t1, a[i + 1] AS t2 FROM idx),
dbt AS (SELECT doc_id, t1, t2, count(*) AS k FROM bi GROUP BY doc_id, t1, t2),
c AS (SELECT t1, t2, CAST(sum(k) AS BIGINT) AS c FROM dbt GROUP BY t1, t2),
ctx AS (SELECT t1, CAST(sum(c) AS BIGINT) AS c_ctx FROM c GROUP BY t1),
toks AS (
  SELECT tok FROM (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
  ) WHERE tok <> ''
),
vocab AS (SELECT count(DISTINCT tok) AS v FROM toks),
lp AS (
  SELECT c.t1, c.t2, c.c,
         CAST(round(ln(CAST(c.c + 1 AS DOUBLE) / CAST(ctx.c_ctx + vocab.v AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS logp
  FROM c JOIN ctx USING (t1) CROSS JOIN vocab
),
sc AS (
  SELECT dbt.doc_id,
         CAST(sum(dbt.k) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN lp.c = 1 THEN dbt.k ELSE 0 END) AS BIGINT) AS n_unseen_ctx,
         round(-CAST(sum(dbt.k * lp.logp) AS DOUBLE) / sum(dbt.k), 4) AS avg_nll
  FROM dbt JOIN lp ON lp.t1 = dbt.t1 AND lp.t2 = dbt.t2
  GROUP BY dbt.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(sc.n_unseen_ctx, 0) AS BIGINT) AS n_unseen_ctx,
       sc.avg_nll
FROM documents d LEFT JOIN sc USING (doc_id)
"""

    sql["chat_entity_pmi"] = _oracle.entity_pmi_sql()
    sql["chat_entity_timeline"] = _oracle.entity_timeline_sql()
    sql["chat_pronoun_coref"] = _oracle.pronoun_antecedents_sql()

    sql["text_tfidf_keywords"] = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
  ) WHERE tok <> ''
),
dt AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dfq AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
idf AS (
  SELECT tok, df,
         CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS DECIMAL(18,6)) AS idf
  FROM dfq CROSS JOIN nd
),
sc AS (SELECT dt.doc_id, dt.tok, dt.tf, idf.df, dt.tf * idf.idf AS score FROM dt JOIN idf USING (tok)),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rank FROM sc)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, tok, CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df, CAST(score AS DOUBLE) AS score
FROM rk WHERE rank <= 3
"""

    sql["text_decontaminate"] = (
        "WITH "
        + _SHINGLES_CTE
        + r""",
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
hits AS (
  SELECT sh.doc_id, count(*) AS n
  FROM sh JOIN bench USING (shingle)
  GROUP BY sh.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(h.n, 0) AS BIGINT) AS n_contaminated_grams,
  coalesce(h.n, 0) >= 2 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""
    )

    # generated from the same PII_PATTERNS constants the Spark operator uses
    # (patterns are lookahead-free so Java regex and RE2 count identically)
    _PII_COUNTS = ",\n  ".join(
        "CAST(len(regexp_extract_all(text, '"
        + p.replace("'", "''")
        + "')) AS BIGINT) AS n_"
        + k
        for k, p in textstats.PII_PATTERNS.items()
    )
    sql["text_pii_scan"] = (
        "WITH c AS (\n  SELECT doc_id,\n  "
        + _PII_COUNTS
        + "\n  FROM documents\n)\nSELECT doc_id, "
        + ", ".join("n_" + k for k in textstats.PII_PATTERNS)
        + ",\n  CAST("
        + " + ".join("n_" + k for k in textstats.PII_PATTERNS)
        + " AS BIGINT) AS n_pii_total\nFROM c"
    )

    # pii_redact: counts on the progressively redacted text, replacements
    # nested in PII_REDACT_ORDER — generated from the same Python constants
    # the Spark plan uses
    _redact_selects = []
    _redact_t = "text"
    for _k in textstats.PII_REDACT_ORDER:
        _p = textstats.PII_PATTERNS[_k].replace("'", "''")
        _redact_selects.append(
            f"CAST(len(regexp_extract_all({_redact_t}, '{_p}')) AS BIGINT) AS n_{_k}"
        )
        _redact_t = f"regexp_replace({_redact_t}, '{_p}', '[{_k.upper()}]', 'g')"
    sql["text_pii_redact"] = (
        "SELECT doc_id,\n  "
        + ",\n  ".join(_redact_selects)
        + ",\n  "
        + _redact_t
        + " AS text_redacted\nFROM documents"
    )

    # engine-portable hash split: int(md5(str(doc_id))[:6], 16) % 100 —
    # md5 of the decimal id string is byte-identical across engines
    sql["data_cap_per_source"] = r"""
WITH ranked AS (
  SELECT doc_id, source AS stratum,
         CAST(row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR) || ':cap'), doc_id
         ) AS INTEGER) AS rank_in_source
  FROM documents
)
SELECT doc_id, stratum, rank_in_source FROM ranked WHERE rank_in_source <= 10
"""

    sql["data_shuffle_order"] = r"""
SELECT doc_id,
       md5(CAST(doc_id AS VARCHAR) || ':shuffle') AS shuffle_key,
       CAST(row_number() OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':shuffle'), doc_id
       ) AS BIGINT) AS ord
FROM documents
"""

    sql["data_split"] = r"""
WITH b AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS INTEGER) % 100
              AS INTEGER) AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""

    # data_chunking: 64-token windows, stride 48 (16 overlap); starts stop
    # once a window covers the document end (start <= n - overlap - 1, r4
    # ADVICE — no trailing fully-contained chunks); empty docs chunkless.
    # Spark sequence() is bound-INCLUSIVE, DuckDB range() stop-EXCLUSIVE:
    # stop = n - 16 (floored at 1 for 1..17-token docs, 0 for empty).
    # list_slice is inclusive [begin,end], mirroring slice(start+1, window).
    sql["data_chunking"] = r"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS t
  FROM documents
),
st AS (
  SELECT doc_id, t,
         unnest(range(0, CASE WHEN len(t) = 0 THEN 0
                              ELSE greatest(1, len(t) - 16) END, 48)) AS start
  FROM toks
)
SELECT doc_id,
       CAST(start // 48 AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(t, start + 1, start + 64)) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(t, start + 1, start + 64), ' ') AS chunk_text
FROM st
"""

    # salted hash (':sample') so mixing is independent of the split bucket
    sql["data_sample_stratified"] = r"""
WITH b AS (
  SELECT doc_id, source,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 6)
              AS INTEGER) % 10000 AS INTEGER) AS sample_bucket
  FROM documents
)
SELECT doc_id, source AS stratum, sample_bucket
FROM b
WHERE sample_bucket < CASE source WHEN 'src0' THEN 10000
                                  WHEN 'src1' THEN 5000
                                  WHEN 'src2' THEN 1000
                                  ELSE 3000 END
"""

    # W3C SPARQL result serializations: the SELECT result (cust/label/seg/
    # phone with phone unbound unless custkey%3=0), serialized per
    # sparql11-results-csv-tsv / -json; ord = row_number over the
    # serialized fields (header row is ord 0 for CSV/TSV)
    _RES_CTE = r"""
  SELECT 'http://example.org/customer/' || CAST(c_custkey AS VARCHAR) AS cust,
         c_name AS label_lex,
         c_name || ', ' || c_mktsegment AS seg_lex,
         CASE WHEN c_custkey % 3 = 0 THEN CAST(c_acctbal AS VARCHAR) END AS phone_lex
  FROM customer
"""

    sql["kg_sparql_results_csv"] = (
        "WITH res AS (" + _RES_CTE + r"""),
fields AS (
  SELECT cust AS f1, label_lex AS f2,
         '"' || replace(seg_lex, '"', '""') || '"' AS f3,
         COALESCE(phone_lex, '') AS f4
  FROM res
)
SELECT CAST(row_number() OVER (ORDER BY f1, f2, f3, f4) AS INTEGER) AS ord,
       f1 || ',' || f2 || ',' || f3 || ',' || f4 AS line
FROM fields
UNION ALL
SELECT 0, 'cust,label,seg,phone'
"""
    )

    sql["kg_sparql_results_tsv"] = (
        "WITH res AS (" + _RES_CTE + r"""),
fields AS (
  SELECT '<' || cust || '>' AS f1,
         '"' || label_lex || '"@en' AS f2,
         '"' || seg_lex || '"' AS f3,
         COALESCE('"' || phone_lex || '"', '') AS f4
  FROM res
)
SELECT CAST(row_number() OVER (ORDER BY f1, f2, f3, f4) AS INTEGER) AS ord,
       f1 || chr(9) || f2 || chr(9) || f3 || chr(9) || f4 AS line
FROM fields
UNION ALL
SELECT 0, '?cust' || chr(9) || '?label' || chr(9) || '?seg' || chr(9) || '?phone'
"""
    )

    sql["kg_sparql_results_json"] = (
        "WITH res AS (" + _RES_CTE + r"""),
frag AS (
  SELECT '{"type":"uri","value":"' || cust || '"}' AS f1,
         '{"type":"literal","value":"' || label_lex
           || '","datatype":"http://www.w3.org/1999/02/22-rdf-syntax-ns#langString","xml:lang":"en"}' AS f2,
         '{"type":"literal","value":"' || seg_lex || '"}' AS f3,
         CASE WHEN phone_lex IS NOT NULL
              THEN '{"type":"literal","value":"' || phone_lex || '"}' END AS f4
  FROM res
)
SELECT CAST(row_number() OVER (
           ORDER BY f1 NULLS FIRST, f2 NULLS FIRST, f3 NULLS FIRST, f4 NULLS FIRST
       ) AS INTEGER) AS ord,
       '{"cust":' || f1 || ',"label":' || f2 || ',"seg":' || f3
         || COALESCE(',"phone":' || f4, '') || '}' AS binding
FROM frag
"""
    )

    sql["kg_sparql_results_xml"] = (
        "WITH res AS (" + _RES_CTE + r"""),
frag AS (
  SELECT '<binding name="cust"><uri>' || cust || '</uri></binding>' AS f1,
         '<binding name="label"><literal xml:lang="en">' || label_lex
           || '</literal></binding>' AS f2,
         '<binding name="seg"><literal>' || seg_lex || '</literal></binding>' AS f3,
         CASE WHEN phone_lex IS NOT NULL
              THEN '<binding name="phone"><literal>' || phone_lex
                   || '</literal></binding>' END AS f4
  FROM res
)
SELECT CAST(row_number() OVER (
           ORDER BY f1 NULLS FIRST, f2 NULLS FIRST, f3 NULLS FIRST, f4 NULLS FIRST
       ) AS INTEGER) AS ord,
       '<result>' || f1 || f2 || f3 || COALESCE(f4, '') || '</result>' AS result
FROM frag
"""
    )

    _TOKS_CTE = r"""
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS INTEGER) % 100 % 8
              AS INTEGER) AS shard,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
  FROM documents
"""

    sql["pack_concat_chunk"] = (
        "WITH toks AS (" + _TOKS_CTE + r"""),
cum AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS s
  FROM toks
)
SELECT doc_id, shard, n_tokens,
       CAST(s // 512 AS BIGINT) AS bin,
       CAST(s % 512 AS BIGINT) AS off
FROM cum
"""
    )

    # the greedy per-shard scan as a recursive CTE over row_number succession
    sql["pack_greedy"] = (
        "WITH RECURSIVE toks AS (" + _TOKS_CTE + r"""),
ordered AS (
  SELECT doc_id, shard, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM toks
),
packed AS (
  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin, n_tokens AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN p.fill > 0 AND p.fill + o.n_tokens > 512
              THEN p.bin + 1 ELSE p.bin END,
         CASE WHEN p.fill > 0 AND p.fill + o.n_tokens > 512
              THEN o.n_tokens ELSE p.fill + o.n_tokens END
  FROM packed p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT doc_id, shard, n_tokens, bin, fill FROM packed
"""
    )

    # multimodal_features (round 5, REAL decode): mirror of the synthetic
    # image generator's closed-form pixel model (multimodal._synth_pixels):
    # dims w=4+doc_id%13, h=3+doc_id%7; luminance ramp v(i)=(doc_id*7+i)%256
    # over row-major i; even doc_id = grayscale PNG (1 channel), odd = RGB
    # BMP with g/b planes offset +85/+170 mod 256. The Spark side measures
    # these stats from DECODED bytes, so matching here proves the codec.
    sql["multimodal_features"] = r"""
WITH v AS (
  SELECT doc_id, (doc_id * 7 + i) % 256 AS val
  FROM (SELECT doc_id,
               unnest(range(0, (4 + doc_id % 13) * (3 + doc_id % 7))) AS i
        FROM documents)
),
agg AS (
  SELECT doc_id,
    SUM(CASE WHEN doc_id % 2 = 0 THEN val
             ELSE val + (val + 85) % 256 + (val + 170) % 256 END) AS px_sum,
    SUM(val) AS r_sum,
    MIN(CASE WHEN doc_id % 2 = 0 THEN val
             ELSE least(val, (val + 85) % 256, (val + 170) % 256) END) AS px_min,
    MAX(CASE WHEN doc_id % 2 = 0 THEN val
             ELSE greatest(val, (val + 85) % 256, (val + 170) % 256) END) AS px_max
  FROM v GROUP BY doc_id
)
SELECT d.doc_id,
  CASE WHEN d.doc_id % 2 = 0 THEN 'image/png' ELSE 'image/bmp' END AS media_type,
  CAST(4 + d.doc_id % 13 AS INTEGER) AS width,
  CAST(3 + d.doc_id % 7 AS INTEGER) AS height,
  CAST(CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels,
  CAST((4 + d.doc_id % 13) * (3 + d.doc_id % 7) AS BIGINT) AS n_pixels,
  CAST(a.px_sum AS BIGINT) AS px_sum,
  CAST(a.r_sum AS BIGINT) AS r_sum,
  CAST(a.px_min AS INTEGER) AS px_min,
  CAST(a.px_max AS INTEGER) AS px_max
FROM documents d JOIN agg a USING (doc_id)
"""

    sql["multimodal_resize"] = r"""
WITH f AS (
  SELECT doc_id,
    CAST(strlen(text) % 640 AS INTEGER) AS width,
    CAST(strlen(text) % 480 AS INTEGER) AS height
  FROM documents
)
SELECT doc_id, width, height,
  CAST(CASE
    WHEN width <= 0 OR height <= 0 THEN 0
    WHEN width * 240 >= height * 320 THEN 320
    ELSE (width * 240) // height END AS INTEGER) AS out_w,
  CAST(CASE
    WHEN width <= 0 OR height <= 0 THEN 0
    WHEN width * 240 >= height * 320 THEN (height * 320) // width
    ELSE 240 END AS INTEGER) AS out_h
FROM f
"""

    # multimodal_audio_features (round 5, REAL decode): mirror of the
    # synthetic waveform generator (multimodal._synth_waveform): channel-0
    # sample v(i) = (doc_id*31 + i*7) % 65536 - 32768 over n = 800 +
    # doc_id%800 frames; odd doc_id adds a +1000-offset second channel;
    # rate = 8000*(1 + doc_id%3). The Spark side measures these stats from
    # DECODED RIFF/PCM bytes, so matching proves the codec.
    sql["multimodal_audio_features"] = r"""
WITH v AS (
  SELECT doc_id,
         (doc_id * 31 + i * 7) % 65536 - 32768 AS c0,
         CASE WHEN doc_id % 2 = 1
              THEN (doc_id * 31 + i * 7 + 1000) % 65536 - 32768 END AS c1
  FROM (SELECT doc_id, unnest(range(0, 800 + doc_id % 800)) AS i FROM documents)
),
agg AS (
  SELECT doc_id,
    SUM(abs(c0) + COALESCE(abs(c1), 0)) AS sum_abs,
    SUM(c0) AS c0_sum,
    MAX(GREATEST(abs(c0), COALESCE(abs(c1), 0))) AS peak
  FROM v GROUP BY doc_id
)
SELECT d.doc_id,
  'audio/wav' AS media_type,
  CAST(8000 * (1 + d.doc_id % 3) AS INTEGER) AS sample_rate,
  CAST(CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS n_channels,
  CAST(800 + d.doc_id % 800 AS BIGINT) AS n_frames,
  CAST((800 + d.doc_id % 800) * 1000000 // (8000 * (1 + d.doc_id % 3)) AS BIGINT)
    AS duration_us,
  CAST(a.sum_abs AS BIGINT) AS sum_abs,
  CAST(a.c0_sum AS BIGINT) AS c0_sum,
  CAST(a.peak AS INTEGER) AS peak
FROM documents d JOIN agg a USING (doc_id)
"""

    # multimodal_resize_real: same integer fit, dims from the REAL decoded
    # images (the generator's closed-form w/h — dims are always >= 3 so no
    # zero branch fires, but the CASE stays for formula parity)
    sql["multimodal_resize_real"] = r"""
WITH f AS (
  SELECT doc_id,
    CAST(4 + doc_id % 13 AS INTEGER) AS width,
    CAST(3 + doc_id % 7 AS INTEGER) AS height
  FROM documents
)
SELECT doc_id, width, height,
  CAST(CASE
    WHEN width <= 0 OR height <= 0 THEN 0
    WHEN width * 240 >= height * 320 THEN 320
    ELSE (width * 240) // height END AS INTEGER) AS out_w,
  CAST(CASE
    WHEN width <= 0 OR height <= 0 THEN 0
    WHEN width * 240 >= height * 320 THEN (height * 320) // width
    ELSE 240 END AS INTEGER) AS out_h
FROM f
"""

    sql["multimodal_frame_sample"] = r"""
WITH f AS (
  SELECT doc_id, md5(text) AS checksum,
    CAST(1 + strlen(text) % 16 AS INTEGER) AS n_frames
  FROM documents
)
SELECT f.doc_id,
  CAST(g.i AS INTEGER) AS frame_idx,
  md5(f.checksum || '|' || CAST(g.i AS VARCHAR)) AS frame_checksum
FROM f JOIN generate_series(0, 15, 4) AS g(i) ON g.i < f.n_frames
"""

    sql["tpch_q1"] = r"""
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-12-01'
GROUP BY l_returnflag, l_linestatus
"""

    sql["events_sessionize"] = r"""
WITH x AS (
  SELECT user_id, epoch_us(ts) AS t,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS pt
  FROM events
)
SELECT user_id,
  CAST(sum(CASE WHEN pt IS NULL OR t - pt > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
  count(*) AS n_events
FROM x GROUP BY user_id
"""

    # M1 node sizing: g4 closure + the Java integer-division clamps + font
    # ladder (VisualizationInfoBuilder.java:1215-1277)
    sql["kg_m1_node_sizing"] = (
        "WITH RECURSIVE sc(child, parent) AS (VALUES "
        + _sc_values
        + r"""),
closure(node, anc) AS (
  SELECT child, parent FROM sc
  UNION
  SELECT c.node, s.parent FROM closure c JOIN sc s ON s.child = c.anc
),
lv AS (SELECT node, count(DISTINCT anc) AS level FROM closure GROUP BY node),
adj AS (SELECT node, level, CASE WHEN level = 0 THEN 1 ELSE level END AS l FROM lv)
SELECT node, CAST(level AS BIGINT) AS level,
  CAST(least(greatest(10000 // l, 100), 2000) AS BIGINT) AS width,
  CAST(least(greatest(2500 // l, 25), 500) AS BIGINT) AS height,
  CAST(CASE WHEN l <= 2 THEN 800 WHEN l = 3 THEN 600 WHEN l = 4 THEN 500
            WHEN l = 5 THEN 300 WHEN l = 6 THEN 200 WHEN l <= 9 THEN 100
            WHEN l = 10 THEN 80 WHEN l = 11 THEN 50 WHEN l = 12 THEN 25
            ELSE 12 END AS BIGINT) AS font_size
FROM adj
"""
    )

    # O3 link overlap: midpoint then 21 probe-and-bump steps per axis
    # (Layouter.java:178-255/257-302) — steps generated as chained CTEs so
    # the SQL mirrors the operator's bounded fold one-for-one.
    _o3_steps = []
    for _k in range(1, 22):
        _o3_steps.append(
            f"s{_k} AS (SELECT conv_id, link_id, xs, ys,\n"
            "  CASE WHEN hx IS NOT NULL AND hx > 0 AND hx - px <= 5 THEN px + 10 ELSE px END AS px,\n"
            "  CASE WHEN hy IS NOT NULL AND hy > 0 AND hy - py <= 5 THEN py + 10 ELSE py END AS py\n"
            f"  FROM (SELECT *, list_min(list_filter(xs, lv -> lv >= px)) AS hx,\n"
            f"               list_min(list_filter(ys, lv -> lv >= py)) AS hy FROM s{_k - 1}))"
        )
    sql["kg_o3_link_overlap"] = (
        r"""WITH concepts AS (
  SELECT p_partkey % 20 AS conv_id, p_partkey AS node,
         (p_partkey * 37) % 360 AS x, (p_partkey * 59) % 360 AS y
  FROM part
),
coords AS (
  SELECT conv_id, list_sort(list(CAST(x AS BIGINT))) AS xs,
         list_sort(list(CAST(y AS BIGINT))) AS ys
  FROM concepts GROUP BY conv_id
),
links AS (
  SELECT a.conv_id, a.node AS link_id, a.node AS src, b.node AS dst
  FROM concepts a JOIN concepts b ON b.node = a.node + 20 AND b.conv_id = a.conv_id
),
s0 AS (
  SELECT l.conv_id, l.link_id, c.xs, c.ys,
         CAST(floor(0.5 * (sa.x + sb.x) + 0.5) AS BIGINT) AS px,
         CAST(floor(0.5 * (sa.y + sb.y) + 0.5) AS BIGINT) AS py
  FROM links l
  JOIN concepts sa ON sa.conv_id = l.conv_id AND sa.node = l.src
  JOIN concepts sb ON sb.conv_id = l.conv_id AND sb.node = l.dst
  JOIN coords c ON c.conv_id = l.conv_id
),
"""
        + ",\n".join(_o3_steps)
        + "\nSELECT CAST(conv_id AS BIGINT) AS conv_id, CAST(link_id AS BIGINT) AS link_id, px AS x, py AS y FROM s21"
    )

    sql["events_stream_rollup"] = r"""
SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
  CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events GROUP BY event_type, date_trunc('hour', ts)
"""

    sql["events_hourly_rollup"] = r"""
SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
  CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events GROUP BY event_type, date_trunc('hour', ts)
"""

    # text_bpe_pairs (round 5): first BPE merge step — adjacent character
    # pairs within whitespace words, top-20 by count (Spark sequence is
    # bound-inclusive, DuckDB range stop-exclusive: both give i=1..len-1)
    sql["text_bpe_pairs"] = r"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
  FROM documents WHERE trim(text) <> ''
),
pairs AS (
  SELECT substr(w, i, 2) AS pair
  FROM words, UNNEST(range(1, len(w))) AS r(i)
  WHERE len(w) >= 2
),
stats AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences FROM pairs GROUP BY pair),
rk AS (
  SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, pair ASC) AS rank FROM stats
)
SELECT CAST(rank AS INTEGER) AS rank, pair, n_occurrences FROM rk WHERE rank <= 20
"""

    # text_top_ngrams: corpus 3-gram heavy hitters, top-20 by document
    # frequency with (n_docs desc, ngram asc) determinism
    sql["text_top_ngrams"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 3), ' ') AS ngram
  FROM toks, UNNEST(range(0, greatest(len(t) - 2, 0))) AS r(i)
  WHERE len(t) >= 3
),
per_doc AS (SELECT doc_id, ngram, count(*) AS n_in_doc FROM grams GROUP BY doc_id, ngram),
stats AS (
  SELECT ngram, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_in_doc) AS BIGINT) AS n_occurrences
  FROM per_doc GROUP BY ngram
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY n_docs DESC, ngram ASC) AS rank FROM stats
)
SELECT CAST(rank AS INTEGER) AS rank, ngram, n_docs, n_occurrences
FROM rk WHERE rank <= 20
"""

    # dedup_lsh_recall: recall of the banded MinHash index vs the exact
    # within-block Jaccard truth at threshold 0.5; cross-block finds
    # reported separately (the index's upside over the blocked eval)
    sql["dedup_lsh_recall"] = (
        "WITH "
        + _MINHASH_CTE
        + r""",
shb AS (SELECT sh.doc_id, d.lang, d.source, sh.shingle FROM sh JOIN documents d USING (doc_id)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
t_inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_inter
  FROM shb l JOIN shb r ON l.lang = r.lang AND l.source = r.source AND l.shingle = r.shingle
  WHERE l.doc_id < r.doc_id GROUP BY l.doc_id, r.doc_id
),
truth AS (
  SELECT a, b FROM t_inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 5) >= 0.5
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
f_inter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cand c JOIN sh sa2 ON sa2.doc_id = c.a
  JOIN sh sb2 ON sb2.doc_id = c.b AND sb2.shingle = sa2.shingle
  GROUP BY c.a, c.b
),
found AS (
  SELECT f.a, f.b FROM f_inter f JOIN sizes sa ON sa.doc_id = f.a JOIN sizes sb ON sb.doc_id = f.b
  WHERE round(CAST(f.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - f.n_inter), 5) >= 0.5
),
fb AS (
  SELECT f.a, f.b, (da.lang = db.lang AND da.source = db.source) AS same_block
  FROM found f JOIN documents da ON da.doc_id = f.a JOIN documents db ON db.doc_id = f.b
)
SELECT CAST(0.5 AS DOUBLE) AS threshold5,
  (SELECT count(*) FROM truth) AS n_truth,
  (SELECT count(*) FROM fb WHERE same_block) AS n_found_in_block,
  (SELECT count(*) FROM fb JOIN truth USING (a, b) WHERE same_block) AS n_hits,
  CASE WHEN (SELECT count(*) FROM truth) > 0
       THEN round(CAST((SELECT count(*) FROM fb JOIN truth USING (a, b) WHERE same_block) AS DOUBLE)
                  / (SELECT count(*) FROM truth), 5) END AS recall5,
  (SELECT count(*) FROM fb WHERE NOT same_block) AS n_cross_block
"""
    )

    # sim_filtered_topk: label-bucketed top-k over the quality-kept corpus
    # (keep set composed verbatim from the text_quality_filter oracle)
    sql["sim_filtered_topk"] = (
        "WITH qf AS ("
        + sql["text_quality_filter"]
        + r"""),
keepset AS (SELECT doc_id FROM qf WHERE keep),
q AS (SELECT vec_id AS query_id, label, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
c AS (
  SELECT vec_id AS neighbor_id, label, embedding AS ce
  FROM embeddings WHERE vec_id IN (SELECT doc_id FROM keepset)
),
pairs AS (
  SELECT query_id, neighbor_id, """
        + _COS.format(a="qe", b="ce")
        + r""" AS cos_sim
  FROM c JOIN q USING (label) WHERE neighbor_id <> query_id
),
r AS (SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM r WHERE rank <= 5
"""
    )

    # sim_ann_recall: recall@5 of IVF vs exact brute force — composed
    # verbatim from the two oracles above so the ground truth and the
    # index share one definition. The sampled variant threads query_mod
    # through the SAME composition (the only query-set term in either
    # oracle is the `vec_id % <mod> = 0` predicate — asserted below so a
    # future oracle edit cannot silently desynchronize the sample).
    def _ann_recall_sql(query_mod: int) -> str:
        bf, iv = sql["sim_topk_bruteforce"], sql["sim_topk_ivf"]
        if query_mod != 50:
            assert bf.count("% 50 = 0") == 1 and iv.count("% 50 = 0") == 1
            bf = bf.replace("% 50 = 0", f"% {query_mod} = 0")
            iv = iv.replace("% 50 = 0", f"% {query_mod} = 0")
        return (
            "WITH bf AS (" + bf + "),\niv AS (" + iv
            + r""")
SELECT bf.query_id,
       CAST(count(iv.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(iv.neighbor_id) AS DOUBLE) / 5 AS recall_at_k
FROM bf LEFT JOIN iv ON iv.query_id = bf.query_id AND iv.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""
        )

    sql["sim_ann_recall"] = _ann_recall_sql(50)
    sql["sim_ann_recall_sampled"] = _ann_recall_sql(800)

    # sim_hard_negatives (round 5): label-bucketed top-k with the query's
    # near-dup component excluded — composed over the embedding-groups
    # oracle so "positive" means exactly what the dedup pipeline ships
    sql["sim_hard_negatives"] = (
        "WITH g AS ("
        + sql["dedup_embedding_groups"]
        + r"""),
q AS (
  SELECT v.vec_id AS query_id, v.label, v.embedding AS qe, g.canonical_id AS qg
  FROM embeddings v JOIN g ON g.vec_id = v.vec_id
  WHERE v.vec_id % 50 = 0
),
c AS (
  SELECT v.vec_id AS neighbor_id, v.label, v.embedding AS ce, g.canonical_id AS cg
  FROM embeddings v JOIN g ON g.vec_id = v.vec_id
),
pairs AS (
  SELECT query_id, neighbor_id, """
        + _COS.format(a="qe", b="ce")
        + r""" AS cos_sim
  FROM c JOIN q USING (label) WHERE qg <> cg
),
r AS (SELECT query_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM pairs)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM r WHERE rank <= 5
"""
    )

    return sql
