"""Physical-plan audit: the plans we *want*, not just plans that pass.

Asserts predicate pushdown into the parquet scan, broadcast joins for
dictionary/dimension sides, anti/semi join strategies, map-side partial
aggregation, absence of cartesian products, and salted-join key spreading.
(Whole-stage codegen is applied by AQE at runtime; `isFinalPlan=false`
plans don't print the markers, so we assert the structural properties that
survive planning.)
"""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from rdfcmap_spark.operators import dedup, relational, similarity
from rdfcmap_spark.operators.salting import salted_join
from rdfcmap_spark.plans.pipeline import linked_sentences
from rdfcmap_spark.sources.tables import load
from rdfcmap_spark.synth import transcripts_df

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    p = plan_of(relational.tpch_q1(load(spark, SF, "lineitem")))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    assert "partial_sum" in plan_of(relational.tpch_q1(load(spark, SF, "lineitem")), "simple")


def test_column_pruning_reaches_scan(spark):
    df = relational.f6_orphan_cleanup(load(spark, SF, "customer"), load(spark, SF, "orders"))
    p = plan_of(df)
    # orders side must scan ONLY the join key
    assert "ReadSchema: struct<o_custkey:bigint>" in p


def test_dictionary_joins_are_broadcast(spark):
    p = plan_of(linked_sentences(transcripts_df(spark, 4, 3)))
    assert p.count("BroadcastHashJoin") >= 3  # subj, obj, phrase probes
    assert "SortMergeJoin" not in p


def test_anti_and_semi_strategies(spark):
    assert "LeftAnti" in plan_of(
        relational.f6_orphan_cleanup(load(spark, SF, "customer"), load(spark, SF, "orders"))
    )
    assert "LeftSemi" in plan_of(
        relational.f7_stale_edge_sync(load(spark, SF, "orders"), load(spark, SF, "lineitem"))
    )


def test_no_cartesian_products(spark):
    dfs = [
        relational.j1_triple_assembly(
            load(spark, SF, "customer"), load(spark, SF, "nation"), load(spark, SF, "region")
        ),
        dedup.lsh_candidate_pairs(load(spark, SF, "documents")),
        dedup.simhash_pairs(load(spark, SF, "documents")),
        similarity.topk_clustered(load(spark, SF, "embeddings")),
    ]
    for df in dfs:
        assert "CartesianProduct" not in plan_of(df)


def test_topk_broadcasts_query_side(spark):
    # brute-force scan: corpus stays un-shuffled, tiny query side broadcast
    p = plan_of(similarity.topk_bruteforce(load(spark, SF, "embeddings")))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_lsh_verify_consumes_candidates(spark):
    """The Jaccard verify stage must be keyed on the LSH candidate pairs —
    never a (lang, source) block-wide all-pairs join (the round-1 scale
    hazard). Structural check: the plan reads only doc_id/text (no blocking
    columns) and contains the band-bucket join that produces candidates."""
    docs = load(spark, SF, "documents")
    df = dedup.ngram_jaccard_verify(docs, dedup.lsh_candidate_pairs(docs))
    p = plan_of(df)
    assert "band_key" in p
    assert "lang:string" not in p and "source:string" not in p
    assert "CartesianProduct" not in p


def test_dup_groups_plan_shape(spark):
    """The groups products must keep the pair-listing scale contracts.
    dup_groups/embedding_dup_groups materialize CC eagerly, so their
    RETURNED plan is the final mapping join (assert: no cartesian, and the
    mapping side is the broadcast build). The banded-join contracts are
    asserted on the pair stages that feed CC — the text verify is covered
    by test_lsh_verify_consumes_candidates; here the embedding pair stage
    must be banded on hyperplane sign values with no cartesian."""
    docs = load(spark, SF, "documents")
    p = plan_of(dedup.dup_groups(docs))
    assert "CartesianProduct" not in p
    emb = load(spark, SF, "embeddings")
    pe_pairs = plan_of(similarity.embedding_dup_pairs_lsh(emb))
    assert "CartesianProduct" not in pe_pairs
    assert "band_val" in pe_pairs
    pe = plan_of(similarity.embedding_dup_groups(emb))
    assert "CartesianProduct" not in pe


def test_salted_join_rejects_small_side_preserving_how(spark):
    big = spark.createDataFrame([("k", 1)], "k string, v int")
    small = spark.createDataFrame([("k", 2)], "k string, w int")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(big, small, "k", n_salt=4, how="right")
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(big, small, "k", n_salt=4, how="full")


def test_salted_join_correct_and_spread(spark):
    big = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame([("hot", 1), ("cold", 2)], "k string, payload int")
    out = salted_join(big, small, "k", n_salt=8)
    plain = big.join(small, "k")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))
    # the hot key's rows really carry >1 distinct salt (load actually spreads)
    from rdfcmap_spark.operators.salting import SALT_COL

    salted = big.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(8)).cast("int")
    )
    n_salts = salted.filter(F.col("k") == "hot").select(SALT_COL).distinct().count()
    assert n_salts == 8


def test_cycle_break_edges_leaves_dag(spark):
    from rdfcmap_spark.operators.graph import cycle_break_edges

    rows = [
        ("a", "b"), ("b", "c"), ("c", "a"),          # 3-cycle
        ("c", "d"), ("d", "e"),                      # tail
        ("e", "e2"), ("e2", "e3"), ("e3", "e"),      # second cycle
        ("x", "y"),                                  # acyclic component
    ]
    edges = spark.createDataFrame(rows, "src string, dst string")
    breaks = cycle_break_edges(edges)
    assert len(breaks) == 2
    # removing the returned edges leaves a DAG (topological-sortable)
    remaining = [e for e in rows if e not in breaks]
    import graphlib

    graphlib.TopologicalSorter(
        {n: {s for s, d in remaining if d == n} for e in remaining for n in e}
    ).static_order()  # raises CycleError if any cycle survived
    # DAG input -> nothing to break
    dag = spark.createDataFrame([("p", "q"), ("q", "r")], "src string, dst string")
    assert cycle_break_edges(dag) == []


def test_pipeline_has_exactly_one_shuffle(spark):
    """The whole extract->link->assemble->canonicalize->dedup flagship plans
    as ONE shuffle (the set-semantics aggregate) plus broadcast exchanges
    for the dictionary probes and the canonical mapping — the 100 TB
    contract: cost is one pass over the text plus one keyed shuffle of the
    candidate triples (CC runs eagerly over the identity edges only)."""
    from rdfcmap_spark.plans.pipeline import run_pipeline

    df = run_pipeline(transcripts_df(spark, 4, 3), checkpoint=False).triples
    p = plan_of(df)
    import re

    shuffles = [
        l for l in p.splitlines()
        if re.search(r"\bExchange\b", l) and "BroadcastExchange" not in l
    ]
    # node list + tree rendering each mention the one exchange
    assert len({l.strip() for l in shuffles}) <= 2 and shuffles, p[:500]
    assert p.count("BroadcastExchange") >= 3  # subj/obj/phrase dictionary probes
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p


def test_bgp_executor_pushes_constants_to_scan(spark, tmp_path):
    """BGP pattern constants must reach the parquet scan as PushedFilters
    (a triple store at 100 TB lives in parquet; a pattern scan that reads
    every triple and filters post-scan is the wrong plan), and connected
    patterns must never plan a cartesian product."""
    from rdfcmap_spark import vocab
    from rdfcmap_spark.operators.sparql_exec import execute_sparql
    from rdfcmap_spark.schemas import TRIPLES

    EX = "http://example.org/"
    rows = [
        (EX + "a", EX + "knows", "iri", EX + "b", None, None, None, None),
        (EX + "b", EX + "age", "literal", None, "40", vocab.XSD + "integer", None, None),
    ]
    path = str(tmp_path / "triples.parquet")
    spark.createDataFrame(rows, TRIPLES).write.parquet(path)
    t = spark.read.parquet(path)
    out = execute_sparql(
        t,
        "PREFIX ex: <http://example.org/>\n"
        'SELECT ?x ?age WHERE {\n  ?x ex:knows ?y .\n  ?y ex:age ?age .\n}',
    )
    p = plan_of(out)
    assert "PushedFilters: [IsNotNull(pred), EqualTo(pred,http://example.org/knows)" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert [tuple(r) for r in out.collect()] == [
        (EX + "a", '"40"^^' + vocab.XSD + "integer")
    ]


def test_not_exists_plans_left_anti_join(spark, tmp_path):
    """FILTER NOT EXISTS must plan as ONE LeftAnti hash join on the shared
    variable — not a correlated per-row probe, not a cartesian."""
    from rdfcmap_spark import vocab
    from rdfcmap_spark.operators.sparql_exec import execute_sparql
    from rdfcmap_spark.schemas import TRIPLES

    EX = "http://example.org/"
    rows = [
        (EX + "o1", EX + "by", "iri", EX + "c1", None, None, None, None),
        (EX + "c1", EX + "balance", "literal", None, "9000", vocab.XSD + "decimal", None, None),
    ]
    path = str(tmp_path / "ne_triples.parquet")
    spark.createDataFrame(rows, TRIPLES).write.parquet(path)
    t = spark.read.parquet(path)
    out = execute_sparql(
        t,
        "PREFIX ex: <http://example.org/>\n"
        "SELECT ?ord WHERE {\n  ?ord ex:by ?cust .\n"
        "  FILTER NOT EXISTS { ?cust ex:balance ?b . FILTER(?b > 5000) }\n}",
    )
    p = plan_of(out)
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert out.count() == 0  # c1's balance disqualifies the only order


def test_span_dedup_two_shuffles_no_sort_aggregate(spark, tmp_path):
    """span_dedup's scale contract: exactly TWO hash exchanges (span-hash
    min-agg + per-doc reassembly; totals is a scan projection, NOT a third
    shuffle), hash-based aggregation throughout (the composite-bigint min —
    a min(struct) would plan a SortAggregate), and no cartesian."""
    from rdfcmap_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(30)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "span_docs.parquet")
    docs.write.parquet(path)
    out = span_dedup(spark.read.parquet(path))
    p = plan_of(out)
    import re as _re

    # formatted explain: "(N) Exchange" = shuffle; BroadcastExchange is a
    # distinct token and doesn't count
    shuffles = [
        ln for ln in p.splitlines() if _re.search(r"\)\s+Exchange\b", ln)
    ]
    assert len(shuffles) == 2, shuffles
    assert "SortAggregate" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_transcripts_family_single_shuffle(spark):
    """The conversation-assembly operators' scale contract: chat_render and
    conv_quality are ONE hash exchange with a map-side partial aggregate
    (ObjectHashAggregate for the bounded collect_list, never a
    SortAggregate); sft_pairs and truncate_to_budget are ONE window
    exchange; tool_transitions is the window exchange plus one
    low-cardinality hash aggregate. No joins anywhere."""
    import re as _re

    from rdfcmap_spark.operators import transcripts as T

    t = transcripts_df(spark, 16, 4)

    def shuffles(df):
        p = plan_of(df)
        return len([ln for ln in p.splitlines() if _re.search(r"\)\s+Exchange\b", ln)]), p

    for df in (T.chat_render(t), T.conv_quality(t)):
        n, p = shuffles(df)
        assert n == 1, p
        assert "ObjectHashAggregate" in p and "SortAggregate" not in p
        assert "Join" not in p

    for df in (T.sft_pairs(t), T.truncate_to_budget(t)):
        n, p = shuffles(df)
        assert n == 1, p
        assert "Window" in p and "Join" not in p

    n, p = shuffles(T.tool_transitions(t))
    assert n == 2, p
    assert "Window" in p and "HashAggregate" in p and "Join" not in p


def test_triple_support_hash_aggregate_broadcast_rewrite(spark):
    """Evidence counting must stay HashAggregate (no min(struct)/string-min
    SortAggregate anywhere) and probe the canonical mapping via broadcast."""
    from rdfcmap_spark.plans.pipeline import triple_support

    p = plan_of(triple_support(transcripts_df(spark, 6, 4), checkpoint=False))
    assert "SortAggregate" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_graph_family_no_cartesian_no_nested_loop(spark):
    """khop sampling, triangle counting, k-core, LPA: every join is an
    equi-join (hash/sort-merge) — no cartesian or broadcast nested loop."""
    from rdfcmap_spark.operators.graph import (
        kcore,
        khop_sample,
        label_propagation,
        triangle_count,
    )

    edges_ab = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "a string, b string"
    )
    edges_sd = edges_ab.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    seeds = spark.createDataFrame([("a",)], "node string")
    from rdfcmap_spark.operators.graph import adamic_adar, ktruss, random_walks

    for df in (
        khop_sample(edges_sd, seeds, (2, 1)),
        triangle_count(edges_ab),
        kcore(edges_ab, k=2, rounds=3),
        label_propagation(edges_sd, rounds=2),
        ktruss(edges_ab, k=3, rounds=2),
        adamic_adar(edges_ab),
        random_walks(edges_sd, walk_len=2, n_walks=1),
    ):
        p = plan_of(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_kg_negatives_index_join_and_anti(spark):
    """The filtered protocol is a LeftAnti on the triple key; the entity
    index attaches by equi-join (the hash-uniform neg_idx key)."""
    from rdfcmap_spark.operators.traindata import kg_negatives

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")], "subj string, pred string, obj string"
    )
    p = plan_of(kg_negatives(t, k=2))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_walks_and_linkpred_plan_shape(spark):
    """random_walks: the per-step md5-min aggregate stays HashAggregate
    (string min/max is hash-aggregatable in Spark 4 — the reason the pick
    key is a flat hex-prefixed string, not a struct). adamic_adar: the
    existing-edge exclusion is a LeftAnti, and no SortAggregate anywhere."""
    from rdfcmap_spark.operators.graph import adamic_adar, random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "src string, dst string"
    )
    p = plan_of(random_walks(edges, walk_len=1, n_walks=1))
    assert "SortAggregate" not in p and "HashAggregate" in p

    p2 = plan_of(adamic_adar(edges.selectExpr("src as a", "dst as b")))
    assert "LeftAnti" in p2
    assert "SortAggregate" not in p2


def test_chunk_documents_plan_no_exchange(spark):
    """Chunking is pure per-row array math: the plan must contain no
    shuffle exchange at all (split + sequence explode + slice)."""
    import re as _re

    from rdfcmap_spark.operators.traindata import chunk_documents

    p = plan_of(chunk_documents(load(spark, SF, "documents")))
    assert not [
        ln for ln in p.splitlines()
        if _re.search(r"\)\s+Exchange\b", ln)
    ], p


def test_unresolved_suggestions_plan_broadcast(spark):
    """The contains probe against the dictionary must be a broadcast
    nested-loop join (dictionary side broadcast), never a cartesian."""
    from rdfcmap_spark.operators.linking import (
        resolved_alias_df,
        unresolved_suggestions,
    )

    misses = load(spark, SF, "part").select(F.col("p_name").alias("norm"))
    p = plan_of(unresolved_suggestions(misses, resolved_alias_df(spark)))
    assert "BroadcastNestedLoopJoin" in p and "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_top_ngrams_plan_take_ordered(spark):
    """The global top-k must plan as TakeOrderedAndProject (distributed
    per-partition top-k), not a single-partition global sort."""
    from rdfcmap_spark.operators.textstats import top_ngrams

    p = plan_of(top_ngrams(load(spark, SF, "documents")), "simple")
    assert "TakeOrderedAndProject" in p


def test_driver_side_layout_paths_raise_above_bound(spark, monkeypatch):
    """r4 review item 6: the two human-sized driver paths are
    self-defending — above the documented row bound they raise instead of
    collecting/windowing the full entity set. Below the bound behavior is
    unchanged (covered by the existing cycle-break/viz-twins tests)."""
    import pytest as _pytest

    from rdfcmap_spark.operators import graph as graphmod
    from rdfcmap_spark.operators import reverse as revmod

    # lower the bounds so the guard trips on a tiny frame
    monkeypatch.setattr(graphmod, "DRIVER_LAYOUT_MAX_EDGES", 3)
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(6)], "src string, dst string"
    )
    with _pytest.raises(ValueError, match="bounded at 3 edges"):
        graphmod.cycle_break_edges(edges)
    # below the bound: still works
    monkeypatch.setattr(graphmod, "DRIVER_LAYOUT_MAX_EDGES", 500)
    assert graphmod.cycle_break_edges(edges) == []

    monkeypatch.setattr(revmod, "VIZ_MAX_CONCEPTS", 2)
    triples = spark.createDataFrame(
        [(f"urn:uuid:{i:032x}", "p", "iri", "urn:x", None, None) for i in range(5)],
        "subj string, pred string, obj_kind string, obj_iri string, "
        "obj_lexical string, obj_datatype string",
    )
    with _pytest.raises(ValueError, match="bounded at 2 concepts"):
        revmod.viz_twins(triples).collect()
    monkeypatch.setattr(revmod, "VIZ_MAX_CONCEPTS", 500)
    assert revmod.viz_twins(triples).count() > 0
