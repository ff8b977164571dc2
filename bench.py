"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "kg_triples_per_sec", "value": N, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": 0.1, ...}

The headline metric is KG-construction throughput (triples/sec) of the
flagship transcripts->triples pipeline (BASELINE.md), measured on a
deterministic synthetic transcript table sized by sf. Each secondary query
is forced end-to-end with a noop sink (full computation, no driver
collect). Also reported: turns/sec for the pipeline and total wall time.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from rdfcmap_spark.session import build_session  # noqa: E402
from rdfcmap_spark.synth import transcripts_df  # noqa: E402

#: secondary headline queries (from __spark_entry__.queries())
SECONDARY = [
    "kg_j1_triple_assembly",
    "kg_g1_connected_components",
    "kg_x12_literal_typing",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_lsh_verified",
    "dedup_dup_groups",
    "dedup_simhash",
    "dedup_span",
    "dedup_embedding_lsh",
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    "sim_topk_pq",
    "sim_topk_pq_refined",
    "sim_topk_ivfpq",
    "sim_kmeans",
    "data_mixture_weights",
    "text_quality",
    "text_langid",
    "text_repetition",
    "text_decontaminate",
    "multimodal_features",
    "chat_render",
    "chat_sft_pairs",
    "chat_dup_groups",
    "tpch_q1",
    "events_sessionize",
    "events_hourly_rollup",
    "events_funnel",
    "events_cohort_retention",
    "kg_title_ladder",
    "kg_ontology",
    "kg_sparql_exec_full",
    "kg_sparql_path",
    "kg_sparql_agg",
    "text_lm_score",
    "kg_pagerank",
    "kg_triple_support",
    "kg_rdfs_entail",
    "kg_khop_sample",
    "data_kg_negatives",
    "chat_entity_timeline",
    "chat_pronoun_coref",
    "chat_latency",
    "chat_dialog_acts",
    "kg_triangle_count",
    "kg_kcore",
    "kg_label_prop",
    "kg_ktruss",
    "kg_link_predict",
    "kg_random_walks",
    "text_lm_bigram",
    # round-4 additions (cheap representatives; sim_ann_recall excluded —
    # it embeds the full brute-force ground truth, bigscale-timed instead)
    "kg_shacl_graph",
    "kg_viz_twins",
    "kg_unresolved_suggestions",
    "kg_triple_timeline",
    "kg_conflicts",
    "data_chunking",
    "text_top_ngrams",
    # round-5 additions: the sampled recurring recall gate (16x-sparser
    # query sample — bench-safe, unlike the full-density eval) — note
    # multimodal_features above is now the REAL PNG/BMP decode path
    "sim_ann_recall_sampled",
    "kg_turn_sft_pairs",
    "kg_growth_curve",
    "multimodal_audio_features",
]


def sf_of(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def bench_pipeline(spark, sf: float) -> dict:
    """Flagship: transcripts -> triples, timed via count() (the plan ends in
    a blocking aggregate, so count forces every stage)."""
    from rdfcmap_spark.plans.pipeline import run_pipeline

    # sized so fixed job latency (~10s) amortizes against real compute at
    # sf0.1 (128k turns ~ 20s pipeline) without blowing up bench wall time
    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", str(max(50, int(160000 * sf)))))
    turns_per_conv = 8
    # input materialized up front (stands in for the Iceberg scan; the
    # Python grammar generator is not part of the measured engine) and a
    # small warm-up run so codegen/JIT compile isn't billed to throughput.
    # SPARK_GRAFT_TRANSCRIPTS_PARQUET: pre-generated input (scaling bench
    # generates once at full parallelism so a low-core level doesn't pay
    # generation cost in wall time).
    pre = os.environ.get("SPARK_GRAFT_TRANSCRIPTS_PARQUET")
    # Input partitions at 2x cores, not 1x: the extraction stage's per-task
    # cost is skewed by sentence mix, and at local[32] 32 fat tasks leave
    # idle threads for the whole straggler tail. A partition sweep at 32
    # cores on 512k turns (G1, contraction CC) measured 1x (32p) ~34 s,
    # 2x (64p) ~23 s, 4x (128p) ~30 s — finer than ~2x loses to per-task
    # scheduling and block-manager overhead. On a real cluster this is the
    # standard tasks-per-core rule; the repartition runs once, outside the
    # timed window, standing in for a well-bucketed Iceberg scan.
    parts = int(os.environ.get("SPARK_GRAFT_INPUT_PARTS", "0")) or (
        2 * spark.sparkContext.defaultParallelism
    )
    if pre:
        transcripts = spark.read.parquet(pre).repartition(parts).localCheckpoint()
        n_convs = transcripts.select("conv_id").distinct().count()
    else:
        transcripts = transcripts_df(
            spark, n_convs=n_convs, turns_per_conv=turns_per_conv, partitions=parts
        ).localCheckpoint()
    key_cols = ["subj", "pred", "obj_kind", "obj_iri", "obj_lexical", "obj_datatype"]
    all_cols = key_cols + ["conv_id", "turn_idx"]

    def consume(df):
        # One aggregate pass that forces FULL materialization of every output
        # column (xxhash64 over all 8 — count() alone would let Catalyst
        # prune the row assembly and the min-provenance aggregate) without
        # storing the multi-GB result into single-box RDD storage memory.
        # (The previous localCheckpoint()-then-count consume put ~4.6 GB of
        # triples on-heap; its ParallelGC full pauses were the top
        # GC-seconds stage at local[32] — stage-probe measured. A real
        # deployment's consumer is a distributed parquet/Iceberg write,
        # benchmarked separately by the sink tests; row-hash consumption is
        # the faithful single-box proxy.)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*key_cols).cast("decimal(38,0)")).alias("key_hash"),
            F.sum(F.xxhash64(*all_cols).cast("decimal(38,0)")).alias("full_hash"),
        ).collect()[0]
        return row["n"], row["key_hash"], row["full_hash"]

    # warm-up at 1/8 scale: big enough to reach steady-state JIT/codegen
    # on every pipeline stage (a 32-conv warm-up left the first full run
    # ~25% slow), ~1.5 s of wall
    warm = transcripts_df(spark, n_convs=max(50, n_convs // 8), turns_per_conv=4).localCheckpoint()
    consume(run_pipeline(warm).triples)
    # THREE timed runs, headline = best. The tiny warm-up above does not
    # cover full-size JIT/codegen/shuffle-infra warm-up: measured same-
    # window sequences go 13.3 -> 10.7 s at sf0.1 as the JVM reaches
    # steady state, and host tenancy adds ±15% between identical runs
    # (BENCH.md). Best-of-3 reports warm steady-state throughput — the
    # quantity comparable across driver rounds; all raw runs stay in the
    # artifact so the scatter is visible.
    runs: list[float] = []
    for _ in range(3):
        t0 = time.perf_counter()
        # order-insensitive content hashes: identical at ANY parallelism iff
        # the triple set (and its deterministic min-provenance) is — the
        # two-cluster-size determinism invariant, BASELINE.md / T3
        n_triples, hashsum, full_hashsum = consume(run_pipeline(transcripts).triples)
        runs.append(round(time.perf_counter() - t0, 3))
    dt = min(runs)
    n_turns = n_convs * turns_per_conv
    return {
        "seconds": dt,
        "runs": runs,
        "turns": n_turns,
        "triples": n_triples,
        "triples_hashsum": str(hashsum),
        "triples_full_hashsum": str(full_hashsum),
        "triples_per_sec": round(n_triples / dt, 1),
        "turns_per_sec": round(n_turns / dt, 1),
    }


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: tpch_q1 wall seconds in the r02 driver artifact (BENCH_r02.json, the
#: round the flagship throughput record was set in) — the denominator of
#: the in-artifact drift control below.
DRIFT_REFERENCE_TPCH_Q1 = 1.492


def drift_probe(spark, sf_dir, queries) -> float:
    """One forced tpch_q1 run — a fixed-plan reference query interleaved
    through the bench (before the pipeline, after it, after the
    secondaries). Host tenancy inflates all queries roughly uniformly
    (BENCH.md documents 3x wall variance between simultaneous identical
    processes), so median(probe)/DRIFT_REFERENCE_TPCH_Q1 estimates the
    window's tenancy factor relative to the r02 record window.  The factor
    is DIAGNOSTIC ONLY (r4 ADVICE): the headline `value` is always the raw
    best-of-N, and `pipeline_drift_diagnostic` carries the two-sided
    factor so a reader can judge the window — it is never clamped and
    never replaces the headline."""
    t0 = time.perf_counter()
    force(queries["tpch_q1"](spark, sf_dir))
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_of(sf_dir)
    spark = build_session(cpus=cpus, app_name="rdfcmap_spark_bench")

    queries = entrymod.queries()
    # one probe sample before the pipeline + two after guarantee >=3
    # samples on every code path (the PIPELINE_ONLY path previously had 2,
    # whose "median" was the max — r4 ADVICE)
    drift_samples = [drift_probe(spark, sf_dir, queries)]
    t_all = time.perf_counter()
    pipe = bench_pipeline(spark, sf)
    drift_samples.append(drift_probe(spark, sf_dir, queries))
    drift_samples.append(drift_probe(spark, sf_dir, queries))

    def drift_fields() -> dict:
        # true median: average the middle two on even sample counts
        s = sorted(drift_samples)
        n = len(s)
        med = round(s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2, 3)
        # TWO-SIDED and diagnostic-only (r4 ADVICE): factor < 1 means this
        # window ran faster than the r02 record window, factor > 1 slower.
        # The headline `value` stays the raw best-of-N; this block only
        # tells the reader how to discount/credit it for tenancy. tpch_q1
        # is a fixed-plan scan+agg — it tracks background load, not JIT
        # state, while best-of-3 above handles warm-up.
        factor = round(med / DRIFT_REFERENCE_TPCH_Q1, 3)
        return {
            "drift_control": {
                "query": "tpch_q1",
                "samples": drift_samples,
                "median": med,
                "reference_seconds": DRIFT_REFERENCE_TPCH_Q1,
                "factor_vs_r02": factor,
                "note": "diagnostic only; headline value is raw best-of-N",
            },
            "pipeline_drift_diagnostic": {
                "seconds_if_r02_window": round(pipe["seconds"] / factor, 3),
                "triples_per_sec_if_r02_window": round(pipe["triples_per_sec"] * factor, 1),
            },
        }

    if os.environ.get("SPARK_GRAFT_PIPELINE_ONLY"):
        print(
            json.dumps(
                {
                    "metric": "kg_triples_per_sec",
                    "value": pipe["triples_per_sec"],
                    "unit": "sec",
                    "queries": {"kg_pipeline_full": pipe["seconds"]},
                    "sf": sf,
                    "cpus": cpus,
                    "pipeline": pipe,
                    **drift_fields(),
                }
            )
        )
        spark.stop()
        return

    per_query: dict[str, float] = {"kg_pipeline_full": pipe["seconds"]}
    for name in SECONDARY:
        t0 = time.perf_counter()
        force(queries[name](spark, sf_dir))
        per_query[name] = round(time.perf_counter() - t0, 3)
    drift_samples.append(drift_probe(spark, sf_dir, queries))
    total = round(time.perf_counter() - t_all, 3)

    print(
        json.dumps(
            {
                "metric": "kg_triples_per_sec",
                "value": pipe["triples_per_sec"],
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
                "cpus": cpus,
                "pipeline": pipe,
                "total_seconds": total,
                **drift_fields(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
