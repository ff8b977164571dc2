"""Staged, resumable pipeline execution (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

The snapshot-and-resume materialization policy for the layers defined once
in :mod:`rdfcmap_spark.plans.pipeline` (the in-memory policy lives there):
each layer runs as a named stage persisted as a parquet snapshot with an
Iceberg-style manifest (sources/sink.py). A stage runs only if its snapshot
is missing or its **plan fingerprint** changed — the fingerprint chains
(pipeline version, stage name, upstream fingerprints), so editing an
upstream stage invalidates exactly its downstream cone, and a re-run after
a crash skips every completed stage (T4 tests assert the skipped stage's
files are untouched).

Stage graph::

    transcripts ->[sentences] sent ->[raw triples] raw_triples
                              sent ->[identity rows -> edges] identity_edges
                    identity_edges ->[CC] mapping
    (raw_triples, mapping) ->[rewrite + set dedup] triples  (partitioned by pred bucket)

The mapping's row count comes from its manifest, so the rewrite's
broadcast gate needs no count job.

The reference's analog is the embedded ``<rdf-model>`` prior state inside
the CXL file (`CmapUtil.extractStoredModelFromCxl:367-401`) — its "resume"
is re-parsing the previous output; ours is snapshot manifests.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdfcmap_spark.operators import assembly, canonicalize
from rdfcmap_spark.plans import pipeline as P
from rdfcmap_spark.sources import sink

# bump to invalidate every snapshot (v3: spent columns dropped from sent;
# v4: the partitioned triples snapshot's id hashes pred_bucket as the
# written bigint, not the int Spark infers when reading the directory back)
PIPELINE_VERSION = "4"


def _fp(*parts: str) -> str:
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


class StagedRun:
    """Orchestrates one resumable pipeline run under ``workdir``."""

    def __init__(self, spark: SparkSession, workdir: str, input_fingerprint: str):
        self.spark = spark
        self.workdir = workdir
        self.input_fp = input_fingerprint
        self.ran: list[str] = []      # stages actually executed this run
        self.skipped: list[str] = []  # stages resumed from snapshot
        self.metrics: dict[str, dict] = {}

    def _path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _stage(self, stage: str, fingerprint: str, build, partition_by=None) -> tuple[DataFrame, str]:
        """Run or resume one stage; returns (df, chained fingerprint)."""
        chained = _fp(PIPELINE_VERSION, stage, fingerprint)
        path = self._path(stage)
        if sink.snapshot_exists(path):
            df, manifest = sink.read_snapshot(self.spark, path)
            if manifest.get("plan_fingerprint") == chained:
                self.skipped.append(stage)
                self.metrics[stage] = {"rows": manifest["row_count"], "resumed": True}
                return df, chained
        df = build()
        manifest = sink.write_snapshot(
            df, path, partition_by=partition_by, extra_meta={"plan_fingerprint": chained, "stage": stage}
        )
        self.ran.append(stage)
        self.metrics[stage] = {
            "rows": manifest["row_count"],
            "resumed": False,
            "partition_counts": manifest["partition_counts"],
        }
        return sink.read_snapshot(self.spark, path)[0], chained

    def run(self, transcripts: DataFrame) -> DataFrame:
        sent, fp_sent = self._stage(
            "sent", _fp(self.input_fp), lambda: P.linked_sentences(transcripts)
        )
        raw, fp_raw = self._stage(
            "raw_triples", fp_sent, lambda: assembly.sentence_triples(sent)
        )
        edges, fp_edges = self._stage(
            "identity_edges", fp_sent, lambda: P.identity_edges(P.identity_rows(sent))
        )
        mapping, fp_map = self._stage(
            "mapping", fp_edges, lambda: canonicalize.connected_components(edges)
        )
        n_mapping = self.metrics["mapping"]["rows"]
        final, _ = self._stage(
            "triples",
            _fp(fp_raw, fp_map),
            lambda: canonicalize.rewrite_triples(raw, mapping, n_mapping=n_mapping).withColumn(
                "pred_bucket", F.pmod(F.xxhash64("pred"), F.lit(16))
            ),
            partition_by=["pred_bucket"],
        )
        with open(os.path.join(self.workdir, "run_metrics.json"), "w") as f:
            json.dump({"ran": self.ran, "skipped": self.skipped, "stages": self.metrics}, f, indent=1)
        return final.drop("pred_bucket")


def run_staged(
    spark: SparkSession, transcripts: DataFrame, workdir: str, input_fingerprint: str
) -> tuple[DataFrame, StagedRun]:
    run = StagedRun(spark, workdir, input_fingerprint)
    df = run.run(transcripts)
    return df, run
