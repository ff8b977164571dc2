"""Isolate the linked-sentences stage's 8-vs-32-thread behavior.

Two timed variants on the same pre-generated transcripts parquet:
  agg   — extraction consumed by a row-hash aggregate (no storage at all)
  ckpt  — extraction materialized via localCheckpoint (the pipeline's
          stage boundary), then the same aggregate over the stored blocks

Separating the two tells whether the non-scaling CPU lives in the
regex/codegen extraction itself (hardware contention: nothing to tune) or
in the RDD block-store write path (tunable: compression, storage level).

Usage: python tools/extract_probe.py <cpus> <parquet> [variant]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    cpus = int(sys.argv[1])
    parquet = sys.argv[2]
    variant = sys.argv[3] if len(sys.argv) > 3 else "both"

    from pyspark.sql import functions as F

    from rdfcmap_spark.plans.pipeline import linked_sentences
    from rdfcmap_spark.session import build_session
    from rdfcmap_spark.synth import transcripts_df

    spark = build_session(cpus=cpus, app_name=f"extract_probe_{cpus}")
    transcripts = spark.read.parquet(parquet).localCheckpoint()
    warm = transcripts_df(spark, n_convs=32, turns_per_conv=4).localCheckpoint()

    def consume(df):
        cols = [c for c in df.columns]
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]["n"]

    def sent_of(tr):
        return linked_sentences(tr)

    consume(sent_of(warm))
    out = {"cpus": cpus}
    if variant in ("agg", "both"):
        t0 = time.perf_counter()
        n = consume(sent_of(transcripts))
        out["agg_s"] = round(time.perf_counter() - t0, 2)
        out["rows"] = n
    if variant in ("ckpt", "both"):
        t0 = time.perf_counter()
        sent = sent_of(transcripts).localCheckpoint()
        out["ckpt_s"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        consume(sent)
        out["rescan_s"] = round(time.perf_counter() - t0, 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
