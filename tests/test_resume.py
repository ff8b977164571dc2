"""T4 (SURVEY.md §5): resume from checkpoint without recompute, with
per-partition lineage + metrics recorded in snapshot manifests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from rdfcmap_spark.plans.pipeline import run_pipeline
from rdfcmap_spark.plans.staged import run_staged
from rdfcmap_spark.sources import sink
from rdfcmap_spark.synth import transcripts_df

KEY = ["subj", "pred", "obj_kind", "obj_iri", "obj_lexical", "obj_datatype"]


def _triple_set(df):
    return {tuple(r) for r in df.select(*KEY).collect()}


@pytest.fixture(scope="module")
def transcripts(spark):
    return transcripts_df(spark, n_convs=12, turns_per_conv=6).localCheckpoint()


def test_staged_matches_inline(spark, transcripts, tmp_path):
    inline = run_pipeline(transcripts).triples
    staged, run = run_staged(spark, transcripts, str(tmp_path / "w"), "fp-a")
    assert _triple_set(staged) == _triple_set(inline)
    assert run.skipped == [] and set(run.ran) == {
        "sent", "raw_triples", "identity_edges", "mapping", "triples"
    }
    # per-partition lineage recorded for the partitioned final stage
    assert run.metrics["triples"]["partition_counts"]
    m = json.load(open(tmp_path / "w" / "run_metrics.json"))
    assert m["stages"]["triples"]["rows"] == len(_triple_set(staged))


def test_resume_skips_completed_stages(spark, transcripts, tmp_path):
    wd = str(tmp_path / "w")
    first, run1 = run_staged(spark, transcripts, wd, "fp-a")
    expected = _triple_set(first)

    # snapshot files must be untouched by the resumed run
    mtimes = {}
    for stage in ("sent", "raw_triples", "mapping"):
        d = os.path.join(wd, stage)
        mtimes[stage] = {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    second, run2 = run_staged(spark, transcripts, wd, "fp-a")
    assert run2.ran == [] and set(run2.skipped) == set(run1.ran)
    assert _triple_set(second) == expected
    for stage, files in mtimes.items():
        d = os.path.join(wd, stage)
        assert {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)} == files


def test_resume_after_partial_failure(spark, transcripts, tmp_path):
    """Kill after stage k (simulated by deleting downstream snapshots):
    resume recomputes only the missing cone."""
    wd = str(tmp_path / "w")
    first, _ = run_staged(spark, transcripts, wd, "fp-a")
    expected = _triple_set(first)
    import shutil

    shutil.rmtree(os.path.join(wd, "mapping"))
    shutil.rmtree(os.path.join(wd, "triples"))
    second, run2 = run_staged(spark, transcripts, wd, "fp-a")
    assert set(run2.ran) == {"mapping", "triples"}
    assert set(run2.skipped) == {"sent", "raw_triples", "identity_edges"}
    assert _triple_set(second) == expected


def test_changed_input_invalidates_everything(spark, transcripts, tmp_path):
    wd = str(tmp_path / "w")
    run_staged(spark, transcripts, wd, "fp-a")
    _, run2 = run_staged(spark, transcripts, wd, "fp-CHANGED")
    assert run2.skipped == []  # new input fingerprint -> full recompute


def test_snapshot_fingerprint_is_parallelism_invariant(spark, transcripts, tmp_path):
    df = transcripts.repartition(1)
    df16 = transcripts.repartition(16)
    a = sink.write_snapshot(run_pipeline(df).triples, str(tmp_path / "a"), key_cols=KEY)
    b = sink.write_snapshot(run_pipeline(df16).triples, str(tmp_path / "b"), key_cols=KEY)
    assert a["snapshot_id"] == b["snapshot_id"]
    assert a["row_count"] == b["row_count"]


def test_other_pipeline_version_recomputes_every_stage(spark, transcripts, tmp_path, monkeypatch):
    """Snapshots written under another PIPELINE_VERSION (e.g. the older
    `sent` schema) are never resumed: every stage recomputes."""
    from rdfcmap_spark.plans import staged

    wd = str(tmp_path / "w")
    with monkeypatch.context() as m:
        m.setattr(staged, "PIPELINE_VERSION", "older")
        _, run1 = run_staged(spark, transcripts, wd, "fp-a")
    assert run1.skipped == []
    out, run2 = run_staged(spark, transcripts, wd, "fp-a")
    assert run2.skipped == []
    assert run2.ran == ["sent", "raw_triples", "identity_edges", "mapping", "triples"]
    assert _triple_set(out) == _triple_set(run_pipeline(transcripts).triples)
