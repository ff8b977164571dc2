"""Snapshot manifests from the observed write: each manifest equals a full
scan of what was written, the write is the only Spark job, and a footer
disagreement fails before any manifest exists."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from rdfcmap_spark.sources import sink, table_log


def _frame(spark, n=200):
    """bigint id, a bigint bucket, and strings that need escaping as
    partition directory names (``/``, ``=``, ``%``, a space) plus nulls."""
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 5).alias("bucket"),
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("a/b=c%d e"), (F.col("id") % 3).cast("string")))
        .alias("tag"),
        F.concat(F.lit("row "), F.col("id").cast("string")).alias("text"),
    )


def _scan(df, partition_by, key_cols=None) -> dict:
    """The manifest values by definition: a full scan of the written rows."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*(key_cols or df.columns)).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    counts = {}
    if partition_by:
        for r in df.groupBy(*partition_by).count().collect():
            counts["|".join(str(r[c]) for c in partition_by)] = r["count"]
    return {
        "snapshot_id": str(row["h"] if row["h"] is not None else 0),
        "row_count": row["n"],
        "partition_counts": dict(sorted(counts.items())),
    }


def _manifest_values(m: dict) -> dict:
    return {k: m[k] for k in ("snapshot_id", "row_count", "partition_counts")}


@pytest.mark.parametrize(
    "n, partition_by, key_cols",
    [
        (200, [], None),
        (200, ["bucket"], None),
        (200, ["tag"], None),
        (200, ["bucket", "tag"], None),
        (0, [], None),
        (0, ["bucket"], None),
        (200, ["bucket"], ["text", "id"]),
    ],
    ids=["unpartitioned", "bigint", "escaped-string", "two-level", "empty", "empty-partitioned", "key-cols"],
)
def test_manifest_equals_full_scan(spark, tmp_path, n, partition_by, key_cols):
    path = str(tmp_path / "snap")
    m = sink.write_snapshot(_frame(spark, n), path, partition_by=partition_by, key_cols=key_cols)
    back, manifest = sink.read_snapshot(spark, path)
    assert manifest == m
    assert back.schema.simpleString() == m["schema"]  # written order and types
    assert _manifest_values(m) == _scan(back, partition_by, key_cols)
    if n and "tag" in partition_by:
        assert any(k.endswith("None") for k in m["partition_counts"])
        assert any("a/b=c%d e" in k for k in m["partition_counts"])


def test_table_log_manifest_equals_full_scan(spark, tmp_path):
    """8 mixed appends/overwrites, one of them a replay: every snapshot's
    running values equal a scan of the table it names."""
    t = str(tmp_path / "tbl")
    frame = _frame(spark, 400)
    batches = [
        ("append", frame.filter("id < 50")),
        ("append", frame.filter("id >= 50 AND id < 120")),
        ("append", frame.filter("id >= 50 AND id < 120")),  # replayed: absorbed
        ("overwrite", frame.filter("id >= 120 AND id < 200")),
        ("append", frame.filter("id >= 200 AND id < 260")),
        ("append", frame.filter("id < 0")),  # empty
        ("append", frame.filter("id >= 260 AND id < 330")),
        ("append", frame.filter("id >= 330")),
    ]
    versions = []
    for mode, batch in batches:
        snap = table_log.commit(batch, t, mode=mode, partition_by=["tag"])
        versions.append(snap["version"])
        df, current = table_log.read_table(spark, t)
        assert current == snap
        assert _manifest_values(snap) == _scan(df, ["tag"])
    assert versions == [1, 2, 2, 3, 4, 5, 6, 7]
    assert table_log.snapshot(t)["row_count"] == 400 - 120


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` submitted)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_write_is_one_job_and_read_is_none(spark, tmp_path):
    path = str(tmp_path / "snap")
    _, n_write = _jobs(
        spark, lambda: sink.write_snapshot(_frame(spark), path, partition_by=["bucket", "tag"])
    )
    assert n_write == 1
    _, n_read = _jobs(spark, lambda: sink.read_snapshot(spark, path))
    assert n_read == 0


def test_table_log_append_cost_is_flat_in_table_size(spark, tmp_path):
    t = str(tmp_path / "tbl")
    frame = _frame(spark, 400)
    jobs = []
    for i in range(8):
        batch = frame.filter((F.col("id") >= 50 * i) & (F.col("id") < 50 * (i + 1)))
        _, n = _jobs(spark, lambda b=batch: table_log.commit(b, t, partition_by=["bucket"]))
        jobs.append(n)
    assert jobs[-1] == jobs[0] == 1
    assert table_log.snapshot(t)["row_count"] == 400


def _footers_missing_one_file(real):
    """``footer_counts`` that does not see one of the written data files."""

    def footer_counts(path, partition_by):
        root, name = next(
            (r, f) for r, _dirs, files in os.walk(path) for f in files if f.startswith("part-")
        )
        hidden = os.path.join(root, "." + name)
        os.rename(os.path.join(root, name), hidden)
        try:
            return real(path, partition_by)
        finally:
            os.rename(hidden, os.path.join(root, name))

    return footer_counts


def test_footer_mismatch_writes_no_manifest(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sink, "footer_counts", _footers_missing_one_file(sink.footer_counts))
    path = str(tmp_path / "snap")
    with pytest.raises(sink.SnapshotMismatch):
        sink.write_snapshot(_frame(spark), path, partition_by=["bucket"])
    assert not sink.snapshot_exists(path)


def test_table_log_footer_mismatch_commits_nothing(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "tbl")
    table_log.commit(_frame(spark).filter("id < 100"), t, partition_by=["bucket"])
    monkeypatch.setattr(sink, "footer_counts", _footers_missing_one_file(sink.footer_counts))
    with pytest.raises(sink.SnapshotMismatch):
        table_log.commit(_frame(spark).filter("id >= 100"), t, partition_by=["bucket"])
    assert table_log.current_version(t) == 1
    assert sorted(os.listdir(os.path.join(t, "metadata"))) == ["_current", "v1.json"]
