"""Versioned table log: Iceberg-style snapshot metadata over parquet (S8+).

The north rule materializes triples into *partitioned Iceberg output
tables*. This sandbox ships no Iceberg runtime, so this module implements
the part of Iceberg's design the pipeline actually depends on — **immutable
data files + a metadata log of snapshots + an atomically-swapped current
pointer** — over plain parquet, layout-compatible with
:mod:`rdfcmap_spark.sources.sink`'s manifests:

* every commit writes its rows into a fresh ``data/<uuid>/`` directory
  (data files are never rewritten — append is O(new data));
* a snapshot json (``v<N>.json``) records the member data dirs, the
  order-insensitive content fingerprint, row count, per-partition counts
  (the per-partition lineage/metrics the north rule demands) and schema.
  The batch's values come from the sink's observed write
  (:func:`rdfcmap_spark.sources.sink.observed_write`: a ``DataFrame.observe``
  on the write plus a footer cross-check, no read-back pass), and all three
  are additive, so an append commits ``previous + batch`` — a commit's
  cost tracks the batch, never the table;
* ``_current`` names the live version and is swapped with ``os.replace``
  (atomic on POSIX) — readers never observe a half-written table;
* ``read_table(..., version=N)`` time-travels by reading exactly the data
  dirs snapshot N lists.

On a real cluster every call here maps 1:1 onto the Iceberg API
(``df.writeTo(t).append()`` / ``.overwritePartitions()``, snapshot ids,
``VERSION AS OF``); the pipeline code above the sink is unchanged.

Commits are idempotent by content: an ``append`` whose batch fingerprint
already appears in the current snapshot's ``appended_fingerprints`` is
skipped (returns the existing snapshot) — the resume property that lets a
restarted job re-run its final stage without duplicating rows.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from rdfcmap_spark.sources import sink

CURRENT = "_current"

#: optimistic-commit retry bound: a writer that loses this many version
#: races (or waits out a crashed rival that created a snapshot file but
#: never swapped the pointer) raises instead of spinning forever.
_COMMIT_RETRIES = 16


def _read_dirs(spark: SparkSession, dirs: list[str], schema: StructType | None) -> DataFrame:
    """Union the member data dirs. Each dir is its own partitioned parquet
    root (Spark refuses one multi-root partition discovery —
    CONFLICTING_DIRECTORY_STRUCTURES), so read per-dir and unionByName:
    per-dir partition columns are recovered normally and the union stays a
    metadata-only plan node over parallel scans. ``schema`` is the table's
    recorded schema: an empty commit writes no data file, so a dir may have
    nothing to infer a schema from (``None``: infer, for snapshots that
    predate the recorded schema)."""
    from functools import reduce

    reader = spark.read if schema is None else spark.read.schema(schema)
    frames = [reader.parquet(d) for d in dirs]
    return reduce(lambda a, b: a.unionByName(b), frames)


def _meta_dir(table: str) -> str:
    return os.path.join(table, "metadata")


def _snap_path(table: str, version: int) -> str:
    return os.path.join(_meta_dir(table), f"v{version}.json")


def current_version(table: str) -> int | None:
    p = os.path.join(_meta_dir(table), CURRENT)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def snapshot(table: str, version: int | None = None) -> dict:
    v = current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no current snapshot in {table}")
    with open(_snap_path(table, v)) as f:
        return json.load(f)


def history(table: str) -> list[dict]:
    """All snapshots, oldest first."""
    v = current_version(table)
    return [] if v is None else [snapshot(table, i) for i in range(1, v + 1)]


def commit(
    df: DataFrame,
    table: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    key_cols: list[str] | None = None,
) -> dict:
    """Write ``df`` as a new snapshot of ``table`` and swap the current
    pointer. ``mode='append'`` keeps the previous snapshot's data dirs and
    adds one; ``'overwrite'`` starts a fresh file set (old dirs stay on
    disk for time travel — Iceberg's expire-snapshots is out of scope).
    Returns the committed (or, for an idempotent replay, existing)
    snapshot dict.

    Concurrency (r4 ADVICE): the snapshot file is created with
    ``open(..., 'x')`` (O_EXCL), so two writers racing to the same version
    cannot both succeed — the loser re-reads the winner's snapshot as the
    new base, re-checks idempotency, and retries with the next version
    (Iceberg's optimistic-commit protocol). A loser whose rival created
    ``v<N>.json`` but has not yet swapped ``_current`` waits for the swap
    (bounded), then rebases; ``commit`` raises after ``_COMMIT_RETRIES``
    lost races rather than ever overwriting another writer's snapshot."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    partition_by = partition_by or []
    os.makedirs(_meta_dir(table), exist_ok=True)

    # write the batch into an immutable data dir; the fingerprint, row
    # count and partition counts are observed on the write and checked
    # against the written footers (a mismatch raises sink.SnapshotMismatch
    # before any snapshot exists). The data dir is race-free (uuid name);
    # only the metadata commit below can conflict.
    data_dir = os.path.join(table, "data", uuid.uuid4().hex)
    batch = sink.observed_write(df, data_dir, partition_by, key_cols)
    batch_fp = batch["snapshot_id"]

    for _attempt in range(_COMMIT_RETRIES):
        prev_v = current_version(table)
        prev = snapshot(table, prev_v) if prev_v else None

        if mode == "append" and prev and batch_fp in prev.get("appended_fingerprints", []):
            # idempotent replay: this exact batch is already in the table
            import shutil

            shutil.rmtree(data_dir, ignore_errors=True)
            return prev

        snap = {
            **batch,
            "version": (prev_v or 0) + 1,
            "mode": mode,
            "data_dirs": [data_dir],
            "appended_fingerprints": [batch_fp],
            "batch_fingerprint": batch_fp,
            "committed_at": time.time(),
        }
        if mode == "append" and prev:
            # the fingerprint is a sum over rows, so every table-wide value
            # is the previous snapshot's plus the batch's
            counts = Counter(prev["partition_counts"])
            counts.update(batch["partition_counts"])
            snap.update(
                data_dirs=prev["data_dirs"] + [data_dir],
                appended_fingerprints=prev.get("appended_fingerprints", []) + [batch_fp],
                snapshot_id=str(int(prev["snapshot_id"]) + int(batch_fp)),
                row_count=prev["row_count"] + batch["row_count"],
                partition_counts=dict(sorted(counts.items())),
            )
        try:
            # O_EXCL: exactly one writer owns this version number
            with open(_snap_path(table, snap["version"]), "x") as f:
                json.dump(snap, f, indent=1, sort_keys=True)
        except FileExistsError:
            # lost the race: a rival owns v(N+1). Its snapshot file is
            # fully written before its pointer swap, so wait (bounded) for
            # _current to advance past our base, then rebase on it.
            for _ in range(200):  # <= 2 s
                if (current_version(table) or 0) > (prev_v or 0):
                    break
                time.sleep(0.01)
            continue
        tmp = os.path.join(_meta_dir(table), CURRENT + f".tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(snap["version"]))
        os.replace(tmp, os.path.join(_meta_dir(table), CURRENT))  # atomic swap
        return snap
    raise RuntimeError(
        f"commit to {table} lost {_COMMIT_RETRIES} optimistic-concurrency races; giving up"
    )


def read_table(
    spark: SparkSession, table: str, version: int | None = None
) -> tuple[DataFrame, dict]:
    """Current (or time-travelled) table contents + its snapshot."""
    snap = snapshot(table, version)
    return _read_dirs(spark, snap["data_dirs"], sink.recorded_schema(snap)), snap
