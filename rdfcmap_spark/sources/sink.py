"""Partitioned table sink with snapshot manifests (S7/S8 re-architected).

The reference writes one monolithic TTL stream (`prepareOutput:1869-1909`)
or one file per instance (`writeSeparateTurtleFiles:2585-2770`). At 10^12
turns the output is a partitioned table; this module writes parquet with an
Iceberg-style JSON manifest per snapshot:

* ``snapshot_id`` — deterministic content fingerprint (order-insensitive
  sum of per-row xxhash64 over the columns as read back), so identical
  logical output at any parallelism produces the same id;
* ``row_count`` and per-partition row counts (the per-partition
  lineage/metrics demanded by the north rule — on Iceberg these live in
  the snapshot's manifest files; we keep the layout swap-compatible);
* ``schema_json`` — the written schema, so a read needs no inference job.

The manifest costs no pass over the data after the write
(:func:`observed_write`): the fingerprint and row count are a
``DataFrame.observe`` on the frame handed to the writer, computed in the
write's own result stage, and the per-partition counts come from the
written parquet footers, read on the driver. The footers' total must equal
the observed count, or no manifest is written (:class:`SnapshotMismatch`) —
so the manifest still describes what was actually written. Iceberg takes
its manifests' row counts from writer stats the same way.

On a cluster with an Iceberg catalog the write becomes
``df.writeTo(table).partitionedBy(...)`` and the manifest comes for free;
everything above the sink is unchanged.
"""

from __future__ import annotations

import json
import os
import time
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_manifest.json"

#: the directory value Spark writes for a null (or empty-string) partition
#: value; read back it is null, which the counts key as ``str(None)``
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class SnapshotMismatch(RuntimeError):
    """The written parquet footers disagree with the rows the write observed."""


def footer_counts(path: str, partition_by: list[str]) -> dict[str, int]:
    """Rows per partition key (``'|'``-joined values, ``''`` unpartitioned)
    summed from the parquet footers under ``path`` — driver-side, no job."""
    counts: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        parts = [] if root == path else os.path.relpath(root, path).split(os.sep)
        values = [unquote(p.partition("=")[2]) for p in parts]
        key = "|".join("None" if v == _NULL_PARTITION else v for v in values)
        for f in files:
            if f.startswith(("_", ".")):
                continue
            counts[key] = counts.get(key, 0) + pq.read_metadata(os.path.join(root, f)).num_rows
    return counts


def observed_write(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    key_cols: list[str] | None = None,
) -> dict:
    """Write ``df`` as parquet under ``path`` (overwriting it) and return
    its manifest core: ``snapshot_id``, ``row_count``, ``partition_by``,
    ``partition_counts``, ``schema`` and ``schema_json``.

    The columns are written in read-back order — data columns, then the
    partition columns — so the fingerprint over ``key_cols`` (default: all
    columns) is the one a scan of the written table computes. The
    observation sits at the top of the plan and runs in the write's result
    stage, so the manifest adds no Spark job to the write. Raises :class:`SnapshotMismatch` when
    the footers' total differs from the observed count."""
    ordered = df.select(*[c for c in df.columns if c not in partition_by], *partition_by)
    obs = Observation()
    observed = ordered.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*(key_cols or ordered.columns)).cast("decimal(38,0)")).alias("h"),
    )
    writer = observed.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    seen = obs.get
    counts = footer_counts(path, partition_by)
    n_footers = sum(counts.values())
    if n_footers != seen["n"]:
        raise SnapshotMismatch(
            f"{path}: parquet footers hold {n_footers} rows, the write observed {seen['n']}"
        )
    return {
        "snapshot_id": str(seen["h"] if seen["h"] is not None else 0),
        "row_count": seen["n"],
        "partition_by": partition_by,
        "partition_counts": dict(sorted(counts.items())) if partition_by else {},
        "schema": ordered.schema.simpleString(),
        "schema_json": ordered.schema.json(),
    }


def recorded_schema(meta: dict) -> StructType | None:
    """The schema a manifest or snapshot recorded (``None`` for one written
    before schemas were recorded: the reader infers it)."""
    schema = meta.get("schema_json")
    return StructType.fromJson(json.loads(schema)) if schema else None


def write_snapshot(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    key_cols: list[str] | None = None,
    extra_meta: dict | None = None,
) -> dict:
    """Write ``df`` as a partitioned parquet snapshot + manifest; returns the
    manifest dict; the manifest adds no Spark job (:func:`observed_write`)."""
    manifest = {
        **observed_write(df, path, partition_by or [], key_cols),
        "written_at": time.time(),
        **(extra_meta or {}),
    }
    with open(os.path.join(path, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def read_snapshot(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """The snapshot's rows, read with its recorded schema, and its manifest."""
    with open(os.path.join(path, MANIFEST)) as f:
        manifest = json.load(f)
    schema = recorded_schema(manifest)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path), manifest


def snapshot_exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, MANIFEST))
