"""SparkSession factory tuned for the KG-construction pipeline.

Local-mode settings mirror what we would set on a real cluster:
AQE on (runtime re-plan + skew-join splitting), Arrow on (every UDF in this
repo is a pandas/Arrow UDF — no per-row Python), shuffle partitions sized to
cores (on a 1000-executor cluster this would be ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: collect_set/collect_list aggregates (entity titles, LSH band keys,
#: per-subject assembly) run in ObjectHashAggregate, which falls back to
#: SORT-based after only 128 distinct keys per partition by default — our
#: aggs have 10^4-10^6 small-buffer groups, so raise the fallback so they
#: stay hash-based (buffers are tiny title/hash sets, not unbounded)
OBJHASH_FALLBACK_THRESHOLD = 1_000_000


def build_session(
    cpus: int | None = None,
    app_name: str = "rdfcmap_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 4x cores: memory-heavy hash aggregations (the 15M-key triple
        # dedup) spill with one fat partition per core (measured 54s -> 35s
        # at 8 cores); AQE coalescePartitions shrinks small stages back, so
        # the higher initial count costs nothing elsewhere
        shuffle_partitions = max(4 * cpus, 16)
    # SPARK_GRAFT_MASTER overrides the master URL — used by
    # tools/cluster_pairs.py to run the SAME job on a real multi-executor
    # deployment (local-cluster[N,c,m]: separate worker+executor JVMs,
    # real RPC shuffle between them) instead of single-JVM local[n]
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 16 MB post-shuffle partitions, not the 64 MB default: the
        # set-dedup SortAggregate's per-task cost is cache-bound — AQE
        # coalescing to ~45 MB partitions at 2M turns inflated per-row agg
        # CPU ~3x vs the same data in ~10 MB partitions (32 concurrent
        # sorts x 45 MB >> shared L3; stage-probe measured). Smaller
        # post-shuffle partitions keep each task's sort run cache-resident
        # at any input scale.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # 16g default: measured on this box, >24g heaps produce erratic
        # 2-3x wall-time swings (kernel page-fault storms, 86% system time);
        # 12-16g is flat run-to-run and ample for local-mode state
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # G1 (the JVM default): re-measured AFTER off-heap Tungsten moved
        # the aggregate/shuffle pages out of the heap — at local[32] on 2M
        # turns the flagship pipeline runs 55.5 s under G1 vs 75-76 s under
        # ParallelGC, with task GC-seconds collapsing 511 -> 51 (ParallelGC
        # stop-the-world pauses bill every one of the 32 task threads; G1's
        # concurrent phases don't). The round-2 "ParallelGC 3.2x faster"
        # measurement predated off-heap and is obsolete for this plan shape.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTIONS", "-XX:+UseG1GC"),
        )
        # deterministic-output requirement (SURVEY.md §4 determinism row):
        # never let partial-aggregation push nondeterminism into floats we hash
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            str(OBJHASH_FALLBACK_THRESHOLD),
        )
    )
    # Off-heap Tungsten memory: the set-semantics aggregate + shuffle of the
    # triple stream allocates GB-scale page arrays; on-heap they promote to
    # old gen and ParallelGC full-pauses stop ALL task threads — measured as
    # the 8->32 scaling killer (stage probe: GC seconds > CPU seconds at
    # local[32]). Off-heap pages never touch the collector. Size via
    # SPARK_GRAFT_OFFHEAP_GB (0 disables).
    #
    # Sized PER CORE (1 GB/core, floor 8): execution memory is divided among
    # concurrent tasks, so a fixed pool starves each task as threads grow —
    # at local[32] with a fixed 8 GB, the set-dedup aggregate's per-task
    # share fell 4x vs local[8] and its spill path inflated task CPU 4.9x
    # (stage-probe measured; raising the pool restored wall 33.5 -> 21.4 s).
    # A real N -> 4N executor cluster brings 4x total memory with it, so
    # per-core-constant memory is the faithful local-mode analog.
    offheap_gb = os.environ.get("SPARK_GRAFT_OFFHEAP_GB") or str(max(8, cpus))
    if offheap_gb and offheap_gb != "0":
        builder = builder.config("spark.memory.offHeap.enabled", "true").config(
            "spark.memory.offHeap.size", f"{offheap_gb}g"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # ad-hoc tuning overrides without code edits (bench/probe A-B runs):
    # SPARK_GRAFT_EXTRA_CONF="spark.shuffle.compress=false;spark.foo=bar"
    for pair in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";")):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if master.startswith("local-cluster"):
        # multi-executor deployment: executor Python workers run outside the
        # repo cwd, so ship the package the way a real spark-submit job does
        # (--py-files); addPyFile is the runtime equivalent. Rebuild so the
        # bundle always matches the working tree.
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
        try:
            from package import build as _build_zip

            spark.sparkContext.addPyFile(_build_zip())
        except Exception:
            # fall back to a PYTHONPATH executors may share on one box
            pass
    return spark
