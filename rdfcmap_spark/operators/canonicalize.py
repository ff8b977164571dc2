"""Stage 4 — canonicalization via connected components (SURVEY.md G1).

The reference determines instance-graph membership with a recursive DFS and a
visited set (`Turtle2CmapConverter.collectNodeIds:781-875`,
`isBlankNodeWithConnectionToInstanceGraph:936-989`) — single-threaded,
stack-bound. Here the components come from **union-find**: on the driver
when the edge list fits :data:`DRIVER_CC_MAX_EDGES`, otherwise by
partition-local union-find contraction rounds that stitch nodes seen in
several partitions, until the remainder fits the driver gate (see
:func:`connected_components_with_count`).

Identity edges come from two places (north_star canonicalization semantics):

* explicit ``owl:sameAs`` relations extracted from text;
* shared ``dct:identifier`` literal values across conversations — grouped by
  value, emitted as a star around the min entity, which keeps a hot
  identifier (the skew fixture) a *map-side partial-aggregate*, never a
  pairwise self-join blowup (a value shared by k entities yields k-1 edges,
  not k² pairs).

Each contraction round ``localCheckpoint()``s to truncate lineage (SURVEY.md
§4 iteration row); the loop ends when the remaining edge count fits the
driver gate. The representative is the lexicographic min entity id —
deterministic at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfcmap_spark.schemas import TRIPLE_KEY, TRIPLES


def identity_edges(sameas: DataFrame, idents: DataFrame) -> DataFrame:
    """sameas(a, b) ∪ star(idents(entity_id, value)) -> edges(src, dst)."""
    hub = idents.groupBy("value").agg(F.min("entity_id").alias("hub"))
    star = (
        idents.join(hub, "value")
        .filter(F.col("entity_id") != F.col("hub"))
        .select(F.col("hub").alias("src"), F.col("entity_id").alias("dst"))
    )
    return sameas.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(star)


def _uf_absorb(parent: dict, src_arr, dst_arr) -> None:
    """In-place union-find absorption of an edge array pair: find with
    path-halving, union ordered by min (the smaller id becomes the root).
    The ONE definition both CC paths share — the driver fixed point and the
    distributed contraction's per-partition step must stay semantically
    identical (their equivalence is a tested contract), so the find/union
    body exists exactly once."""

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src_arr, dst_arr):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo


def _uf_roots(parent: dict) -> list:
    """Resolve every node in ``parent`` to its final root (post-absorb)."""
    out = []
    for n in parent:
        x = n
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        out.append(x)
    return out


def _driver_cc(edges: DataFrame) -> tuple[DataFrame, int]:
    """Union-find fixed point on the collected edge list (min representative
    — identical semantics to the distributed loop, asserted by tests).
    Returns (mapping, n_mapping_rows).

    The identity graph (sameAs + shared-identifier stars) is orders of
    magnitude smaller than the triple stream — at 10^12 turns the *triples*
    need a cluster, the *identity edges* usually fit one node. Below the
    threshold the driver fixed point replaces ~10 latency-bound Spark jobs
    per iteration with one collect. Union-find needs neither deduplication
    nor the reversed-direction union, so the raw directed edge list is
    collected as-is — no shuffle at all on this path.
    """
    import pandas as pd

    spark = edges.sparkSession
    parent: dict[str, str] = {}

    # Arrow-batched toPandas (one job, columnar transfer) — row collect()
    # pickles row-by-row and toLocalIterator schedules a job per partition;
    # both anti-scale
    pdf = edges.select("src", "dst").toPandas()
    _uf_absorb(parent, pdf["src"].to_numpy(), pdf["dst"].to_numpy())

    out = pd.DataFrame(
        {"entity_id": list(parent.keys()), "canonical_id": _uf_roots(parent)}
    )
    return (
        spark.createDataFrame(out, "entity_id string, canonical_id string"),
        len(out),
    )


#: ~500k edges × 2 string cols ≈ tens of MB pandas on the driver — safely
#: inside a 16g driver heap. (5M was ~10× too brave: multi-GB toPandas plus a
#: Python dict union-find over 10M strings.)
DRIVER_CC_MAX_EDGES = 500_000

#: rewrite_triples broadcasts the canonical mapping only below this row count
#: (~2 short string cols ≈ 100 bytes/row → ~100 MB executor-resident). Above
#: it the hint is dropped and AQE/SMJ decides — a too-big forced broadcast
#: fails the job instead of degrading.
BROADCAST_MAPPING_MAX_ROWS = 1_000_000


def connected_components_with_count(
    edges: DataFrame, max_iter: int = 25, driver_threshold: int = DRIVER_CC_MAX_EDGES
) -> tuple[DataFrame, int]:
    """edges(src, dst) -> (mapping(entity_id, canonical_id), n_rows).

    Only nodes that appear in an edge are returned (isolated entities are
    their own representative by definition and need no mapping row — keeps
    the rewrite join small).

    Two physical strategies behind one semantic contract (representative =
    component min entity id; output invariant to partitioning):

    * ``n_edges <= driver_threshold`` — checkpoint the raw edge list, count,
      collect + union-find on the driver (see :func:`_driver_cc`). No
      shuffle: union-find needs neither dedup nor the reversed direction.
    * else — local union-find contraction with boundary stitching
      (the MapReduce-CC family, cf. Kiveris et al.): co-locate edges by
      src, per-partition union-find in an Arrow UDF, stitch multi-partition
      nodes with (min root -> root) edges, repeat until the remainder fits
      the driver gate, then resolve levels back down with joins. Stars
      collapse in one round; ``max_iter`` bounds the rounds. Caveat: a
      pathologically hot hub keys all its edges into one partition — if
      that ever bites, the keyed repartition can switch to round-robin
      (correctness is partition-arbitrary) at the cost of one extra round.

    The mapping row count rides along so callers (rewrite_triples' broadcast
    gate) don't need an extra count job.
    """
    spark = edges.sparkSession
    # SERIALIZED checkpoint (same hygiene as the contraction loop's
    # intermediates): the default deserialized-on-heap blocks hold every
    # edge as two Java String objects — at 39.8M edges (400k-vector
    # embedding near-dup graph, bigscale-measured) that alone OOMed a 16 GB
    # heap before the first contraction round. MEMORY_AND_DISK stores
    # compact serialized bytes and spills instead.
    from pyspark import StorageLevel

    # lazy checkpoint: the count right below is the materializing action,
    # so entry costs one job, not two (same A/B-measured discipline as
    # graph.transitive_closure — each redundant eager job was ~25-30% of
    # loop wall at local[32])
    edges = edges.select("src", "dst").localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    n_edges = edges.count()
    if driver_threshold and n_edges <= driver_threshold:
        return _driver_cc(edges)
    # Size the loop's partitioning to the identity graph, not to
    # spark.sql.shuffle.partitions: the graph is orders of magnitude smaller
    # than the triple stream, and running each of the loop's ~6 stages per
    # iteration with 128 near-empty tasks at local[32] made scheduling
    # overhead the dominant CC cost
    # (stage-probe measured). ~200k edges/partition keeps tasks ~ms-sized
    # compute with real data while scaling to arbitrarily large graphs.
    p_cc = int(min(2048, max(8, n_edges // 200_000)))
    # --- distributed path: local union-find contraction + boundary stitch.
    #
    # Round k: co-locate edges by src (every edge lives in exactly one
    # partition), run an in-memory union-find per partition (Arrow batches,
    # no per-row Python), and emit (node -> partition-local min root). A
    # node seen in several partitions has several roots; those roots are
    # genuinely connected through it, so the next round's edge set is the
    # star (min root -> other roots) per such node — everything else is
    # fully resolved. Identity STARS (the dominant shape here: one hub per
    # shared identifier, hub = min entity) co-locate by construction and
    # collapse in ONE round; chains shrink geometrically. When the
    # remainder fits the driver gate, a driver union-find finishes, and the
    # per-round mappings resolve back down with broadcast-sized joins.
    #
    # The component representative is the component's min IRI: a global min
    # is the min of every partition-local component that contains it, so it
    # survives every contraction round and the driver stage picks it —
    # identical semantics to _driver_cc and the recursive-CTE oracle, and
    # invariant to partitioning (T3 determinism).
    #
    # This replaced a min-label-propagation + pointer-jumping loop whose
    # ~10 data-tiny rounds were pure job-submit latency (~33 s at 2M turns)
    # and whose per-round joins SQUARED Catalyst's sizeInBytes estimate
    # until the driver sat in BigInteger.multiplyToomCook3 on 10^5-digit
    # numbers (jstack-verified, 1 s -> 148 s per round by iteration 19).
    import pandas as pd

    def _local_uf(batches):
        parent: dict[str, str] = {}
        for pdf in batches:
            _uf_absorb(parent, pdf["src"].to_numpy(), pdf["dst"].to_numpy())
        yield pd.DataFrame({"node": list(parent.keys()), "root": _uf_roots(parent)})

    # Loop-checkpoint hygiene: every round materializes a full node->root
    # mapping plus the contracted edge set, and the DEFAULT localCheckpoint
    # level is deserialized on-heap — on a deep-chain graph (many rounds)
    # the accumulated blocks exhausted a 16 GB heap at just 2M nodes
    # (cc_bench-measured OOM). Loop intermediates therefore checkpoint
    # SERIALIZED (MEMORY_AND_DISK spills instead of OOMing) and each round's
    # edge frame is unpersisted as soon as its successor is materialized;
    # the per-round mappings are freed after the final mapping materializes.
    from pyspark import StorageLevel

    _lvl = StorageLevel.MEMORY_AND_DISK
    e = edges
    n_e = n_edges
    mappings: list[DataFrame] = []
    for _ in range(max_iter):
        if n_e == 0 or (driver_threshold and n_e <= driver_threshold):
            break
        # both round frames checkpoint LAZILY: the n_e count below is the
        # single materializing job for m AND e (3 jobs/round -> 1); m's
        # blocks persist as a side effect of computing e through it, and
        # every consumer (the next round, the resolve-down joins) reads the
        # persisted blocks
        m = (
            e.repartition(p_cc, "src")
            .mapInPandas(_local_uf, "node string, root string")
            .localCheckpoint(eager=False, storageLevel=_lvl)
        )
        mappings.append(m)
        st = m.groupBy("node").agg(
            F.min("root").alias("r0"), F.collect_set("root").alias("rs")
        )
        e_prev = e
        e = (
            st.select(F.col("r0").alias("src"), F.explode("rs").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .localCheckpoint(eager=False, storageLevel=_lvl)
        )
        n_e = e.count()
        if e_prev is not edges:
            e_prev.unpersist()
    # driver finish over the (now tiny) remainder, then resolve back down:
    # each level's roots look up their canonical in the level above
    # (broadcast-sized), unresolved roots are their own canonical
    if n_e > 0:
        fm, _ = _driver_cc(e)
        r = fm.select(F.col("entity_id").alias("root"), F.col("canonical_id").alias("canon"))
    else:
        r = spark.createDataFrame([], "root string, canon string")
    for m in reversed(mappings[1:]):
        r = (
            m.join(r, "root", "left")
            .groupBy(F.col("node").alias("root"))
            .agg(F.min(F.coalesce(F.col("canon"), F.col("root"))).alias("canon"))
        )
    base = mappings[0] if mappings else edges.select(
        F.col("src").alias("node"), F.col("src").alias("root")
    ).limit(0)
    mapping = (
        base.join(r, "root", "left")
        .groupBy(F.col("node").alias("entity_id"))
        .agg(F.min(F.coalesce(F.col("canon"), F.col("root"))).alias("canonical_id"))
        .localCheckpoint(eager=False)
    )
    n = mapping.count()  # the materializing action for the lazy checkpoint
    for m in mappings:  # loop blocks are consumed; free the storage memory
        m.unpersist()
    if e is not edges:
        e.unpersist()
    return mapping, n


def merge_mapping(
    old_mapping: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 25,
    driver_threshold: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Incrementally fold a batch of new identity edges into an existing
    canonical mapping WITHOUT recomputing components over the historical
    edge set — the maintenance path of the north_star's resumable pipeline
    (new conversations land, their sameAs / shared-identifier edges must
    merge into yesterday's canonicalization).

    Contract (pinned by tests + the ``kg_incremental_canon`` oracle):
    ``merge_mapping(connected_components(E1), E2)`` equals
    ``connected_components(E1 ∪ E2)`` exactly, for ANY split — including
    the min-IRI representative, because the old representative is its
    component's min, so the min over merged old representatives (what the
    delta CC computes) IS the min over the merged full component.

    Physical shape, and why it scales to 10^12 turns:

    * both endpoints of the batch rewrite onto their current canonical
      (components contract to supernodes) — one join of the BATCH against
      the mapping (at scale, store the mapping bucketed by ``entity_id``
      and this probe is co-located; self-loops, i.e. edges internal to an
      existing component, drop out here);
    * connected components run over the rewritten batch only — per-batch
      cost tracks |E2|, never history;
    * the patch is a join of the old mapping against the delta on
      ``canonical_id`` — the delta is bounded by the batch's node count,
      so it is broadcast whenever it fits (same size gate as
      :func:`rewrite_triples`), leaving the big mapping un-shuffled.

    Reference parity: rdfcmap re-runs the whole conversion per file
    (`App.java` main flow) — incremental maintenance has no counterpart
    there and is required by the north_star's checkpoint/resume rule.
    """
    src_m = old_mapping.select(
        F.col("entity_id").alias("src"), F.col("canonical_id").alias("c_src")
    )
    dst_m = old_mapping.select(
        F.col("entity_id").alias("dst"), F.col("canonical_id").alias("c_dst")
    )
    rewritten = (
        new_edges.select("src", "dst")
        .join(src_m, "src", "left")
        .join(dst_m, "dst", "left")
        .select(
            F.coalesce("c_src", "src").alias("src"),
            F.coalesce("c_dst", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    delta, n_delta = connected_components_with_count(
        rewritten, max_iter, driver_threshold
    )
    d = delta.select(
        F.col("entity_id").alias("old_c"), F.col("canonical_id").alias("new_c")
    )
    if n_delta <= BROADCAST_MAPPING_MAX_ROWS:
        d = F.broadcast(d)
    patched = old_mapping.join(
        d, old_mapping["canonical_id"] == d["old_c"], "left"
    ).select(
        "entity_id", F.coalesce("new_c", "canonical_id").alias("canonical_id")
    )
    # delta nodes absent from the old mapping are genuinely new entities
    # (old canonicals always have an entity row — CC emits root->root)
    fresh = delta.join(old_mapping.select("entity_id"), "entity_id", "left_anti")
    return patched.unionByName(fresh)


def canonical_ids_for_pairs(ids: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """(id_col, canonical_id) for EVERY row of ``ids`` given an undirected
    2-column pair/edge frame over bigint ids — the shared tail of the
    linear-output dedup products (text :func:`~rdfcmap_spark.operators.dedup.dup_groups`,
    embedding ``embedding_dup_groups``).

    canonical = component min id; ids in no pair map to themselves. Bigint
    ids are zero-padded to fixed-width strings for the CC machinery (its
    node type is string; min over zero-padded decimals == numeric min) and
    cast back, so the result matches a numeric-min SQL oracle exactly.
    String ids (e.g. conv_id for conversation-level dedup) pass through
    unpadded — lexicographic min is already both engines' semantics.
    """
    is_str = dict(ids.dtypes)[id_col] == "string"
    if is_str:
        node = lambda c: F.col(c)  # noqa: E731
    else:
        node = lambda c: F.format_string("%019d", F.col(c))  # noqa: E731
    a_col, b_col = pairs.columns[:2]
    edges = pairs.select(node(a_col).alias("src"), node(b_col).alias("dst"))
    mapping = connected_components(edges)
    canon = F.col("canonical_id") if is_str else F.col("canonical_id").cast("bigint")
    return (
        ids.select(id_col)
        .join(
            mapping.withColumnRenamed("entity_id", "node"),
            node(id_col) == F.col("node"),
            "left",
        )
        .select(
            id_col,
            F.coalesce(canon, F.col(id_col)).alias("canonical_id"),
        )
    )


def connected_components(
    edges: DataFrame, max_iter: int = 25, driver_threshold: int = DRIVER_CC_MAX_EDGES
) -> DataFrame:
    """See :func:`connected_components_with_count`; mapping only."""
    return connected_components_with_count(edges, max_iter, driver_threshold)[0]


def rewritten_candidates(
    triples: DataFrame, mapping: DataFrame, n_mapping: int | None = None
) -> DataFrame:
    """The canonical-rewrite candidate stream BEFORE set-semantics dedup:
    the per-mention triple stream (TRIPLES columns) with ``subj`` and
    ``obj_iri`` rewritten through the canonical mapping. Shared head of
    :func:`rewrite_triples` (min-provenance set dedup) and the KG products
    of :mod:`rdfcmap_spark.plans.pipeline` (evidence counts, timelines, SFT
    pairs) — one implementation of the join strategy and the kind/identity
    invariant.

    The mapping (merged entities only) usually sits right at the 10MB
    auto-broadcast threshold, where AQE would fall back to two full
    sort-merge shuffles of the triples table — so we hint ``broadcast`` when
    the mapping is measured small. But the hint is a hard commitment (a
    forced broadcast that no longer fits OOMs executors instead of degrading)
    and identity-merge volume grows with data, so it is **size-gated**: above
    :data:`BROADCAST_MAPPING_MAX_ROWS` the hint is dropped and Catalyst/AQE
    pick the physical join. Pass ``n_mapping`` if the row count is already
    known (the CC loop materializes the mapping) to skip the extra count job.

    Both joins probe the SAME broadcast subplan (only the join condition
    differs) so ReuseExchange builds it once, halving driver-serial
    broadcast-build time.
    """
    if n_mapping is None:
        # mapping comes out of connected_components checkpointed/materialized
        # — one cheap count job over a tiny frame
        n_mapping = mapping.count()
    m = mapping.select("entity_id", "canonical_id")
    if n_mapping <= BROADCAST_MAPPING_MAX_ROWS:
        m = F.broadcast(m)
    ms, mo = m.alias("ms"), m.alias("mo")
    return (
        triples.join(ms, F.col("subj") == F.col("ms.entity_id"), "left")
        .withColumn("subj", F.coalesce(F.col("ms.canonical_id"), F.col("subj")))
        .drop("entity_id", "canonical_id")
        .join(mo, F.col("obj_iri") == F.col("mo.entity_id"), "left")
        .withColumn("obj_iri", F.coalesce(F.col("mo.canonical_id"), F.col("obj_iri")))
        .drop("entity_id", "canonical_id")
        # kind/identity invariant: obj_kind == 'bnode' iff the (post-
        # rewrite) object is a skolem urn:uuid node. A [bracket]-marked
        # mention whose entity canonicalizes to a NAMED vocab node (e.g. a
        # qudt unit individual via shared-identifier edges) is no longer a
        # blank node — Jena could not even represent that combination. Must
        # run BEFORE the set-semantics aggregate (kind is part of the dedup
        # key).
        .withColumn(
            "obj_kind",
            F.when(
                (F.col("obj_kind") == "bnode") & ~F.col("obj_iri").startswith("urn:uuid:"),
                F.lit("iri"),
            ).otherwise(F.col("obj_kind")),
        )
        .select(*[f.name for f in TRIPLES.fields])
    )


def rewrite_triples(
    triples: DataFrame, mapping: DataFrame, n_mapping: int | None = None
) -> DataFrame:
    """Rewrite subj and obj_iri through the canonical mapping, then enforce
    RDF set semantics (dropDuplicates on the triple key, keeping the min
    provenance — deterministic). Candidate construction (join strategy,
    size-gated broadcast, kind/identity invariant) lives in
    :func:`rewritten_candidates`; this function is that stream plus the
    tuned min-provenance set-semantics aggregate.
    """
    out = rewritten_candidates(triples, mapping, n_mapping=n_mapping)
    # provenance min as ONE sortable string: min(struct(...)) is not
    # hash-aggregatable — Spark plans SortAggregate on BOTH sides of the
    # shuffle, fully sorting the wide 6-string-column stream twice (the
    # measured scaling killer of the materialization phase). A string key
    # keeps the plan HashAggregate with map-side partial combine.
    #
    # The encoding is an order-preserving escape (arbitrary conv_id charset
    # — '#', spaces, control chars all safe, ADVICE r2): conv_id escapes
    # \x01 -> \x01\x02 then \x00 -> \x01\x01 (both order-preserving at the
    # code-point = UTF-8-byte level), then a \x00 terminator no escaped
    # conv_id can contain. Null turn -> bare terminator (sorts before any
    # turn); non-null -> \x00\x01 + 10-digit zero-pad (turn_idx assumed
    # non-negative, as minted). min(enc) therefore selects exactly the
    # (conv_id ASC NULLS FIRST, turn_idx ASC NULLS FIRST) row. Only null
    # and '' conv_id collapse (both decode to null, as before).
    conv_esc = F.replace(
        F.replace(F.coalesce(F.col("conv_id"), F.lit("")), F.lit("\x01"), F.lit("\x01\x02")),
        F.lit("\x00"),
        F.lit("\x01\x01"),
    )
    prov_key = F.concat(
        conv_esc,
        F.when(
            F.col("turn_idx").isNotNull(),
            F.concat(F.lit("\x00\x01"), F.lpad(F.col("turn_idx").cast("string"), 10, "0")),
        ).otherwise(F.lit("\x00")),
    )
    # a string MIN buffer is not hash-aggregatable, so this aggregate plans
    # SortAggregate regardless; prepending xxhash64(key) to the grouping key
    # keeps grouping semantics identical (the hash is a function of the key
    # columns, which stay in the key) while the sort compares one LONG
    # instead of six strings — measured 2-3x on the materialization phase.
    kh = F.xxhash64(*TRIPLE_KEY).alias("_kh")
    # Pre-repartition on the hash key so BOTH aggregate passes run
    # post-shuffle: hashpartitioning(_kh) satisfies the aggregate's
    # ClusteredDistribution([_kh, key...]) (subset rule), so EnsureRequirements
    # inserts no further exchange and the partial SortAggregate lands in the
    # post-shuffle stage next to the final one. The wide pre-shuffle stage
    # (checkpoint scan -> explode -> rewrite) then carries NO sort buffers and
    # no per-task aggregation state — at local[32] the partial agg's working
    # set in the wide stage was the main cache/memory-contention term
    # (stage-probe: 2-3x per-task CPU dilation at 4x threads). Post-shuffle
    # partitions are small (rows/partitions) and AQE-coalesced, so the sort
    # is cache-resident. Cost: shuffling pre-dedup rows (~1.3x more bytes) —
    # the dedup factor of the candidate stream is low, so map-side combine
    # was buying almost nothing.
    agg = (
        out.select(kh, *TRIPLE_KEY, prov_key.alias("_pkv"))
        .repartition(F.col("_kh"))
        .groupBy("_kh", *TRIPLE_KEY)
        .agg(F.min("_pkv").alias("_pk"))
    )
    conv_part = F.substring_index(F.col("_pk"), "\x00", 1)
    conv = F.nullif(
        F.replace(
            F.replace(conv_part, F.lit("\x01\x01"), F.lit("\x00")),
            F.lit("\x01\x02"),
            F.lit("\x01"),
        ),
        F.lit(""),
    )
    tail = F.substring(F.col("_pk"), F.length(conv_part) + 2, 11)
    turn = F.when(tail.startswith("\x01"), F.substring(tail, 2, 10).cast("int"))
    return agg.select(*TRIPLE_KEY, conv.alias("conv_id"), turn.alias("turn_idx"))
