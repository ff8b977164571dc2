"""Graph operators beyond connected components (SURVEY.md G2-G5).

The iterative operators come in two loop shapes:

* **Frontier loops** (semi-naive BFS), all run by :func:`expand`:
  :func:`bfs_hops`, :func:`khop_sample`, ``pathfinder.bfs_parent_tree``
  and ``sparql.path_statements``. They replace the reference's per-target
  searches (`path/PathFinder.java:94`, `SparqlCreator.findNeighbour:
  537-664`); only the frontier is shuffled and visited nodes drop out.
* **Count-converged loops**: :func:`transitive_closure`, :func:`kcore`,
  :func:`ktruss`, :func:`label_propagation` and the CC contraction in
  ``canonicalize.py`` rebuild a whole frame each round and materialize it
  with a ``count`` (which, except for label propagation's fixed rounds,
  decides when to stop). They stay hand-written: each counts a different
  frame, uses a different storage level and unpersists different frames.

:func:`hierarchy_levels` (G4/G5) is a per-node count over
:func:`transitive_closure`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def expand(
    visited: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    key: list[str],
    max_rounds: int,
    first: list[str] | None = None,
    stop: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """Semi-naive frontier loop: ``visited`` seeds the first frontier; for
    round ``r = 1..max_rounds``, ``step(frontier, r)`` proposes rows (with
    ``visited``'s columns), those whose ``key`` is already visited are
    anti-joined away, and the rest become the next frontier and join
    ``visited``. Returns ``visited``.

    ``first`` keeps one row per key, the least by that column order — a
    deterministic first-visit tie-break at any parallelism. It runs AFTER
    the anti-join, so the window only ranks rows that are new (ranking
    inside ``step`` costs extra jobs). ``stop(new_rows)`` ends the loop
    early once it returns true.

    Checkpoints are lazy: ``isEmpty`` on the new rows is the one
    materializing job per round, and later rounds read the checkpointed
    frames instead of recomputing lineage.
    """
    from pyspark.sql import Window

    visited = visited.localCheckpoint(eager=False)
    frontier = visited
    for rnd in range(1, max_rounds + 1):
        new = step(frontier, rnd).join(visited.select(*key), key, "left_anti")
        if first:
            w = Window.partitionBy(*key).orderBy(*first)
            new = new.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
        new = new.localCheckpoint(eager=False)
        if new.isEmpty():
            break
        visited = visited.unionByName(new).localCheckpoint(eager=False)
        if stop is not None and stop(new):
            break
        frontier = new
    return visited


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = 20) -> DataFrame:
    """edges(src, dst) directed, seeds(node) -> (node, hops) minimal hop
    counts for every node reachable from any seed (seeds at 0)."""
    out = edges.withColumnRenamed("src", "node")

    def step(frontier: DataFrame, hop: int) -> DataFrame:
        return (
            frontier.select("node")
            .join(out, "node")
            .select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("hops", F.lit(hop))
        )

    seed = seeds.select("node").distinct().withColumn("hops", F.lit(0))
    return expand(seed, step, ["node"], max_hops)


def hierarchy_levels(subclass_edges: DataFrame) -> DataFrame:
    """subclass_edges(child, parent) -> (node, level) where level = number
    of distinct transitive ancestors (the reference's label-size driver,
    `VisualizationInfoBuilder.determineClassHierarchyLevel:1155-1208`); a
    node on a subclass cycle counts itself. Ontology hierarchies are
    tiny, so the closure is cheap — SURVEY §2.8's "precompute closure"
    disposition."""
    closure = transitive_closure(
        subclass_edges.select(F.col("child").alias("src"), F.col("parent").alias("dst"))
    )
    return closure.groupBy(F.col("src").alias("node")).agg(
        F.count_distinct("dst").cast("bigint").alias("level")
    )


def shacl_shapes(typed_triples: DataFrame) -> DataFrame:
    """Shape summarization (§7.9, `ShapesCreatorPath.java:632-711`): for
    each (rdf_type, pred), the observed per-subject cardinality bounds ->
    sh:minCount / sh:maxCount, plus how many subjects carry the property.

    Input: (subj, rdf_type, pred). One narrow two-level aggregation — the
    natural Spark re-expression of the reference's per-instance shape scan.
    sh:minCount is 0 when some subject of the type lacks the property.
    """
    per_subj = typed_triples.groupBy("rdf_type", "pred", "subj").agg(F.count("*").alias("n"))
    subj_totals = typed_triples.select("rdf_type", "subj").distinct().groupBy("rdf_type").agg(
        F.count("*").alias("n_subjects")
    )
    return (
        per_subj.groupBy("rdf_type", "pred")
        .agg(
            F.count("*").alias("n_subjects_with_pred"),
            F.min("n").alias("observed_min"),
            F.max("n").alias("max_count"),
        )
        .join(subj_totals, "rdf_type")
        .select(
            "rdf_type",
            "pred",
            F.when(F.col("n_subjects_with_pred") < F.col("n_subjects"), F.lit(0))
            .otherwise(F.col("observed_min"))
            .cast("bigint")
            .alias("min_count"),
            F.col("max_count").cast("bigint"),
            F.col("n_subjects_with_pred").cast("bigint").alias("n_subjects_with_pred"),
        )
    )


#: self-defense bound for the driver-side layout paths (r4 review item 6):
#: a "human-sized concept map" is the documented contract of the layout
#: family; a caller pointing these at the full entity graph gets a loud
#: refusal instead of a silent driver collect (same device as
#: canonicalize.DRIVER_CC_MAX_EDGES).
DRIVER_LAYOUT_MAX_EDGES = 500_000


def cycle_break_edges(edges: DataFrame) -> list[tuple[str, str]]:
    """G6 cycle-breaking (`Layouter.determineEdgesToBreakCycles:500-554`,
    `follow:632-690`): the set of edges whose removal leaves the directed
    graph acyclic, so a hierarchical layout terminates.

    The reference's version is a gephi-coupled heuristic DFS (break on
    returning to the start node or to a node >= 4 hops back on the path)
    with insertion-order-dependent results; here the same *purpose* is a
    classic deterministic back-edge detection — iterative DFS over sorted
    adjacency, driver-side (a concept map is human-sized; the 10^12-turn
    graph never needs layout — enforced by ``DRIVER_LAYOUT_MAX_EDGES``).
    Removing the returned edges is guaranteed to leave a DAG, which the
    heuristic original does not guarantee.
    """
    probe = edges.limit(DRIVER_LAYOUT_MAX_EDGES + 1).count()
    if probe > DRIVER_LAYOUT_MAX_EDGES:
        raise ValueError(
            f"cycle_break_edges is a driver-side layout path bounded at "
            f"{DRIVER_LAYOUT_MAX_EDGES} edges (human-sized concept maps); "
            f"got more — this graph should not be laid out"
        )
    rows = edges.select("src", "dst").collect()
    adj: dict[str, list[str]] = {}
    for r in rows:
        adj.setdefault(r["src"], []).append(r["dst"])
        adj.setdefault(r["dst"], [])
    for k in adj:
        adj[k] = sorted(set(adj[k]))

    WHITE, GRAY, BLACK = 0, 1, 2
    color = {n: WHITE for n in adj}
    breaks: list[tuple[str, str]] = []

    for root in sorted(adj):
        if color[root] != WHITE:
            continue
        stack: list[tuple[str, int]] = [(root, 0)]
        color[root] = GRAY
        while stack:
            node, i = stack[-1]
            if i < len(adj[node]):
                stack[-1] = (node, i + 1)
                nxt = adj[node][i]
                if color[nxt] == GRAY:
                    breaks.append((node, nxt))  # back edge -> on a cycle
                elif color[nxt] == WHITE:
                    color[nxt] = GRAY
                    stack.append((nxt, 0))
            else:
                color[node] = BLACK
                stack.pop()
    return breaks


def transitive_closure(edges: DataFrame, max_rounds: int = 16) -> DataFrame:
    """edges(src, dst) -> every (src, dst) connected by a directed path of
    ≥1 edges — the executor's ``p+`` property path.

    Pointer-doubling, not step-by-one: after round *k* the frame holds all
    paths of length ≤ 2^k, so ``max_rounds=16`` reaches diameter 65,536 in
    at most 16 shuffle rounds (each: one equi-join on the closure frame +
    distinct + anti-join against the known set). Serialized
    ``MEMORY_AND_DISK`` checkpoints truncate lineage and keep the loop
    frames off the 16 GB heap (same discipline as the contraction CC);
    superseded checkpoints are unpersisted eagerly.

    Checkpoints are LAZY (``eager=False``): the convergence ``count()``
    right after is the materializing action, so each round runs ONE job
    instead of two (checkpoint-build + count). Interleaved same-window A/B
    at sf0.1 (750k-pair closure, 6 rounds, local[32]): eager 15.3-19.1 s
    vs lazy 11.8-13.7 s — a consistent ~25-30% of the loop's wall is the
    redundant second job. Safety: the count always runs before the
    superseded frame unpersists, so no round ever recomputes lineage.

    Scale note: a transitive closure is inherently O(Σ reach(v)) output —
    linear rounds, but the OUTPUT can be quadratic in chain length (a
    K-node chain yields K²/2 pairs). That is the operator's contract, not
    an implementation accident; callers at corpus scale bound it by
    filtering the edge relation first (the executor pushes the pattern's
    predicate constant into the edge scan).
    """
    from pyspark import StorageLevel

    _lvl = StorageLevel.MEMORY_AND_DISK
    closure = edges.select("src", "dst").distinct().localCheckpoint(
        eager=False, storageLevel=_lvl
    )
    n = closure.count()
    for _ in range(max_rounds):
        # ONE materialization per round: next = distinct(closure ∪ closure²),
        # convergence by count. (A grown-minus-known anti-join variant costs
        # a second eager checkpoint per round — measured slower at any scale
        # where the fixed per-materialization cost matters.) Self-joins of a
        # checkpointed frame by alias hit analyzer attribute collisions
        # (key-not-found during the next checkpoint); rename projections
        # mint fresh attribute ids, which sidesteps it.
        right = closure.select(F.col("src").alias("mid"), F.col("dst").alias("dst2"))
        nxt = (
            closure.unionByName(
                closure.join(right, F.col("dst") == F.col("mid"))
                .select("src", F.col("dst2").alias("dst"))
            )
            .distinct()
            .localCheckpoint(eager=False, storageLevel=_lvl)
        )
        m = nxt.count()
        if m == n:
            nxt.unpersist()
            break
        closure.unpersist()
        closure, n = nxt, m
    return closure


def degree_profile(triples: DataFrame) -> DataFrame:
    """Degree-distribution histogram of the constructed KG (round 5):
    per undirected entity degree (distinct IRI neighbors over the
    object-property triples), how many entities have it — the structural
    health monitor of a corpus-built graph (a drifting tail means a new
    hub entity or a linking regression; a collapsing head means
    extraction is thinning).

    Two map-side-combinable aggregates after a distinct over the
    (subj, obj) pairs; the histogram frame is degree-distribution-sized.
    Self-loops excluded (an entity is not its own neighbor).

    Output: (degree, n_entities).
    """
    edges = (
        triples.filter(
            (F.col("obj_kind") == "iri")
            & F.col("obj_iri").isNotNull()
            & (F.col("subj") != F.col("obj_iri"))
        )
        .select("subj", "obj_iri")
        .distinct()
    )
    und = (
        edges.select(F.col("subj").alias("node"), F.col("obj_iri").alias("nbr"))
        .unionByName(edges.select(F.col("obj_iri").alias("node"), F.col("subj").alias("nbr")))
        .distinct()
    )
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_entities"))
        .select(F.col("degree").cast("long").alias("degree"), "n_entities")
    )


#: fixed-point scale for pagerank ranks (1 nano = 1e-9 rank mass)
PR_SCALE = 1_000_000_000


def pagerank(edges: DataFrame, iters: int = 10, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list ``(src, dst)`` —
    entity-importance ranking for the constructed KG (no reference
    counterpart: rdfcmap sees one map at a time; corpus-level centrality
    only exists at this pipeline's scale).

    Arithmetic is pinned for cross-engine / cluster-size exactness
    ("nano-rank" fixed point): ranks are BIGINT nanos (1e-9 units);
    ``contrib(u->v) = r_nano(u) div outdeg(u)`` (integer division);
    ``r'(v) = floor((1-d)*1e9/N) + floor(d * sum(contrib))`` where the sum
    is an exact BIGINT aggregate and the two ``floor`` arguments are IEEE
    double ops (correctly rounded, engine-identical). Dangling-node mass
    is NOT redistributed (documented rank leak — the sum of ranks decays
    where sinks exist, relative ordering is unaffected).

    Scale posture: each iteration is one shuffle join (ranks ⨝ edges on
    the source key, AQE splits hub skew) + one map-side-combinable hash
    aggregate on the destination; ``N`` rides a 1-row broadcast; lineage
    is cut with a lazy localCheckpoint every 4 rounds. Textbook
    distributed PageRank — no driver-side state.
    """
    e, nodes = _rank_graph(edges)
    nn = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.floor(F.lit(float(PR_SCALE)) / F.col("n_nodes")).alias("r_nano")
    )
    teleport_nano = (1.0 - damping) * PR_SCALE  # exact python double, mirrored in the oracle
    teleport = F.floor(F.lit(teleport_nano) / F.col("n_nodes"))
    return _rank_iterations(e, ranks, nodes, nn, teleport, iters, damping)


def _rank_graph(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(distinct edges, checkpointed node set) — the inputs both PageRank
    variants iterate over."""
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    return e, nodes


def _rank_iterations(e, ranks, base, scalar, teleport, iters: int, damping: float) -> DataFrame:
    """The nano-rank iteration shared by :func:`pagerank` and
    :func:`personalized_pagerank`: ``r'(v) = teleport + floor(d·Σ contrib)``
    over every node of ``base``, where ``teleport`` is a column of
    ``base`` or of the 1-row ``scalar`` frame (broadcast each round).
    Lineage is cut with a lazy localCheckpoint every 4 rounds."""
    outd = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("outdeg"))
    for i in range(iters):
        contrib = (
            ranks.join(outd, "node")
            .join(e, F.col("node") == F.col("src"))
            .select(F.col("dst").alias("node"), F.expr("r_nano div outdeg").alias("c"))
        )
        s = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            base.join(s, "node", "left")
            .crossJoin(F.broadcast(scalar))
            .select(
                "node",
                (
                    teleport
                    + F.floor(F.lit(damping) * F.coalesce(F.col("s"), F.lit(0)).cast("double"))
                ).alias("r_nano"),
            )
        )
        if (i + 1) % 4 == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(
        "node", "r_nano", F.round(F.col("r_nano") / F.lit(float(PR_SCALE)), 9).alias("pr")
    )


def khop_sample(
    edges: DataFrame, seeds: DataFrame, fanouts: tuple[int, ...] = (3, 2)
) -> DataFrame:
    """GraphSAGE-style deterministic k-hop neighbor sampling: for every seed,
    expand ``len(fanouts)`` hops, keeping at most ``fanouts[h]`` neighbors
    per (seed, parent) at hop ``h+1`` — the subgraph-extraction step that
    feeds GNN / graph-embedding training without materializing full
    neighborhoods (no reference counterpart: rdfcmap's graphs are one map;
    sampling only matters at corpus-scale KGs where hub fan-out is huge).

    Sampling is hash-deterministic, not random: neighbors of a (seed,
    parent) pair are ranked by ``md5(seed|parent|dst)`` and the top
    ``fanouts[h]`` survive — reproducible across runs, cluster sizes, and
    engines (the DuckDB oracle replays the identical ranking).

    Output: (seed, node, hop) — hop 0 is the seed itself; a node appears
    once per seed at its FIRST sampled hop (later re-arrivals are dropped
    by a per-seed visited anti-join, mirroring bfs_hops' min-hop contract).

    Scale posture: the per-hop candidate set is ``frontier ⨝ edges`` — one
    shuffle keyed on the parent node; the rank window partitions by (seed,
    parent) whose group size is the parent's out-degree BEFORE sampling,
    but the *output* is capped at ``fanouts[h]`` rows per pair, so frontier
    growth is bounded by ``Π fanouts`` per seed regardless of hub skew (the
    window itself is where AQE's skew-split applies for true mega-hubs).
    Each hop is one :func:`expand` round keyed on (seed, node).
    """
    from pyspark.sql import Window

    key = F.md5(F.concat_ws("|", F.col("seed"), F.col("src"), F.col("dst")).cast("binary"))
    w = Window.partitionBy("seed", "src").orderBy(key, "dst")

    def step(frontier: DataFrame, hop: int) -> DataFrame:
        cand = frontier.select("seed", F.col("node").alias("src")).join(edges, "src")
        samp = cand.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= fanouts[hop - 1])
        return (
            samp.select("seed", F.col("dst").alias("node"))
            .distinct()
            .withColumn("hop", F.lit(hop))
        )

    seed = seeds.select(F.col("node").alias("seed"), "node").distinct().withColumn("hop", F.lit(0))
    return expand(seed, step, ["seed", "node"], len(fanouts))


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    """Canonicalize an edge list to the undirected simple form
    ``(a, b)`` with ``a < b``, self-loops dropped, duplicates collapsed."""
    return (
        edges.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """(node, deg) over both endpoints of an edge list ``(a, b)``."""
    return (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _symmetrized(edges: DataFrame) -> DataFrame:
    """``edges(src, dst)`` plus every reversed edge, self-loops dropped,
    duplicates collapsed — the undirected adjacency that walks and label
    propagation join against, checkpointed because every round reads it."""
    return (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _oriented_edges(und: DataFrame) -> DataFrame:
    """Degree-orient the canonical undirected edge list: every edge is
    directed from its lower-(degree, node) endpoint to the higher one
    (``u -> v`` with rank(u) < rank(v)), so each triangle has exactly one
    base edge between its two lowest-rank corners and — the scale
    property — the out-degree of every node is O(√m) on ANY graph (a
    mega-hub contributes almost no out-edges because nearly all its edges
    point INTO it). The rank is a single zero-padded string (deg, node) —
    plain column comparisons, engine-portable, no struct ordering."""
    deg = _degrees(und)
    rk = F.concat(
        F.lpad(F.col("deg").cast("string"), 12, "0"),
        F.lit("|"),
        F.col("node").cast("string"),
    )
    dr = deg.select("node", rk.alias("rk"))
    j = (
        und.join(dr.select(F.col("node").alias("a"), F.col("rk").alias("rka")), "a")
        .join(dr.select(F.col("node").alias("b"), F.col("rk").alias("rkb")), "b")
    )
    lo_first = F.col("rka") < F.col("rkb")
    return j.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lo_first, F.col("rkb")).otherwise(F.col("rka")).alias("rkv"),
    )


def _oriented_triangles(und: DataFrame) -> DataFrame:
    """Enumerate each triangle of the canonical undirected edge list
    exactly once as ``(wu, wv, ww)`` with rank(wu) < rank(wv) < rank(ww)
    — the core shared by :func:`triangle_count` and :func:`ktruss`.

    EDGE-ITERATOR over degree-oriented adjacency ARRAYS (round 5; ~2x the
    wedge self-join this replaced — interleaved A/B at sf0.1, 1.196M-edge
    co-purchase graph, warm: wedge join 8.6-13.6 s vs 4.5-6.0 s here,
    identical triangle set): build each node's out-neighbor list once
    (out-deg is O(√m) by orientation — see :func:`_oriented_edges` — so
    arrays are hub-safe), then for every oriented base edge (u, v) the
    closing corners are ``array_intersect(out[u], out[v])`` computed
    IN-ROW. The Σ min(deg) intersection work is the same wedge mass as
    the self-join formulation, but it never materializes or shuffles the
    wedge rows — the only exchanges are the two adjacency joins, and the
    explode is a narrow in-partition fan-out.

    For pathological graphs beyond the array comfort zone (out-deg bound
    √m means ~10^6-element arrays at m = 10^12), the previous wedge-join
    formulation is :func:`_oriented_triangles_wedge`, kept as the
    documented fallback; both emit the same rows.
    """
    o = _oriented_edges(und).select("u", "v")
    adj = o.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    return (
        o.join(adj.select("u", F.col("nbrs").alias("nu")), "u")
        .join(adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv")), "v")
        .select(
            F.col("u").alias("wu"),
            F.col("v").alias("wv"),
            F.explode(F.array_intersect("nu", "nv")).alias("ww"),
        )
    )


def _oriented_triangles_wedge(und: DataFrame) -> DataFrame:
    """Wedge self-join formulation of :func:`_oriented_triangles` (the
    pre-round-5 default, kept as the fallback for graphs whose √m
    out-degree bound makes per-node adjacency arrays impractically wide):
    join the oriented edge list with itself on the wedge apex (mass ≤
    m^1.5), close each wedge against the edge list. Emits the same
    triangle rows as the array formulation (columns ordered wv, ww, wu —
    consumers select by name)."""
    o = _oriented_edges(und)
    x = o.select(F.col("u").alias("wu"), F.col("v").alias("wv"), F.col("rkv").alias("wrk"))
    y = o.select(F.col("u").alias("yu"), F.col("v").alias("ww"), F.col("rkv").alias("yrk"))
    wedges = x.join(
        y, (F.col("wu") == F.col("yu")) & (F.col("wrk") < F.col("yrk"))
    ).select("wu", "wv", "ww")
    closing = o.select(F.col("u").alias("wv"), F.col("v").alias("ww"))
    return wedges.join(closing, ["wv", "ww"])


#: session-scoped memo of enumerated triangle frames, keyed by the SEMANTIC
#: plan of the canonical undirected edge list (``sameSemantics`` — two
#: independently-built lambdas over the same parquet scan share one entry).
#: The m^1.5 wedge-join enumeration is the dominant cost of the triangle
#: family (~16 s of the sf0.1 co-purchase graph); its OUTPUT is small
#: (3 node ids per triangle), so persisting it is the textbook
#: recompute-vs-cache win — the opposite profile of the dedup shingle
#: frame whose persist was A/B-rejected (multi-GB cache starving join
#: memory). Bounded LRU; assumes source tables are immutable within a
#: session (true for the repo's parquet-scan lineages — same contract as
#: Spark's own ``persist``).
_TRI_CACHE: list[tuple[DataFrame, DataFrame]] = []
_TRI_CACHE_MAX = 4


def clear_triangle_cache() -> None:
    while _TRI_CACHE:
        _, t = _TRI_CACHE.pop()
        t.unpersist()


def _oriented_triangles_cached(und: DataFrame) -> DataFrame:
    """Memoizing front of :func:`_oriented_triangles`: the first consumer
    (e.g. ``triangle_count``) pays the wedge-join enumeration and persists
    the triangle frame; every later consumer with a semantically-identical
    edge list (e.g. ``ktruss`` over the same co-purchase graph) reuses it
    — r4 review's top bench item (the two queries each paid the same
    enumeration)."""
    for u, t in _TRI_CACHE:
        try:
            if und.sameSemantics(u):
                return t
        except Exception:  # cross-session frame or plan not comparable
            continue
    tri = _oriented_triangles(und).persist()
    _TRI_CACHE.append((und, tri))
    if len(_TRI_CACHE) > _TRI_CACHE_MAX:
        _, old = _TRI_CACHE.pop(0)
        old.unpersist()
    return tri


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph
    ``edges(a, b)`` — the local clustering signal for KG quality audits
    (no reference counterpart: corpus-scale graph statistics).

    Node-iterator++ with DEGREE ORIENTATION: every undirected edge is
    directed from its lower-(degree, node) endpoint to the higher one, so
    each triangle is counted exactly once (at its lowest-rank corner) and
    — the scale property — the out-degree of every node is O(√m) on ANY
    graph, bounding the wedge-join mass by m^1.5 instead of Σ deg² (a
    mega-hub contributes almost no wedges because nearly all its edges
    point INTO it). The rank is a single zero-padded string (deg, node) —
    plain column comparisons, engine-portable, no struct ordering.

    Rank encoding A/B'd and packed-BIGINT REJECTED (sf0.1 co-purchase
    graph, interleaved, warm: string 13.7 s vs long 13.7 s — the wedge
    join is probe-bound, not key-byte-bound; same verdict as the closure
    loop's long-encoding A/B). Any total order gives identical counts, so
    the encoding is purely internal.

    Plan: two shuffles to build degrees/orientation, one self-join on the
    wedge apex (bounded by orientation), one closing-edge equi-join, one
    count aggregate. AQE handles residual skew on the apex key.

    Output: (node, n_triangles) for nodes in ≥1 triangle.
    """
    und = _canonical_undirected(edges)
    tri = _oriented_triangles_cached(und)
    corners = (
        tri.select(F.col("wu").alias("node"))
        .unionByName(tri.select(F.col("wv").alias("node")))
        .unionByName(tri.select(F.col("ww").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def kcore(edges: DataFrame, k: int = 3, rounds: int = 12) -> DataFrame:
    """Nodes of the k-core (maximal subgraph where every node has degree
    ≥ k), by synchronous peeling — the dense-subgraph filter for KG
    quality audits (peripheral entities fall away; what remains is the
    richly-attested core). Same bounded-round determinism contract as
    :func:`pagerank`: exactly ``rounds`` synchronous prune passes (each
    pass removes ALL nodes currently under-degree, recomputes degrees,
    repeats), converging early when a pass removes nothing. On any input
    whose peel depth exceeds ``rounds`` the result is the (documented)
    round-capped superset — callers raise ``rounds`` for pathological
    chains; the oracle unrolls the identical count.

    Scale posture: each pass is one map-side-combinable degree aggregate
    + one semi-join of the edge list against the surviving nodes — the
    edge frame shrinks monotonically; lineage cut with lazy
    localCheckpoints, one materializing count per pass (the convergence
    probe). Output: (node, deg) — the degree within the final core.
    """
    e = _canonical_undirected(edges).localCheckpoint(eager=False)
    n_prev = -1
    for _ in range(rounds):
        keep = _degrees(e).filter(F.col("deg") >= k).select("node").localCheckpoint(eager=False)
        n = keep.count()
        if n == n_prev:
            break
        n_prev = n
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
    return _degrees(e).filter(F.col("deg") >= k)


def label_propagation(edges: DataFrame, rounds: int = 6) -> DataFrame:
    """Synchronous label-propagation communities over an undirected graph
    ``edges(src, dst)`` — the soft entity-clustering complement to the
    hard connected components of canonicalization (CC merges everything
    reachable; LPA finds densely-linked neighborhoods inside a component).

    Deterministic by construction (no random visit order): every round,
    EVERY node simultaneously adopts the most frequent label among its
    neighbors, ties broken by the smallest label; exactly ``rounds``
    synchronous rounds (label oscillation on bipartite structures makes
    "run to convergence" ill-defined — the bounded-round contract is the
    determinism contract, same as :func:`pagerank`). Labels start as the
    node's own id.

    Scale posture: each round is one join of the label frame against the
    symmetrized edge list (shuffle on the neighbor key, AQE splits hub
    skew) + one map-side-combinable (node, label) count + one per-node
    window top-1 (the argmax; partition = node, bounded by degree);
    lineage cut per round with lazy checkpoints.

    Output: (node, label) after the final round.
    """
    from pyspark.sql import Window

    sym = _symmetrized(edges)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("node").orderBy(F.col("n").desc(), F.col("label").asc())
    for _ in range(rounds):
        nbr = sym.join(
            labels.select(F.col("node").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("node"), "label")
        counts = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("n"))
        labels = (
            counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("node", "label")
            .localCheckpoint(eager=False)
        )
        labels.count()
    return labels


def personalized_pagerank(
    edges: DataFrame, seeds: DataFrame, iters: int = 10, damping: float = 0.85
) -> DataFrame:
    """Personalized PageRank: teleport mass returns to the SEED set instead
    of spreading uniformly — relevance of every entity *to the seeds*
    (query-anchored KG ranking / related-entity retrieval), where global
    :func:`pagerank` measures importance in the abstract.

    Same engine-exact nano-rank arithmetic contract as :func:`pagerank`
    (BIGINT nanos, integer-division contributions, IEEE-double teleport
    and damping terms): initial mass ``floor(1e9 / |S|)`` on each seed,
    zero elsewhere; per round ``r'(v) = [v ∈ S]·floor((1-d)·1e9/|S|) +
    floor(d·Σ contrib)``. Dangling mass is not redistributed (same
    documented leak as the global variant). Same plan shape per iteration:
    one source-key join (AQE splits hub skew), one map-side-combinable
    destination aggregate, 1-row broadcasts for the seed count.
    """
    e, nodes = _rank_graph(edges)
    sd = seeds.select("node").distinct()
    marked = nodes.join(
        sd.withColumn("is_seed", F.lit(1)), "node", "left"
    ).localCheckpoint(eager=False)
    ns = sd.join(nodes, "node", "left_semi").agg(F.count(F.lit(1)).alias("n_seeds"))
    ranks = marked.crossJoin(F.broadcast(ns)).select(
        "node",
        F.when(
            F.col("is_seed").isNotNull(),
            F.floor(F.lit(float(PR_SCALE)) / F.col("n_seeds")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r_nano"),
    )
    teleport_nano = (1.0 - damping) * PR_SCALE  # python double, mirrored in the oracle
    teleport = F.when(
        F.col("is_seed").isNotNull(), F.floor(F.lit(teleport_nano) / F.col("n_seeds"))
    ).otherwise(F.lit(0))
    return _rank_iterations(e, ranks, marked, ns, teleport, iters, damping)


def ktruss(edges: DataFrame, k: int = 4, rounds: int = 6) -> DataFrame:
    """Edges of the k-truss (maximal subgraph where every edge sits in
    ≥ k-2 triangles), by synchronous support peeling — the edge-level
    sharpening of :func:`kcore` (cores keep hub spokes; trusses keep only
    edges embedded in dense mutual-neighbor structure, the classic
    community-backbone filter for KG audits).

    Same bounded-round determinism contract as :func:`kcore`: each pass
    computes per-edge triangle support on the CURRENT subgraph, removes
    ALL edges under-support simultaneously, and repeats, converging early
    when a pass removes nothing (extra rounds after the fixed point are
    no-ops, so early exit is result-identical to the oracle's fixed
    unroll). On inputs whose peel depth exceeds ``rounds`` the result is
    the documented round-capped superset.

    INCREMENTAL TRIANGLE MAINTENANCE (round 4 — the r3 review's top perf
    target): the degree-oriented wedge-join enumeration (mass ≤ m^1.5 —
    see :func:`_oriented_triangles`) runs exactly ONCE, on the initial
    graph. Each subsequent wave restricts the persisted triangle list to
    triangles whose three edges all survived (triangles of a subgraph
    ARE the surviving-edge triangles of the parent — exact, not an
    approximation) and re-aggregates support from that shrunken frame.
    The restriction is three hash semi-joins of the triangle frame
    against the surviving edge list; after the first wave the survivor
    frame is small (the first wave removes the bulk of a skewed graph),
    the frames are localCheckpointed so AQE sees real sizes, and the
    semi-joins execute as broadcast hash joins — no shuffle of the
    triangle frame, no repeated m^1.5 wedge join. Same-host A/B at sf0.1
    (1.196M edges, 1.88M triangles, 12-truss): re-enumerating 46.0 s →
    incremental 29 s warm, identical 9,790-edge output; the one-time
    16 s enumeration is the remaining floor.

    Scale posture: one enumeration up front (shared with
    ``triangle_count`` via the session cache); per wave, three broadcast
    semi-joins restricting the (monotonically shrinking) triangle frame,
    one explode + map-side-combinable (edge → support) count — and
    NOTHING else: every triangle side is a canonical alive edge by
    construction, so no join back to the edge list is needed (round 5 —
    the old per-wave edge join shuffled 1.2M rows to change nothing).
    Lineage cut with lazy localCheckpoints, one materializing count per
    wave (the convergence probe). sf0.1 decomposition: enumeration ~8 s
    (cached), wave 0 ~4 s, waves shrink geometrically.

    Output: (a, b, support) — surviving canonical edges with their
    support in the final subgraph (support ≥ k-2 after convergence).
    Edges in zero triangles never acquire a support row and drop in the
    first wave (same semantics as the oracle's inner join); with
    k ≤ 2 this returns only the triangle-touched subset of the
    trivially-true truss — use k ≥ 3.
    """
    if rounds < 1:
        raise ValueError(f"ktruss needs rounds >= 1, got {rounds}")
    min_sup = k - 2
    und = _canonical_undirected(edges)
    e = und.localCheckpoint(eager=False)
    _TRI_EDGES = [("a1", "b1"), ("a2", "b2"), ("a3", "b3")]
    # enumerate from the UN-checkpointed plan so the session triangle
    # cache hits when triangle_count already ran on this edge set (the
    # checkpointed twin would have an opaque, never-matching plan). No
    # extra checkpoint here: the shared frame is already persisted by the
    # cache — a second localCheckpoint would double-store the 6-column
    # projection (wave-1's semi-join output is checkpointed below, so
    # lineage is cut after one derivation either way).
    tri = _oriented_triangles_cached(und).select(
        F.least("wu", "wv").alias("a1"),
        F.greatest("wu", "wv").alias("b1"),
        F.least("wu", "ww").alias("a2"),
        F.greatest("wu", "ww").alias("b2"),
        F.least("wv", "ww").alias("a3"),
        F.greatest("wv", "ww").alias("b3"),
    )
    kept = e.withColumn("support", F.lit(0).cast("long"))
    n_prev = -1
    for i in range(rounds):
        if i > 0:
            for ac, bc in _TRI_EDGES:
                tri = tri.join(
                    e.select(F.col("a").alias(ac), F.col("b").alias(bc)), [ac, bc], "left_semi"
                )
            tri = tri.localCheckpoint(eager=False)
        # one explode pass over the triangle frame (not a 3-scan union),
        # then the support aggregate. No join back to the edge list
        # (round 5): every side of a triangle IS a canonical alive edge —
        # wave 0 by construction (triangles come from e), later waves
        # because the semi-join restriction keeps only triangles whose
        # three edges survived — so supp's keys are exactly the
        # triangle-touched alive edges and the old e-join was a per-wave
        # 1.2M-row shuffle that changed nothing (zero-triangle edges drop
        # either way, the documented inner-join semantics).
        sides = tri.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.col(ac).alias("a"), F.col(bc).alias("b"))
                        for ac, bc in _TRI_EDGES
                    ]
                )
            ).alias("s")
        ).select("s.a", "s.b")
        supp = sides.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
        kept = supp.filter(F.col("support") >= min_sup).localCheckpoint(eager=False)
        n = kept.count()
        e = kept.select("a", "b")
        if n == n_prev:
            break
        n_prev = n
    return kept


def adamic_adar(edges: DataFrame, max_center_degree: int = 64) -> DataFrame:
    """Adamic–Adar link prediction over an undirected graph: for every
    non-adjacent pair (a, b) with ≥1 common neighbor, score
    ``Σ_w 1/ln(deg(w))`` over the common neighbors w — the classic
    missing-link signal for KG completion (which entity pairs the graph
    implies but never asserts).

    Engine-exact arithmetic: each wedge center contributes
    ``floor(1e9 / ln(deg(w)))`` integer nanos, summed as BIGINT — the
    same order-free determinism contract as :func:`pagerank`'s nano-rank
    (float summation order never touches the result; a DOUBLE projection
    of the nano sum is emitted for consumers).

    Scale posture: wedges are enumerated from their CENTER, so the join
    mass is ``Σ_{deg(w) ≤ cap} deg(w)²`` — hub centers above
    ``max_center_degree`` are EXCLUDED (documented, mirrored by the
    oracle), the standard cap that keeps candidate volume linear in m at
    a fixed cap; hubs still participate as pair endpoints. One degree
    aggregate, one capped self-join on the center key (AQE splits
    residual skew), one map-side-combinable pair aggregate, one LeftAnti
    against the edge list (existing edges are not candidates).

    Output: (a, b, n_common, aa_nano, aa_score).
    """
    und = _canonical_undirected(edges)
    centers = _degrees(und).filter(
        (F.col("deg") >= 2) & (F.col("deg") <= max_center_degree)
    ).select(
        F.col("node").alias("w"),
        F.floor(F.lit(1e9) / F.log(F.col("deg").cast("double"))).cast("long").alias("nano"),
    )
    adj = und.select(F.col("a").alias("w"), F.col("b").alias("x")).unionByName(
        und.select(F.col("b").alias("w"), F.col("a").alias("x"))
    )
    inc = adj.join(centers, "w")
    pairs = (
        inc.alias("l")
        .join(inc.alias("r"), (F.col("l.w") == F.col("r.w")) & (F.col("l.x") < F.col("r.x")))
        .select(
            F.col("l.x").alias("a"),
            F.col("r.x").alias("b"),
            F.col("l.nano").alias("nano"),
        )
    )
    cand = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_common"), F.sum("nano").alias("aa_nano")
    )
    return cand.join(und, ["a", "b"], "left_anti").select(
        "a",
        "b",
        "n_common",
        "aa_nano",
        F.round(F.col("aa_nano") / F.lit(1e9), 9).alias("aa_score"),
    )


def random_walks(
    edges: DataFrame, walk_len: int = 4, n_walks: int = 2, seed: str = "walk"
) -> DataFrame:
    """Deterministic uniform random walks over the symmetrized graph —
    the DeepWalk/node2vec corpus generator (walks are the "sentences" a
    skip-gram embedding trains on), made reproducible for a distributed
    setting: the step from node u is the neighbor v minimizing
    ``md5(seed|walk_id|step|u|v)`` — a per-(walk, step, node) pseudo-
    random draw that is pure column arithmetic, identical on every
    engine, and independent of partitioning/visit order (the same
    md5-rank device as the khop_sample neighbor cap).

    Scale posture: walk state is one row per (start, walk_id); each of
    the ``walk_len`` steps is one join of the state frame against the
    symmetrized edge list on the current node (shuffle on the node key,
    AQE splits hub skew) + one map-side-combinable min aggregate over
    ``md5 || '|' || v`` (fixed 32-hex prefix, so the winning neighbor is
    recovered by substring — no struct min, stays hash-aggregatable).
    Lineage cut per step with lazy checkpoints. Symmetrization means
    every node has ≥1 neighbor, so walks never dangle.

    Output: (walk_id, start, step, node), steps 0..walk_len.
    """
    sym = _symmetrized(edges)
    starts = (
        sym.select(F.col("src").alias("start"))
        .distinct()
        # walk ids fan out by exploding an n_walks-element array literal —
        # pure projection, no join in the plan
        .select(
            "start",
            F.explode(F.array(*[F.lit(i) for i in range(n_walks)])).alias("wk"),
        )
        .select(
            F.concat(
                F.col("start").cast("string"), F.lit("#"), F.col("wk").cast("string")
            ).alias("walk_id"),
            F.col("start").cast("string").alias("start"),
        )
    )
    cur = starts.select(
        "walk_id", "start", F.lit(0).alias("step"), F.col("start").alias("node")
    )
    frames = [cur]
    for step in range(1, walk_len + 1):
        draw = F.concat(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(seed),
                    F.col("walk_id"),
                    F.lit(str(step)),
                    F.col("node"),
                    F.col("dst").cast("string"),
                )
            ),
            F.lit("|"),
            F.col("dst").cast("string"),
        )
        nxt = (
            cur.join(sym, cur["node"] == sym["src"])
            .groupBy("walk_id", "start")
            .agg(F.min(draw).alias("pick"))
            .select(
                "walk_id",
                "start",
                F.lit(step).alias("step"),
                F.expr("substring(pick, 34)").alias("node"),
            )
            .localCheckpoint(eager=False)
        )
        frames.append(nxt)
        cur = nxt
    res = frames[0]
    for f in frames[1:]:
        res = res.unionByName(f)
    return res
