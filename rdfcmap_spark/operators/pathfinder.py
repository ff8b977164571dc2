"""``--pathfinder`` report product (SURVEY.md §0 table / G2 report).

The reference (`path/PathFinder.java:52-178`) lists, for every instance
concept in a map, the shortest path from the **root node** to it:

* root detection: the one ``urn:uuid:`` concept whose visualization twin
  (IRI with ``urn:uuid:`` replaced by the ``afv:`` prefix) has an
  ``afv:hasBorder`` node with ``afv:shape "oval"`` (`extractRootNode:
  266-302`) — loud failure when absent;
* targets: every other ``urn:uuid:`` concept whose twin is typed
  ``afv:Concept`` (`extractInstances:304-341`);
* per target, Jena ``OntTools.findShortestPath`` over directed statements,
  then two report sections — *instance graphs* (labels along the path) and
  *type graphs* (each hop's ``rdf:type`` labels prepended in parentheses) —
  each passed through ``sortAndReorder`` (`:164-178`): lines sort
  alphabetically, then the ``#hops = N`` suffix moves to the front as
  ``#hops = N\\t<path>``;
* labels resolve dct:title (unbroken) ▷ skos:prefLabel ▷ rdfs:label ▷
  ``prefix:localName`` (`getResourceLabel:374-397`).

Spark re-architecture: the reference runs one Jena BFS **per target**
(O(targets × edges) on one thread). Here ONE distributed frontier BFS from
the root computes a parent-pointer table for every reachable node
(O(edges × diameter) total, all shuffles keyed on node), shared by all
targets; label resolution is a single aggregation. Path reconstruction and
text rendering are driver-side — the product is a human-readable report
(the reference writes a ``.txt``), never a batch input, and the collect is
size-gated loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rdfcmap_spark import vocab
from rdfcmap_spark.functions.normalize import unbreak_py
from rdfcmap_spark.operators.graph import expand

AFV_HAS_BORDER = vocab.AFV + "hasBorder"
AFV_SHAPE = vocab.AFV + "shape"
AFV_CONCEPT = vocab.AFV + "Concept"
URN_UUID = "urn:uuid:"

#: driver-side report gate: the pathfinder product is a human-readable
#: listing; refuse to render one bigger than this (see module docstring)
MAX_REPORT_NODES = 1_000_000


def viz_twin(iri_col):
    """instance IRI -> visualization twin (CmapUtil.URN_UUID -> afv: prefix,
    `PathFinder.java:283`)."""
    return F.concat(F.lit(vocab.AFV), F.substring(iri_col, len(URN_UUID) + 1, 10_000))


def detect_root(triples: DataFrame) -> str:
    """The unique oval-border concept (`extractRootNode:266-302`)."""
    subjects = (
        triples.filter(F.col("subj").startswith(URN_UUID))
        .select(F.col("subj").alias("node"))
        .distinct()
        .withColumn("twin", viz_twin(F.col("node")))
    )
    borders = triples.filter(F.col("pred") == AFV_HAS_BORDER).select(
        F.col("subj").alias("twin"), F.col("obj_iri").alias("border")
    )
    ovals = triples.filter(
        (F.col("pred") == AFV_SHAPE) & (F.col("obj_lexical") == "oval")
    ).select(F.col("subj").alias("border"))
    roots = (
        subjects.join(borders, "twin").join(ovals, "border")
        .select("node")
        .orderBy("node")
        .collect()
    )
    if not roots:
        raise ValueError("No root node found (with oval border).")
    return roots[0]["node"]


def instance_targets(triples: DataFrame, root: str) -> DataFrame:
    """Every other urn:uuid concept whose viz twin is typed afv:Concept
    (`extractInstances:304-341`)."""
    subjects = (
        triples.filter(F.col("subj").startswith(URN_UUID) & (F.col("subj") != root))
        .select(F.col("subj").alias("node"))
        .distinct()
        .withColumn("twin", viz_twin(F.col("node")))
    )
    concepts = triples.filter(
        (F.col("pred") == vocab.RDF_TYPE) & (F.col("obj_iri") == AFV_CONCEPT)
    ).select(F.col("subj").alias("twin"))
    return subjects.join(concepts, "twin").select("node")


def bfs_parent_tree(edges: DataFrame, root: str, max_hops: int = 20) -> DataFrame:
    """ONE directed BFS from ``root`` -> (node, hops, parent, pred) for every
    reachable node. First-visit parent pinned by (pred, parent) order so the
    reported path is deterministic at any parallelism (the reference inherits
    Jena's incidental statement order here — SURVEY §2.5 first-match
    disposition)."""

    def step(frontier: DataFrame, hop: int) -> DataFrame:
        return frontier.select(F.col("node").alias("src")).join(edges, "src").select(
            F.col("dst").alias("node"),
            F.lit(hop).alias("hops"),
            F.col("src").alias("parent"),
            "pred",
        )

    root_row = edges.sparkSession.createDataFrame(
        [(root, 0, None, None)], "node string, hops int, parent string, pred string"
    )
    return expand(root_row, step, ["node"], max_hops, first=["pred", "parent"])


def resource_labels(triples: DataFrame) -> DataFrame:
    """(node, label) by the `getResourceLabel:374-397` precedence:
    dct:title (unbroken) ▷ skos:prefLabel ▷ rdfs:label, first-match within a
    rank by lexical order (Jena's ``getProperty`` returns an arbitrary
    statement; we pin the total order). Nodes with none fall back to
    prefix:localName at render time."""
    ranked = (
        triples.filter(
            F.col("pred").isin(vocab.DCT_TITLE, vocab.SKOS_PREF_LABEL, vocab.RDFS_LABEL)
            & (F.col("obj_kind") == "literal")
        )
        .select(
            F.col("subj").alias("node"),
            F.when(F.col("pred") == vocab.DCT_TITLE, 0)
            .when(F.col("pred") == vocab.SKOS_PREF_LABEL, 1)
            .otherwise(2)
            .alias("rank"),
            F.col("obj_lexical").alias("label"),
        )
    )
    w = Window.partitionBy("node").orderBy("rank", "label")
    return (
        ranked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("node", "rank", "label")
    )


def _qname_fallback(iri: str) -> str:
    for prefix, ns in sorted(vocab.NS_PREFIX_MAP.items(), key=lambda kv: -len(kv[1])):
        if iri.startswith(ns) and iri != ns:
            return f"{prefix}:{iri[len(ns):]}"
    # reference renders namespaceMap.get(ns) + ":" + localName; unknown
    # namespaces fall back to the IRI's local name
    return iri.rsplit("#", 1)[-1].rsplit("/", 1)[-1]


def _sort_and_reorder(lines: list[str]) -> list[str]:
    """`sortAndReorder:164-178`: sort alphabetically, then move the
    ``#hops = N`` suffix to the front, tab-separated."""
    out = []
    for line in sorted(lines):
        idx = line.index("#hops = ")
        # the reference excludes the trailing newline from the hops prefix
        # (`graph.substring(hopsIndex, graph.length() - 1)`)
        hops, body = line[idx:].rstrip("\n"), line[:idx]
        out.append(f"{hops}\t{body}")
    return out


def pathfinder_report(triples: DataFrame, max_hops: int = 20) -> DataFrame:
    """Full ``--pathfinder`` product as rows (section, line_no, line) —
    section in {'instance', 'type'}, line_no the final sorted position. The
    text file the reference writes is ``"Instance graphs:\\n" + instance
    lines + "Type graphs:\\n" + type lines`` (`listGraphs:105-113`,
    rendered by :func:`render_report`)."""
    spark = triples.sparkSession
    root = detect_root(triples)
    targets = sorted(r["node"] for r in instance_targets(triples, root).collect())

    edges = (
        triples.filter(F.col("obj_kind") != "literal")
        .select(F.col("subj").alias("src"), "pred", F.col("obj_iri").alias("dst"))
        .localCheckpoint()
    )
    tree = bfs_parent_tree(edges, root, max_hops)
    n_tree = tree.count()
    if n_tree > MAX_REPORT_NODES:
        raise ValueError(
            f"pathfinder report over {n_tree} reachable nodes exceeds the "
            f"human-readable gate ({MAX_REPORT_NODES}); this is a report "
            "product, not a batch operator"
        )
    parent_of = {r["node"]: (r["parent"], r["pred"], r["hops"]) for r in tree.collect()}
    label_rows = resource_labels(triples).collect()
    unbroken = {
        r["node"]: (unbreak_py(r["label"]) if r["rank"] == 0 else r["label"])
        for r in label_rows
    }
    types: dict[str, list[str]] = {}
    for r in (
        triples.filter((F.col("pred") == vocab.RDF_TYPE) & (F.col("obj_kind") == "iri"))
        .select("subj", "obj_iri")
        .collect()
    ):
        if r["obj_iri"] != vocab.OWL_NAMED_INDIVIDUAL:
            types.setdefault(r["subj"], []).append(r["obj_iri"])

    def label_of(node: str) -> str:
        return unbroken.get(node, _qname_fallback(node))

    def type_labels(node: str) -> str:
        # createTypeLabels:180-218 — sorted, comma-joined, NamedIndividual
        # skipped; label is the qname (prefLabel suffix only for AFT
        # namespaces, none of which appear in instance maps here)
        tl = sorted({_qname_fallback(t) for t in types.get(node, [])})
        return ",".join(tl)

    inst_lines: list[str] = []
    type_lines: list[str] = []
    per_target: list[tuple[str, int]] = []
    for target in targets:
        if target not in parent_of:
            body = (
                f"No path found from {label_of(root)} to {label_of(target)} <{target}>"
            )
            inst_lines.append(f"{body}#hops = 0\n")
            type_lines.append(f"{body}#hops = 0\n")
            per_target.append((target, 0))
            continue
        # backtrack target -> root over the shared parent tree
        steps: list[tuple[str, str, str]] = []
        node = target
        while node != root:
            parent, pred, _ = parent_of[node]
            steps.append((parent, pred, node))
            node = parent
        steps.reverse()
        hops = len(steps)
        per_target.append((target, hops))
        ib, tb = [], []
        for i, (s, p, o) in enumerate(steps):
            last = i == len(steps) - 1
            ib.append(f"{label_of(s)}\t{_qname_fallback(p)}\t" + (label_of(o) if last else ""))
            tline = f"{type_labels(s)}({label_of(s)})\t{_qname_fallback(p)}\t"
            if last:
                tline += f"{type_labels(o)}({label_of(o)})"
            tb.append(tline)
        inst_lines.append("".join(ib) + f"#hops = {hops}\n")
        type_lines.append("".join(tb) + f"#hops = {hops}\n")

    rows = []
    for section, lines in (("instance", inst_lines), ("type", type_lines)):
        for i, line in enumerate(_sort_and_reorder(lines)):
            rows.append((section, i, line.rstrip("\n")))
    return spark.createDataFrame(rows, "section string, line_no int, line string")


def render_report(report: DataFrame) -> str:
    """Rows -> the exact text `PathFinder.write:398-407` emits."""
    rows = report.orderBy("section", "line_no").collect()
    inst = [r["line"] for r in rows if r["section"] == "instance"]
    typ = [r["line"] for r in rows if r["section"] == "type"]
    return (
        "Instance graphs:\n" + "".join(l + "\n" for l in inst)
        + "Type graphs:\n" + "".join(l + "\n" for l in typ)
    )
