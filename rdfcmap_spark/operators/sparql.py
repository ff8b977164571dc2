"""SPARQL generation (SURVEY.md §3.3 / G3 product).

The reference turns a marked concept-map subgraph into a SPARQL text query
(`sparql/SparqlCreator.createSparql:108-210`): the source node is flagged
``afv:isSourceNode``, the target ``afv:isTargetNode``; a DFS over non-literal
non-``rdf:type`` statements (forward, then inverse —
`findNeighbour:537-612`, `findNeighbourInverse:614-664`) yields the WHERE
body as BGP lines (`getStatementString:382-439`); the SELECT list is the
target's non-type properties as ``?vars``; unused PREFIX lines are dropped
(`cleanPrefixes:88-106`).

Spark re-architecture: the path search is an **iterative frontier-join BFS**
over an edges DataFrame (the reference's recursive DFS is single-threaded
and stack-bound; BFS over ``edges ∪ reverse(edges)`` finds a shortest
source→target path with a pinned deterministic tie-break, where Jena's
iteration order was incidental — SURVEY §2.5 first-match disposition).
Path reconstruction walks the collected parent table backward on the driver.
Query-text rendering is driver-side (a generated query is human-sized).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfcmap_spark import vocab
from rdfcmap_spark.operators.graph import expand

#: render_sparql collects the full statement list driver-side (the
#: outside-path closure requires it); gate mirrors pathfinder_report's
MAX_QUERY_STATEMENTS = 1_000_000

#: marker predicates (VizUtil.AFV_IS_SOURCE_NODE / AFV_IS_TARGET_NODE)
AFV_IS_SOURCE_NODE = vocab.AFV + "isSourceNode"
AFV_IS_TARGET_NODE = vocab.AFV + "isTargetNode"


def traversal_edges(triples: DataFrame) -> DataFrame:
    """Non-literal, non-``rdf:type`` statements as (src, pred, dst) — the
    edge set the reference's DFS walks (`findNeighbour:556-566`)."""
    return triples.filter(
        (F.col("obj_kind") != "literal") & (F.col("pred") != vocab.RDF_TYPE)
        & ~F.col("pred").isin(AFV_IS_SOURCE_NODE, AFV_IS_TARGET_NODE)
    ).select(F.col("subj").alias("src"), "pred", F.col("obj_iri").alias("dst"))


def marked_nodes(triples: DataFrame) -> tuple[str, str]:
    """(source, target) from the afv marker literals; loud failure when
    missing, matching `SparqlCreator.java:132,154`."""
    rows = (
        triples.filter(
            F.col("pred").isin(AFV_IS_SOURCE_NODE, AFV_IS_TARGET_NODE)
            & (F.col("obj_lexical") == "true")
        )
        .select("pred", "subj")
        .collect()
    )
    src = sorted(r["subj"] for r in rows if r["pred"] == AFV_IS_SOURCE_NODE)
    tgt = sorted(r["subj"] for r in rows if r["pred"] == AFV_IS_TARGET_NODE)
    if not src:
        raise ValueError("Missing source node for SPARQL query (afv:isSourceNode true)")
    if not tgt:
        raise ValueError("Missing target node for SPARQL query (afv:isTargetNode true)")
    return src[0], tgt[0]


def path_statements(
    edges: DataFrame, source: str, target: str, max_hops: int = 20
) -> DataFrame:
    """Shortest source→target path over ``edges ∪ reverse(edges)`` as BGP
    statement rows (step, subj, pred, obj, direction).

    BFS with frontier joins; first-visit parent chosen by the total order
    (pred, direction, parent) so the path is deterministic at any
    parallelism. ``direction='inverse'`` statements are emitted in their
    original orientation (the reference renders the statement as stored,
    regardless of which way the DFS crossed it).
    """
    spark = edges.sparkSession
    fwd = edges.select("src", "pred", "dst", F.lit("forward").alias("direction"))
    rev = edges.select(
        F.col("dst").alias("src"), "pred", F.col("src").alias("dst"),
        F.lit("inverse").alias("direction"),
    )
    und = fwd.unionByName(rev).localCheckpoint()

    def step(frontier: DataFrame, hop: int) -> DataFrame:
        return frontier.select(F.col("node").alias("src")).join(und, "src").select(
            F.col("dst").alias("node"),
            F.lit(hop).alias("hop"),
            F.col("src").alias("parent"),
            "pred",
            "direction",
        )

    visited = spark.createDataFrame(
        [(source, 0, None, None, None)],
        "node string, hop int, parent string, pred string, direction string",
    )
    if source != target:
        visited = expand(
            visited, step, ["node"], max_hops,
            first=["pred", "direction", "parent"],
            stop=lambda new: not new.filter(F.col("node") == target).isEmpty(),
        )
    vrows = {r["node"]: r for r in visited.collect()}
    if target not in vrows:
        raise ValueError("Could not find path from source to target.")

    # backtrack target -> source; each step is a 1-row lookup in the small
    # visited table (path length <= max_hops)
    steps = []
    node = target
    while node != source:
        r = vrows[node]
        if r["direction"] == "forward":
            steps.append((r["parent"], r["pred"], node, "forward"))
        else:
            steps.append((node, r["pred"], r["parent"], "inverse"))
        node = r["parent"]
    steps.reverse()
    rows = [(i, s, p, o, d) for i, (s, p, o, d) in enumerate(steps)]
    return spark.createDataFrame(
        rows, "step int, subj string, pred string, obj string, direction string"
    )


# ---------------------------------------------------------------------------
# rendering (driver-side; a generated query is human-sized)
# ---------------------------------------------------------------------------


@dataclass
class RenderedSparql:
    text: str
    select_vars: list[str]
    body_lines: list[str]  #: path BGP + (by default) path-subject property statements
    where_lines: list[str] = None  # type: ignore[assignment]  #: full WHERE body


def _var_name(label: str, used: set[str]) -> str:
    """Sanitize a property label into a legal, unique SPARQL variable:
    non-VARNAME characters -> '_', non-alpha leading char prefixed, repeats
    suffixed with a counter (two predicates sharing a label must not collapse
    into one ?var)."""
    import re as _re

    v = _re.sub(r"[^A-Za-z0-9_]", "_", label)
    if not _re.match(r"^[A-Za-z_]", v):
        v = "v" + v
    base, k = v, 1
    while v in used:
        v = f"{base}_{k}"
        k += 1
    used.add(v)
    return "?" + v


def _qname(iri: str, var_of: dict[str, str]) -> str:
    """prefix:local / ?var_N rendering (`getPrefixedString:452-535` + the
    A5 uri2node variable numbering `SparqlCreator.java:466-476`)."""
    if iri in var_of:
        return var_of[iri]
    if iri.startswith("urn:uuid:"):
        var_of[iri] = f"?node{len(var_of)}"
        return var_of[iri]
    for prefix, ns in sorted(vocab.NS_PREFIX_MAP.items(), key=lambda kv: -len(kv[1])):
        if iri.startswith(ns) and iri != ns:
            return f"{prefix}:{iri[len(ns):]}"
    return f"<{iri}>"


def clean_prefixes(sparql: str) -> str:
    """Drop PREFIX lines whose prefix occurs nowhere else in the query
    (`cleanPrefixes:88-106` — count includes the PREFIX line itself).

    Deviation from the reference: occurrences are counted with a boundary
    guard (``(?<![A-Za-z0-9_\\-])prefix:``). The reference's raw substring
    count keeps e.g. ``cl:`` alive because ``shacl:`` contains it — with our
    larger prefix dictionary that false positive would keep most of the
    header."""
    import re as _re

    lines = sparql.split("\n")
    out = []
    for line in lines:
        if line.lower().startswith("prefix "):
            prefix = line.split(" ")[1]
            n = len(_re.findall(r"(?<![A-Za-z0-9_\-])" + _re.escape(prefix), sparql))
            if n <= 1:
                continue
        out.append(line)
    return "\n".join(out)


def _literal_str(lex: str, dt: str | None) -> str:
    """`getLiteralString:442-450`: ``"lex"^^xsd:dt`` (xsd namespace
    compacted); lang-tag fold (schemas.py) renders the Turtle ``@tag``."""
    lang_prefix = vocab.RDF + "langString@"
    if dt and dt.startswith(lang_prefix):
        return f'"{lex}"@{dt[len(lang_prefix):]}'
    dt = (dt or vocab.XSD_STRING).replace(vocab.XSD, "xsd:")
    return f'"{lex}"^^{dt}'


def render_sparql(
    triples: DataFrame,
    max_hops: int = 20,
    include_path_properties: bool = True,
    skip_nodes_outside_path: bool = False,
) -> RenderedSparql:
    """Marked subgraph -> full SPARQL text (signature, prefixes, SELECT of
    the target's non-type properties as vars, BGP body from the BFS path,
    target property lines, prefix cleanup).

    Flag semantics follow the reference defaults (`RdfCmap.java:135,137`,
    both true):

    * ``include_path_properties`` — after each path statement, every other
      statement of that statement's subject joins the WHERE body
      (`createGraphString:324-380`), except same-predicate repeats, marker
      predicates, ``rdf:type owl:NamedIndividual``, and literal properties
      of the target node (those become the queried ``?vars``).
    * ``skip_nodes_outside_path=False`` (the ``--skipnodesoutsidepath``
      default) — every statement of the model not yet covered joins the body
      too (`createGraphStringForUnhandledNodes:215-299`), excluding
      target-subject statements, markers and NamedIndividual typing.

    The statement walk is driver-side over the collected model — a concept
    map is human-sized and the product is a text query, exactly the
    reference's own emission; batch paths never call this.
    """
    source, target = marked_nodes(triples)
    edges = traversal_edges(triples).localCheckpoint()
    path = path_statements(edges, source, target, max_hops).collect()

    # SELECT list: target's non-type, non-marker properties as ?vars, in
    # deterministic (pred) order (`SparqlCreator.java:161-178`)
    stmt_df = triples.select(
        "subj", "pred", "obj_kind", "obj_iri", "obj_lexical", "obj_datatype"
    ).localCheckpoint()
    # loud gate, same policy as pathfinder_report's MAX_REPORT_NODES: the
    # outside-path closure needs every statement driver-side, which is only
    # sane for a human-sized concept map — fail clearly instead of silently
    # OOMing the driver if a batch-scale frame is passed by mistake
    n_stmts = stmt_df.count()
    if n_stmts > MAX_QUERY_STATEMENTS:
        raise ValueError(
            f"render_sparql: {n_stmts} statements exceeds the human-readable "
            f"gate ({MAX_QUERY_STATEMENTS}); this generates a text query from "
            "a concept map, not a batch operator"
        )
    stmts = [
        (r["subj"], r["pred"], r["obj_kind"], r["obj_iri"], r["obj_lexical"], r["obj_datatype"])
        for r in stmt_df.collect()
    ]
    tprops = sorted(
        {
            (s[1], s[2])
            for s in stmts
            if s[0] == target
            and s[1] not in (vocab.RDF_TYPE, AFV_IS_SOURCE_NODE, AFV_IS_TARGET_NODE)
        }
    )
    # ?var names from the vocabulary prefLabel when known (getPropertyLabel
    # resolves skos:prefLabel), else the IRI local name; sanitized + deduped
    label_of = {r[0]: r[2] for r in vocab.alias_rows()}
    var_of: dict[str, str] = {}
    used_vars: set[str] = set()
    select_vars = []
    tprop_lines = []
    tgt_q = _qname(target, var_of)
    for pred, _kind in tprops:
        label = label_of.get(pred, pred.rsplit("#", 1)[-1].rsplit("/", 1)[-1])
        var = _var_name(label, used_vars)
        select_vars.append(var)
        tprop_lines.append(f"  {tgt_q} {_qname(pred, var_of)} {var} .")

    markers = (AFV_IS_SOURCE_NODE, AFV_IS_TARGET_NODE)

    def stmt_line(s) -> str:
        subj, pred, okind, oiri, olex, odt = s
        obj = _literal_str(olex, odt) if okind == "literal" else _qname(oiri, var_of)
        return f"  {_qname(subj, var_of)} {_qname(pred, var_of)} {obj} ."

    def skip_common(s) -> bool:
        return s[1] in markers or (
            s[1] == vocab.RDF_TYPE and s[3] == vocab.OWL_NAMED_INDIVIDUAL
        )

    by_subject: dict[str, list] = {}
    for s in sorted(stmts, key=lambda x: (x[1], x[2], x[3] or "", x[4] or "")):
        by_subject.setdefault(s[0], []).append(s)

    handled: set[str] = set()
    body_lines = []
    for r in path:
        line = f"  {_qname(r['subj'], var_of)} {_qname(r['pred'], var_of)} {_qname(r['obj'], var_of)} ."
        if line not in handled:
            handled.add(line)
            body_lines.append(line)
        if include_path_properties:
            # createGraphString:324-380 — the path statement's subject brings
            # its other statements along
            for s in by_subject.get(r["subj"], []):
                if skip_common(s) or s[1] == r["pred"]:
                    continue
                if s[0] == target and s[2] == "literal":
                    continue  # queried as ?vars instead
                line = stmt_line(s)
                if line not in handled:
                    handled.add(line)
                    body_lines.append(line)

    outside_lines: list[str] = []
    if not skip_nodes_outside_path:
        # createGraphStringForUnhandledNodes:215-299
        for s in sorted(stmts, key=lambda x: (x[0], x[1], x[2], x[3] or "", x[4] or "")):
            if s[0] == target or skip_common(s):
                continue
            line = stmt_line(s)
            if line in handled:
                continue
            handled.add(line)
            outside_lines.append(line)
            if include_path_properties:
                for s2 in by_subject.get(s[0], []):
                    if skip_common(s2) or s2[1] == s[1]:
                        continue
                    line2 = stmt_line(s2)
                    if line2 in handled:
                        continue
                    handled.add(line2)
                    outside_lines.append(line2)

    header = [
        "# SPARQL created with rdfcmap-spark",
        *[f"PREFIX {p}: <{ns}>" for p, ns in sorted(vocab.NS_PREFIX_MAP.items())],
        "",
        "select distinct " + " ".join(select_vars) + " where {",
        *body_lines,
        *tprop_lines,
        *outside_lines,
        "}",
    ]
    text = clean_prefixes("\n".join(header)) + "\n"
    return RenderedSparql(
        text=text,
        select_vars=select_vars,
        body_lines=body_lines,
        where_lines=body_lines + tprop_lines + outside_lines,
    )
