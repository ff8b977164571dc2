"""--pathfinder report product (`path/PathFinder.java:52-178`): root
detection by oval border, one-BFS-for-all-targets parent tree, label
precedence, the sortAndReorder `#hops` formatting, and the exact report
text."""

from __future__ import annotations

import pytest

from rdfcmap_spark import vocab
from rdfcmap_spark.operators.pathfinder import (
    detect_root,
    instance_targets,
    pathfinder_report,
    render_report,
)

EX = "http://example.org/"
AAA, BBB, CCC, DDD = (f"urn:uuid:{x}" for x in ("aaa", "bbb", "ccc", "ddd"))


def _t(subj, pred, obj_kind, obj_iri=None, obj_lex=None):
    return (subj, pred, obj_kind, obj_iri, obj_lex, None, None, None)


@pytest.fixture()
def fixture_triples(spark):
    rows = [
        # viz twins: root with oval border; all four typed afv:Concept
        _t(vocab.AFV + "aaa", vocab.AFV + "hasBorder", "iri", vocab.AFV + "border-aaa"),
        _t(vocab.AFV + "border-aaa", vocab.AFV + "shape", "literal", None, "oval"),
        _t(vocab.AFV + "aaa", vocab.RDF_TYPE, "iri", vocab.AFV + "Concept"),
        _t(vocab.AFV + "bbb", vocab.RDF_TYPE, "iri", vocab.AFV + "Concept"),
        _t(vocab.AFV + "ccc", vocab.RDF_TYPE, "iri", vocab.AFV + "Concept"),
        _t(vocab.AFV + "ddd", vocab.RDF_TYPE, "iri", vocab.AFV + "Concept"),
        # instance graph: aaa -p-> bbb -q-> ccc ; ddd unreachable
        _t(AAA, EX + "p", "iri", BBB),
        _t(BBB, EX + "q", "iri", CCC),
        # labels: dct:title is unbroken (X1); prefLabel second rank
        _t(AAA, vocab.DCT_TITLE, "literal", None, "concept\nmap"),
        _t(BBB, vocab.DCT_TITLE, "literal", None, "reactor\nvessel"),
        _t(CCC, vocab.SKOS_PREF_LABEL, "literal", None, "water"),
        # types (NamedIndividual is skipped in type labels)
        _t(AAA, vocab.RDF_TYPE, "iri", EX + "Root"),
        _t(BBB, vocab.RDF_TYPE, "iri", EX + "Vessel"),
        _t(CCC, vocab.RDF_TYPE, "iri", EX + "Liquid"),
        _t(CCC, vocab.RDF_TYPE, "iri", vocab.OWL_NAMED_INDIVIDUAL),
    ]
    schema = (
        "subj string, pred string, obj_kind string, obj_iri string, "
        "obj_lexical string, obj_datatype string, conv_id string, turn_idx int"
    )
    return spark.createDataFrame(rows, schema)


def test_root_detection_and_targets(spark, fixture_triples):
    assert detect_root(fixture_triples) == AAA
    targets = {r["node"] for r in instance_targets(fixture_triples, AAA).collect()}
    # ddd's twin IS typed afv:Concept but ddd never appears as an instance
    # subject, so it is not listed — matching extractInstances' iteration
    # over model subjects (PathFinder.java:304-341)
    assert targets == {BBB, CCC}


def test_no_root_is_loud(spark, fixture_triples):
    from pyspark.sql import functions as F

    no_oval = fixture_triples.filter(
        ~((F.col("pred") == vocab.AFV + "shape") & (F.col("obj_lexical") == "oval"))
    )
    with pytest.raises(ValueError, match="No root node found"):
        detect_root(no_oval)


def test_report_golden_text(spark, fixture_triples):
    report = pathfinder_report(fixture_triples)
    text = render_report(report)
    # sortAndReorder: bodies sort alphabetically (the 2-hop line's '\t'
    # sorts before the 1-hop line's '#'), then '#hops = N' moves to front
    assert text == (
        "Instance graphs:\n"
        "#hops = 2\tconcept map\tp\treactor vessel\tq\twater\n"
        "#hops = 1\tconcept map\tp\treactor vessel\n"
        "Type graphs:\n"
        "#hops = 2\tRoot(concept map)\tp\tVessel(reactor vessel)\tq\tLiquid(water)\n"
        "#hops = 1\tRoot(concept map)\tp\tVessel(reactor vessel)\n"
    )


def test_unreachable_target_reports_no_path(spark, fixture_triples):
    # make ddd an instance subject (self-describing literal) so it becomes a
    # target, but leave it disconnected from the root
    extra = spark.createDataFrame(
        [(DDD, EX + "note", "literal", None, "x", None, None, None)],
        fixture_triples.schema,
    )
    report = pathfinder_report(fixture_triples.unionByName(extra))
    lines = [r["line"] for r in report.filter("section = 'instance'").collect()]
    assert any(
        l.startswith("#hops = 0\tNo path found from concept map to urn:uuid:ddd <urn:uuid:ddd>")
        for l in lines
    )


def test_bfs_parent_tree_same_hop_tie_takes_min_pred_then_parent(spark):
    from rdfcmap_spark.operators.pathfinder import bfs_parent_tree

    # x is reached at hop 2 from both a and b by the same pred -> parent a;
    # t is reached at hop 2 from a by "z" and from b by "q" -> pred q wins
    # over the smaller parent; b -> a never replaces a's hop-1 entry
    edges = spark.createDataFrame(
        [("r", "p", "b"), ("r", "p", "a"), ("b", "q", "x"), ("a", "q", "x"),
         ("a", "z", "t"), ("b", "q", "t"), ("b", "a", "a")],
        "src string, pred string, dst string",
    ).repartition(3)
    tree = bfs_parent_tree(edges, "r").collect()
    got = {r["node"]: (r["hops"], r["parent"], r["pred"]) for r in tree}
    assert got == {
        "r": (0, None, None),
        "a": (1, "r", "p"),
        "b": (1, "r", "p"),
        "x": (2, "a", "q"),
        "t": (2, "b", "q"),
    }
