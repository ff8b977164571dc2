"""G1 canonicalization: driver fast-path vs distributed loop equivalence,
convergence on adversarial shapes, and parallelism invariance."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from rdfcmap_spark.operators.canonicalize import (
    BROADCAST_MAPPING_MAX_ROWS,
    connected_components,
    identity_edges,
    rewrite_triples,
)


def _random_edges(n_nodes: int, n_edges: int, seed: str) -> list[tuple[str, str]]:
    out = []
    for i in range(n_edges):
        h = int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:12], 16)
        a, b = h % n_nodes, (h // n_nodes) % n_nodes
        if a != b:
            out.append((f"n{a:04d}", f"n{b:04d}"))
    return out


CASES = {
    "chain": [(f"c{i}", f"c{i+1}") for i in range(40)],  # long diameter
    "star": [("hub", f"s{i}") for i in range(50)],
    "cycle": [(f"y{i}", f"y{(i+1) % 7}") for i in range(7)],
    "two_comps": [("a", "b"), ("b", "c"), ("p", "q")],
    "random_sparse": _random_edges(200, 150, "sparse"),
    "random_dense": _random_edges(50, 300, "dense"),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_driver_equals_distributed(spark, name):
    df = spark.createDataFrame(CASES[name], "src string, dst string")
    drv = sorted(map(tuple, connected_components(df).collect()))
    dist = sorted(map(tuple, connected_components(df, driver_threshold=0).collect()))
    assert drv == dist
    # representative is the component min — spot-check closure property
    comp_of = dict(drv)
    for s, d in CASES[name]:
        assert comp_of[s] == comp_of[d]


def test_identity_edges_star_not_quadratic(spark):
    """A hot identifier value yields k-1 star edges, never k^2 pairs."""
    idents = spark.createDataFrame(
        [(f"e{i}", "ID-hot") for i in range(100)] + [("e900", "ID-x"), ("e901", "ID-x")],
        "entity_id string, value string",
    )
    sameas = spark.createDataFrame([], "a string, b string")
    edges = identity_edges(sameas, idents)
    assert edges.count() == 99 + 1
    mapping = connected_components(edges)
    comps = {r["canonical_id"] for r in mapping.collect()}
    assert comps == {"e0", "e900"}


def _mini_triples(spark):
    rows = [
        ("e1", "p:knows", "iri", "e2", None, None, "c1", 0),
        ("e2", "p:knows", "iri", "e3", None, None, "c1", 1),
        ("e3", "p:title", "literal", None, "three", "xsd:string", "c2", 0),
        ("e9", "p:knows", "iri", "e1", None, None, "c2", 1),
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj_kind string, obj_iri string, "
        "obj_lexical string, obj_datatype string, conv_id string, turn_idx int",
    )


def test_rewrite_broadcast_gate_paths_equal(spark):
    """The size-gated broadcast in rewrite_triples: hinted (small mapping)
    and unhinted (mapping declared above the gate, auto-broadcast disabled so
    the join really runs as SMJ) produce identical triples."""
    triples = _mini_triples(spark)
    mapping = spark.createDataFrame(
        [("e2", "e1"), ("e3", "e1")], "entity_id string, canonical_id string"
    )
    hinted = rewrite_triples(triples, mapping, n_mapping=2)
    assert "broadcast" in hinted._jdf.queryExecution().optimizedPlan().toString().lower()
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        unhinted = rewrite_triples(triples, mapping, n_mapping=BROADCAST_MAPPING_MAX_ROWS + 1)
        plan = unhinted._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "broadcast" not in plan  # gate really dropped the hint
        got = sorted(map(tuple, unhinted.collect()))
    finally:
        for k, v in confs.items():
            spark.conf.set(k, v)
    assert got == sorted(map(tuple, hinted.collect()))
    # e2/e3 rewritten to e1 on both sides; self-loops collapse under set semantics
    subjects = {r[0] for r in got}
    assert "e2" not in subjects and "e3" not in subjects


def test_mapping_invariant_to_partitioning(spark):
    rows = CASES["random_sparse"]
    df1 = spark.createDataFrame(rows, "src string, dst string").repartition(1)
    df16 = spark.createDataFrame(rows, "src string, dst string").repartition(16)
    a = sorted(map(tuple, connected_components(df1, driver_threshold=0).collect()))
    b = sorted(map(tuple, connected_components(df16, driver_threshold=0).collect()))
    assert a == b


def test_distributed_cc_long_chain_converges(spark):
    """Pointer jumping must converge in O(log diameter) rounds: a 3,000-node
    chain (diameter 3,000 >> max_iter 25 without jumping) collapses to one
    component on the distributed path."""
    n = 3000
    df = spark.createDataFrame(
        [(f"n{i:05d}", f"n{i+1:05d}") for i in range(n)], "src string, dst string"
    )
    mapping = {r["entity_id"]: r["canonical_id"]
               for r in connected_components(df, driver_threshold=0).collect()}
    assert set(mapping.values()) == {"n00000"}
    assert len(mapping) == n + 1


def test_rewrite_prov_min_arbitrary_conv_charset(spark):
    """The provenance arg-min must match (conv_id ASC NULLS FIRST,
    turn_idx ASC NULLS FIRST) struct-min semantics for ANY conv_id charset —
    '#', space, '!', '"', \\x00, \\x01 included (ADVICE r2: the old '#'
    separator silently corrupted these)."""
    convs = ["a#b", "a", "a b", "a!", 'a"', "\x01x", "a\x00b", "a\x01", "#", "zz", None]
    rows = []
    for i, c in enumerate(convs):
        for t in (None, 0, 7, 1234567890):
            rows.append(("e1", "p:p", "iri", "e2", None, None, c, t))
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj_kind string, obj_iri string, "
        "obj_lexical string, obj_datatype string, conv_id string, turn_idx int",
    )
    mapping = spark.createDataFrame([], "entity_id string, canonical_id string")
    out = rewrite_triples(triples, mapping, n_mapping=0).collect()
    assert len(out) == 1  # one triple key -> one row, min provenance
    got = (out[0]["conv_id"], out[0]["turn_idx"])
    # struct-min: NULLS FIRST on both columns
    expected = min(
        ((c, t) for c, t in [(r[6], r[7]) for r in rows]),
        key=lambda p: ((p[0] is not None, p[0] or ""), (p[1] is not None, p[1] or 0)),
    )
    assert got == expected
    # round-trip fidelity of the decode for every charset (each conv alone)
    for c in convs:
        tri = spark.createDataFrame(
            [("s", "p", "iri", "o", None, None, c, 5)],
            "subj string, pred string, obj_kind string, obj_iri string, "
            "obj_lexical string, obj_datatype string, conv_id string, turn_idx int",
        )
        row = rewrite_triples(tri, mapping, n_mapping=0).collect()[0]
        assert row["conv_id"] == c and row["turn_idx"] == 5


# ---------------------------------------------------------------------------
# incremental canonicalization: merge_mapping(cc(E1), E2) == cc(E1 ∪ E2)


def _full_vs_incremental(spark, edges, split):
    """Assert the incremental merge reproduces the full recompute for a
    given (E1, E2) split; returns the full mapping for extra checks."""
    from rdfcmap_spark.operators.canonicalize import merge_mapping

    e1 = [e for i, e in enumerate(edges) if split(i, e)]
    e2 = [e for i, e in enumerate(edges) if not split(i, e)]
    schema = "src string, dst string"
    full = sorted(
        map(tuple, connected_components(spark.createDataFrame(edges, schema)).collect())
    )
    m1 = connected_components(spark.createDataFrame(e1, schema) if e1
                              else spark.createDataFrame([], schema))
    merged = merge_mapping(
        m1, spark.createDataFrame(e2, schema) if e2 else spark.createDataFrame([], schema)
    )
    assert sorted(map(tuple, merged.collect())) == full
    return full


@pytest.mark.parametrize("name", sorted(CASES))
def test_merge_mapping_equals_full(spark, name):
    edges = CASES[name]
    # three splits: interleaved, first-half/second-half, all-in-batch-2
    _full_vs_incremental(spark, edges, lambda i, e: i % 2 == 0)
    _full_vs_incremental(spark, edges, lambda i, e: i < len(edges) // 2)
    _full_vs_incremental(spark, edges, lambda i, e: False)


def test_merge_mapping_bridges_and_new_min(spark):
    """Batch 2 bridges two old components AND introduces a new node that
    becomes the merged component's min representative."""
    from rdfcmap_spark.operators.canonicalize import merge_mapping

    e1 = [("m1", "m2"), ("m2", "m3"), ("z1", "z2")]
    # "aaa" < every old node: the patched rows must all re-point to it
    e2 = [("m3", "z1"), ("aaa", "m1")]
    full = _full_vs_incremental(spark, e1 + e2, lambda i, e: e in e1)
    comp = dict(full)
    assert comp["m1"] == comp["z2"] == comp["aaa"] == "aaa"


def test_merge_mapping_empty_batch_is_identity(spark):
    from rdfcmap_spark.operators.canonicalize import merge_mapping

    m = connected_components(
        spark.createDataFrame([("a", "b"), ("c", "d")], "src string, dst string")
    )
    merged = merge_mapping(m, m.sparkSession.createDataFrame([], "src string, dst string"))
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, m.collect()))


def test_merge_mapping_distributed_delta(spark):
    """The delta CC below runs through the distributed contraction path
    (driver_threshold=0) — same result as the driver path."""
    from rdfcmap_spark.operators.canonicalize import merge_mapping

    edges = CASES["random_sparse"]
    e1, e2 = edges[: len(edges) // 2], edges[len(edges) // 2 :]
    schema = "src string, dst string"
    full = sorted(
        map(tuple, connected_components(spark.createDataFrame(edges, schema)).collect())
    )
    m1 = connected_components(spark.createDataFrame(e1, schema))
    merged = merge_mapping(m1, spark.createDataFrame(e2, schema), driver_threshold=0)
    assert sorted(map(tuple, merged.collect())) == full


def test_rewrite_unbnodes_objects_canonicalized_to_named_nodes(spark):
    """kind/identity invariant: obj_kind == 'bnode' iff the post-rewrite
    object is a skolem urn:uuid node. A bnode-kind object whose entity
    canonicalizes onto a NAMED vocab IRI (the qudt-unit case that emitted
    invalid _:b<iri> labels in the TTL/N-Quads sinks at sf0.1) flips to
    'iri'; one canonicalized onto another skolem node stays 'bnode'."""
    from rdfcmap_spark.operators.canonicalize import rewrite_triples
    from rdfcmap_spark.schemas import TRIPLES

    rows = [
        ("urn:uuid:s1", "http://e/p", "bnode", "urn:uuid:e-unit", None, None, "c1", 1),
        ("urn:uuid:s2", "http://e/p", "bnode", "urn:uuid:e-anon", None, None, "c1", 2),
        ("urn:uuid:s3", "http://e/p", "iri", "urn:uuid:e-unit", None, None, "c1", 3),
    ]
    mapping = spark.createDataFrame(
        [
            ("urn:uuid:e-unit", "http://qudt.org/vocab/unit#DEG_C-Individual"),
            ("urn:uuid:e-anon", "urn:uuid:canon-anon"),
        ],
        "entity_id string, canonical_id string",
    )
    out = {
        r["subj"]: (r["obj_kind"], r["obj_iri"])
        for r in rewrite_triples(
            spark.createDataFrame(rows, TRIPLES), mapping
        ).collect()
    }
    assert out["urn:uuid:s1"] == ("iri", "http://qudt.org/vocab/unit#DEG_C-Individual")
    assert out["urn:uuid:s2"] == ("bnode", "urn:uuid:canon-anon")
    assert out["urn:uuid:s3"] == ("iri", "http://qudt.org/vocab/unit#DEG_C-Individual")


def test_triple_support_counts_cross_conv_evidence(spark):
    """Two conversations assert the same facts about an identifier-merged
    entity; a third asserts a conv-local fact. Support counts by hand."""
    from datetime import datetime

    from rdfcmap_spark import vocab
    from rdfcmap_spark.ids import name_uuid
    from rdfcmap_spark.plans.pipeline import triple_support

    ts = datetime(2026, 1, 1)
    rows = [
        ("A", 0, "user", '«widget» has identifier "X-1"^^xsd:string.', "", ts),
        ("A", 1, "user", '«widget» has value "42"^^xsd:integer.', "", ts),
        ("B", 0, "user", '«widget» has identifier "X-1"^^xsd:string.', "", ts),
        ("B", 1, "user", '«widget» has value "42"^^xsd:integer.', "", ts),
        ("C", 0, "user", "«gadget» relates to «widget».", "", ts),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).repartition(3)
    got = {
        (r["subj"], r["pred"], r["obj_kind"], r["obj_iri"], r["obj_lexical"]): (
            r["n_turns"],
            r["n_convs"],
        )
        for r in triple_support(turns, checkpoint=False).collect()
    }

    eids = {c: "urn:uuid:" + name_uuid(f"ent|{c}|widget") for c in "ABC"}
    canon = min(eids["A"], eids["B"])  # identifier-star merge of A and B only
    # identifier + value literals: one turn per conversation, two convs
    ident_key = (canon, vocab.DCT + "identifier", "literal", None, "X-1")
    assert got[ident_key] == (2, 2)
    val = [k for k in got if k[0] == canon and k[4] == "42"]
    assert len(val) == 1 and got[val[0]] == (2, 2)
    # entity-declaration family carries NULL turn provenance -> one distinct
    # (conv, -1) per conversation
    type_key = (canon, vocab.RDF_TYPE, "iri", vocab.OWL_NAMED_INDIVIDUAL, None)
    assert got[type_key] == (2, 2)
    # C's widget did NOT merge (no shared identifier); its type triple is
    # conv-local evidence
    assert got[(eids["C"], vocab.RDF_TYPE, "iri", vocab.OWL_NAMED_INDIVIDUAL, None)] == (1, 1)


def test_rdfs_entail_hand_computed(spark):
    from rdfcmap_spark import vocab
    from rdfcmap_spark.operators.ontology import rdfs_entail

    T = vocab.RDF_TYPE
    triples = spark.createDataFrame(
        [
            # s1 asserted Reactor (⊑ Equipment ⊑ MaterialEntity) in conv b/2
            ("s1", T, "iri", "Reactor", None, None, "b", 2),
            # s1 ALSO asserted Stirrer (⊑ Equipment) earlier, in conv a/1 —
            # Equipment's provenance must come from the (a,1) source
            ("s1", T, "iri", "Stirrer", None, None, "a", 1),
            # s2 asserted Equipment directly AND MaterialEntity explicitly —
            # nothing new to infer for s2
            ("s2", T, "iri", "Equipment", None, None, "c", 0),
            ("s2", T, "iri", "MaterialEntity", None, None, "c", 1),
            # non-type triple is ignored
            ("s1", "other", "iri", "Reactor", None, None, "z", 9),
        ],
        "subj string, pred string, obj_kind string, obj_iri string, "
        "obj_lexical string, obj_datatype string, conv_id string, turn_idx int",
    )
    edges = spark.createDataFrame(
        [("Reactor", "Equipment"), ("Stirrer", "Equipment"), ("Equipment", "MaterialEntity")],
        "child string, parent string",
    )
    got = {
        (r["subj"], r["obj_iri"]): (r["conv_id"], r["turn_idx"], r["pred"], r["obj_kind"])
        for r in rdfs_entail(triples, edges).collect()
    }
    assert got == {
        # s1: Equipment (from Stirrer a/1 — the min provenance), and
        # MaterialEntity (transitive, also min = a/1 via Stirrer)
        ("s1", "Equipment"): ("a", 1, T, "iri"),
        ("s1", "MaterialEntity"): ("a", 1, T, "iri"),
        # s2: only MaterialEntity would be inferable but it is asserted -> excluded
    }


def test_event_funnel_hand_computed(spark):
    from datetime import datetime

    from rdfcmap_spark.operators.relational import event_funnel

    t = lambda m: datetime(2026, 1, 1, 0, m)
    rows = [
        # u1: full funnel in order
        (1, t(0), 1, "signup", 0.0, ""),
        (2, t(1), 1, "view", 0.0, ""),
        (3, t(2), 1, "purchase", 0.0, ""),
        # u2: purchase BEFORE view -> stage 2 only
        (4, t(0), 2, "signup", 0.0, ""),
        (5, t(1), 2, "purchase", 0.0, ""),
        (6, t(2), 2, "view", 0.0, ""),
        # u3: view at the SAME ts as signup (strictness) then nothing
        (7, t(0), 3, "signup", 0.0, ""),
        (8, t(0), 3, "view", 0.0, ""),
        # u4: never signed up -> absent from the funnel
        (9, t(0), 4, "view", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {r["user_id"]: r for r in event_funnel(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["stage_reached"] == 3 and got[1]["ts_us_3"] is not None
    assert got[2]["stage_reached"] == 2 and got[2]["ts_us_3"] is None
    # u2's view at t(2) is AFTER signup -> stage 2 via view, not purchase
    assert got[2]["ts_us_2"] == got[2]["ts_us_1"] + 2 * 60_000_000
    assert got[3]["stage_reached"] == 1 and got[3]["ts_us_2"] is None


def test_cohort_retention_hand_computed(spark):
    from datetime import datetime, timedelta

    from rdfcmap_spark.operators.relational import cohort_retention

    base = datetime(2026, 1, 1)  # epoch day 20454 -> week 2922
    rows = [
        # u1, u2 sign up in week W; u1 active W and W+1, u2 only W
        (1, base, 1, "signup", 0.0, ""),
        (2, base + timedelta(days=7), 1, "click", 0.0, ""),
        (3, base + timedelta(days=1), 2, "signup", 0.0, ""),
        # u3 signs up the next week
        (4, base + timedelta(days=7), 3, "signup", 0.0, ""),
        # u4 never signs up -> not in any cohort
        (5, base, 4, "click", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {(r["cohort_week"], r["week_offset"]): r for r in cohort_retention(df).collect()}
    w = (base - datetime(1970, 1, 1)).days // 7
    assert set(got) == {(w, 0), (w, 1), (w + 1, 0)}
    assert got[(w, 0)]["n_active"] == 2 and got[(w, 0)]["cohort_size"] == 2
    assert got[(w, 0)]["retention"] == 1.0
    assert got[(w, 1)]["n_active"] == 1 and got[(w, 1)]["retention"] == 0.5
    assert got[(w + 1, 0)]["cohort_size"] == 1


def test_triple_timeline_bounds_hand_computed(spark):
    """The same canonical fact asserted at three known timestamps across
    two identifier-merged conversations: first/last bounds and turn count
    by hand; entity-declaration rows (NULL turn provenance) keep null
    bounds instead of dropping."""
    from datetime import datetime

    from rdfcmap_spark import vocab
    from rdfcmap_spark.ids import name_uuid
    from rdfcmap_spark.plans.pipeline import triple_timeline

    t0 = datetime(2026, 1, 1, 10, 0, 0)
    t1 = datetime(2026, 1, 2, 11, 30, 0)
    t2 = datetime(2026, 1, 5, 9, 0, 0)
    rows = [
        ("A", 0, "user", '«widget» has identifier "X-1"^^xsd:string.', "", t0),
        ("A", 1, "user", '«widget» has value "42"^^xsd:integer.', "", t1),
        ("B", 0, "user", '«widget» has identifier "X-1"^^xsd:string.', "", t2),
        ("B", 1, "user", '«widget» has value "42"^^xsd:integer.', "", t2),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).repartition(3)
    got = {
        (r["subj"], r["pred"], r["obj_lexical"]): (
            r["first_asserted_us"],
            r["last_asserted_us"],
            r["n_turns"],
        )
        for r in triple_timeline(turns, checkpoint=False).collect()
    }

    def us(dt):
        return int(dt.timestamp() * 1_000_000)

    eids = {c: "urn:uuid:" + name_uuid(f"ent|{c}|widget") for c in "AB"}
    canon = min(eids.values())
    # value fact: asserted at t1 (A) and t2 (B)
    vals = [v for k, v in got.items() if k[0] == canon and k[2] == "42"]
    assert vals == [(us(t1), us(t2), 2)]
    # identifier fact: t0 and t2
    ident = got[(canon, vocab.DCT + "identifier", "X-1")]
    assert ident == (us(t0), us(t2), 2)
    # entity declarations carry NULL turn provenance -> null bounds, n_turns 2
    typ = got[(canon, vocab.RDF_TYPE, None)]
    assert typ == (None, None, 2)


def test_fact_conflicts_hand_computed(spark):
    """Conflicting unit objects across merged conversations surface; types,
    titles and single-valued facts do not."""
    from rdfcmap_spark import vocab
    from rdfcmap_spark.operators.relational import fact_conflicts

    rows = [
        ("s1", vocab.QUDT_UNIT, "iri", "u:celsius", None, None),
        ("s1", vocab.QUDT_UNIT, "iri", "u:kelvin", None, None),
        ("s1", vocab.RDF_TYPE, "iri", "t:a", None, None),
        ("s1", vocab.RDF_TYPE, "iri", "t:b", None, None),       # excluded pred
        ("s1", vocab.DCT_TITLE, "literal", None, "x", vocab.XSD_STRING),
        ("s1", vocab.DCT_TITLE, "literal", None, "y", vocab.XSD_STRING),  # excluded
        ("s2", vocab.QUDT_UNIT, "iri", "u:celsius", None, None),  # single-valued
        ("s2", "p:v", "literal", None, "1", vocab.XSD_INTEGER),
        ("s2", "p:v", "literal", None, "2", vocab.XSD_INTEGER),
        ("s2", "p:v", "literal", None, "2", vocab.XSD_INTEGER),  # dup row, 1 value
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj_kind string, obj_iri string, "
        "obj_lexical string, obj_datatype string",
    )
    got = {
        (r["subj"], r["pred"], r["obj_token"]): r["n_values"]
        for r in fact_conflicts(t).collect()
    }
    assert got == {
        ("s1", vocab.QUDT_UNIT, "u:celsius"): 2,
        ("s1", vocab.QUDT_UNIT, "u:kelvin"): 2,
        ("s2", "p:v", "1"): 2,
        ("s2", "p:v", "2"): 2,
    }


def test_resolve_by_recency_hand_computed(spark):
    """Later assertion wins; timestamp ties break on the total order;
    single-valued pairs and excluded predicates never surface."""
    from rdfcmap_spark import vocab
    from rdfcmap_spark.plans.pipeline import resolve_by_recency

    rows = [
        # conflicting unit: kelvin asserted later -> wins, n_values 2
        ("s1", vocab.QUDT_UNIT, "iri", "u:celsius", None, None, 100, 200, 2),
        ("s1", vocab.QUDT_UNIT, "iri", "u:kelvin", None, None, 150, 300, 1),
        # timestamp tie -> obj_kind/token order decides ("a:x" < "b:y")
        ("s2", "p:q", "iri", "b:y", None, None, 10, 50, 1),
        ("s2", "p:q", "iri", "a:x", None, None, 20, 50, 1),
        # single-valued -> absent
        ("s3", "p:q", "iri", "c:z", None, None, 5, 5, 1),
        # excluded predicate -> absent even though multi-valued
        ("s4", vocab.RDF_TYPE, "iri", "t:a", None, None, 1, 1, 1),
        ("s4", vocab.RDF_TYPE, "iri", "t:b", None, None, 2, 2, 1),
    ]
    tl = spark.createDataFrame(
        rows,
        "subj string, pred string, obj_kind string, obj_iri string, obj_lexical string, "
        "obj_datatype string, first_asserted_us long, last_asserted_us long, n_turns long",
    )
    got = {
        (r["subj"], r["pred"]): (r["obj_iri"], r["last_asserted_us"], r["n_values"])
        for r in resolve_by_recency(tl).collect()
    }
    assert got == {
        ("s1", vocab.QUDT_UNIT): ("u:kelvin", 300, 2),
        ("s2", "p:q"): ("a:x", 50, 2),
    }


def test_triple_growth_hand_computed(spark):
    """round 5: growth curve buckets first assertions exactly and the
    running total is the prefix sum; null first_asserted rows drop."""
    from pyspark.sql import functions as F

    from rdfcmap_spark.plans.pipeline import triple_growth

    hour = 3_600_000_000
    rows = [
        # (first_asserted_us,) — 3 in hour 0, 1 in hour 1, 2 in hour 5
        (10,), (hour - 1,), (hour // 2,),
        (hour + 5,),
        (5 * hour,), (5 * hour + 17,),
        (None,),
    ]
    tl = spark.createDataFrame(rows, "first_asserted_us long")
    got = {
        r["epoch_bucket"]: (r["n_new_triples"], r["cum_triples"])
        for r in triple_growth(tl).collect()
    }
    assert got == {0: (3, 3), 1: (1, 4), 5: (2, 6)}
    # custom bucket width: one day swallows everything into bucket 0
    day = triple_growth(tl, bucket_us=86_400_000_000).collect()
    assert len(day) == 1 and day[0]["n_new_triples"] == 6

    # partition invariance
    again = {
        r["epoch_bucket"]: (r["n_new_triples"], r["cum_triples"])
        for r in triple_growth(tl.repartition(7)).collect()
    }
    assert again == got


def test_degree_profile_hand_computed(spark):
    """round 5: degree histogram over a hand-built triple set — literals
    and self-loops excluded, degrees undirected over distinct pairs."""
    from rdfcmap_spark.operators.graph import degree_profile

    rows = [
        # star: a—b, a—c, a—d (+ a duplicate edge and a reverse assertion)
        ("a", "p", "iri", "b", None, None),
        ("a", "p2", "iri", "b", None, None),   # same pair, other pred
        ("b", "p", "iri", "a", None, None),    # reverse direction
        ("a", "p", "iri", "c", None, None),
        ("a", "p", "iri", "d", None, None),
        ("a", "p", "iri", "a", None, None),    # self-loop: dropped
        ("a", "p", "literal", None, "x", "t"),  # literal: dropped
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj_kind string, obj_iri string, "
        "obj_lexical string, obj_datatype string",
    )
    got = {r["degree"]: r["n_entities"] for r in degree_profile(t).collect()}
    # a has neighbors {b,c,d}; b,c,d each have {a}
    assert got == {3: 1, 1: 3}


def test_turn_sft_pairs_contract(spark):
    """round 5: SFT pairs — prompt is the raw turn text, target is the
    sorted serialization of exactly the canonical triples that turn
    asserts (cross-checked against triple_support provenance), and turns
    without triples emit no pair."""
    from pyspark.sql import functions as F

    from rdfcmap_spark.plans.pipeline import turn_sft_pairs
    from rdfcmap_spark.synth import transcripts_df

    tr = transcripts_df(spark, n_convs=4, turns_per_conv=4)
    pairs = turn_sft_pairs(tr, checkpoint=False).collect()
    assert pairs, "fixture produced no pairs"
    texts = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tr.collect()}
    for r in pairs:
        assert r["prompt"] == texts[(r["conv_id"], r["turn_idx"])]
        toks = r["target"].split(" ; ")
        assert len(toks) == r["n_triples"] > 0
        assert toks == sorted(toks)          # deterministic serialization
        assert all(t.count("|") >= 2 for t in toks)  # subj|pred|obj shape
    # determinism under repartitioning
    again = {
        (r["conv_id"], r["turn_idx"]): r["target"]
        for r in turn_sft_pairs(tr.repartition(7), checkpoint=False).collect()
    }
    assert again == {(r["conv_id"], r["turn_idx"]): r["target"] for r in pairs}
