"""Unit tests for the regex-faithful scalar functions (SURVEY.md X1/X3/X9/X12).

Table-driven per the reference grammars; Spark Column implementations are
checked against the Python mirrors for byte-identical behavior.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfcmap_spark import vocab
from rdfcmap_spark.functions.cardinality import classify_cols, classify_py
from rdfcmap_spark.functions.literals import literal_cols, parse_literal_py
from rdfcmap_spark.functions.normalize import (
    normalize_label,
    normalize_label_py,
    slugify_py,
    unbreak_py,
)
from rdfcmap_spark.ids import NAMESPACE, name_uuid, name_uuid_col, uuid_sql


# --- X3 cardinality (CardinalityPattern.java:19-31, CmapUtil.java:809-876) ---

CARD_CASES = [
    ("", (vocab.AFV_MIN_CARDINALITY, "0", None)),
    ("=1", (vocab.AFV_EXACT_CARDINALITY, "1", "1")),
    ("=2", (vocab.AFV_EXACT_CARDINALITY, "2", "2")),
    ("3", (vocab.AFV_EXACT_CARDINALITY, "3", "3")),
    (">1", (vocab.AFV_MIN_CARDINALITY, "1", None)),
    ("<5", (vocab.AFV_MAX_CARDINALITY, None, "5")),
    ("2,4", (vocab.AFV_INTERVAL_CARDINALITY, "2", "4")),
    ("3 5", (vocab.AFV_INTERVAL_CARDINALITY, "3", "5")),
    ("2, 4", (vocab.AFV_INTERVAL_CARDINALITY, "2", "4")),
    (">2[", None),  # qualified: unsupported -> quarantine (CmapUtil.java:824)
    ("[1", None),
    ("abc", None),
]


@pytest.mark.parametrize("raw,expected", CARD_CASES)
def test_cardinality_py(raw, expected):
    got = classify_py(raw)
    if expected is None:
        assert got is None
    else:
        assert (got.card_type, got.card_min, got.card_max) == expected


def test_cardinality_spark_matches_py(spark):
    df = spark.createDataFrame([(c,) for c, _ in CARD_CASES], "card string")
    t, mn, mx = classify_cols(F.col("card"))
    rows = df.select("card", t.alias("t"), mn.alias("mn"), mx.alias("mx")).collect()
    for r in rows:
        exp = classify_py(r["card"])
        if exp is None:
            assert r["t"] is None
        else:
            assert (r["t"], r["mn"], r["mx"]) == (exp.card_type, exp.card_min, exp.card_max)


# --- X9 normalization ladder (RdfUtil.getResourceByLabel:205-318) -----------

NORM_CASES = [
    ("Reactor", "reactor"),
    ("peak&#10;area", "peakarea"),
    ("[ cooling jacket ]", "cooling jacket"),
    ("water (CHEBI_15377)", "water"),
    ("stirrer (afe:Stirrer)", "stirrer"),
    ("thing, AF term", "af term"),
    ("alpha, beta", "alpha"),
    ("sample instance of", "sample"),
    ("pump NamedIndividual", "pump"),
    ("  spaced   label  ", "spaced label"),
]


@pytest.mark.parametrize("raw,expected", NORM_CASES)
def test_normalize_py(raw, expected):
    assert normalize_label_py(raw) == expected


def test_normalize_spark_matches_py(spark):
    df = spark.createDataFrame([(c,) for c, _ in NORM_CASES], "label string")
    rows = df.select("label", normalize_label(F.col("label")).alias("norm")).collect()
    for r in rows:
        assert r["norm"] == normalize_label_py(r["label"]), r["label"]


def test_unbreak_and_slug():
    assert unbreak_py("a&#10;b") == "ab"
    assert unbreak_py("a   b") == "a b"
    assert slugify_py("Peak Area #1!") == "peak-area-1-"


# --- X12 typed literals (Cmap2TurtleConverter.java:2416-2463) ----------------


@pytest.mark.parametrize(
    "token,expected",
    [
        ('"7.5"^^xsd:double', ("7.5", vocab.XSD_DOUBLE)),
        ('"42"^^xsd:integer', ("42", vocab.XSD_INTEGER)),
        ('"true"^^xsd:boolean', ("true", vocab.XSD_BOOLEAN)),
        ('"2025-01-02T03:00:00Z"^^xsd:dateTime', ("2025-01-02T03:00:00Z", vocab.XSD_DATETIME)),
        ('"x"^^xsd:float', ("x", vocab.XSD_STRING)),  # unknown -> string fallback
        ("plain text", None),
    ],
)
def test_literal_py(token, expected):
    assert parse_literal_py(token) == expected


def test_literal_spark(spark):
    toks = ['"7.5"^^xsd:double', '"n/a"^^xsd:double', '"lot 3"^^xsd:string', '"9"^^xsd:float']
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    lex, dt, valid = literal_cols(F.col("tok"))
    rows = {r["tok"]: r for r in df.select("tok", lex.alias("lex"), dt.alias("dt"), valid.alias("v")).collect()}
    assert rows['"7.5"^^xsd:double']["v"] is True
    assert rows['"n/a"^^xsd:double']["v"] is False  # quarantine, not a crash
    assert rows['"lot 3"^^xsd:string']["dt"] == vocab.XSD_STRING
    assert rows['"9"^^xsd:float']["dt"] == vocab.XSD_STRING  # fallback


#: lexical-form validity edge cases pinning the quarantine regexes
#: (_VALID_LEX) — exponent doubles, sign/point variants, timezone offsets.
#: Semantics: the engine's OWN contract, a conservative subset of Java's
#: Double.parseDouble (no NaN/Infinity/hex/suffix forms — those quarantine
#: rather than crash the reference's parse, which is the point of `valid`).
_VALIDITY_CASES = [
    # (local datatype, lexical, expect-valid)
    ("double", "1e5", True),
    ("double", "1E+10", True),
    ("double", "-2.5e-3", True),
    ("double", ".5", True),
    ("double", "5.", True),
    ("double", "+7", True),
    ("double", "1e", False),
    ("double", "e5", False),
    ("double", "1.2.3", False),
    ("double", "NaN", False),      # quarantined: Java accepts, our subset doesn't
    ("double", "Infinity", False),
    ("double", "1d", False),
    ("double", "0x1p3", False),
    ("double", " 7.5", False),     # Java trims; verbatim lexical must not
    ("integer", "+42", True),
    ("integer", "-0", True),
    ("integer", "4.0", False),
    ("integer", "1e3", False),
    ("boolean", "TRUE", True),
    ("boolean", "1", False),
    ("dateTime", "2024-01-01T00:00:00", True),          # tz optional
    ("dateTime", "2024-01-01T00:00:00+05:30", True),
    ("dateTime", "2024-01-01T00:00:00-08:00", True),
    ("dateTime", "2024-01-01T00:00:00.123456Z", True),
    ("dateTime", "2024-01-01T00:00:00+0530", False),    # colon required
    ("dateTime", "2024-01-01 00:00:00Z", False),        # 'T' required
    ("dateTime", "2024-1-1T00:00:00Z", False),          # zero-padding required
    ("dateTimeStamp", "2024-01-01T00:00:00Z", True),
    ("dateTimeStamp", "2024-01-01T00:00:00+05:30", True),
    ("dateTimeStamp", "2024-01-01T00:00:00", False),    # tz REQUIRED
    # datatype-promotion edges: empty lexical forms quarantine for numeric
    # types but are fine for string (promotion never invents a value)
    ("integer", "", False),
    ("double", "", False),
    ("string", "", True),
]


def test_datatype_promotion_case_sensitive(spark):
    """Datatype local names are case-sensitive like the reference's map
    lookup (`replaceLiteralNodes:2414-2463`): xsd:Double / xsd:DOUBLE are
    UNKNOWN datatypes -> xsd:string fallback, lexical verbatim, valid not
    asserted against the double grammar (it's a string now)."""
    toks = ['"7.5"^^xsd:Double', '"7.5"^^xsd:DOUBLE', '"oops"^^xsd:Integer']
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    lex, dt, valid = literal_cols(F.col("tok"))
    rows = df.select("tok", lex.alias("lex"), dt.alias("dt"), valid.alias("v")).collect()
    for r in rows:
        assert r["dt"] == vocab.XSD_STRING
        assert r["v"] is True
    # python-side parser agrees (driver/vocab path parity)
    for t in toks:
        assert parse_literal_py(t)[1] == vocab.XSD_STRING


def test_literal_validity_edge_cases(spark):
    toks = [f'"{lex}"^^xsd:{dt}' for dt, lex, _ in _VALIDITY_CASES]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    lex_c, _, valid_c = literal_cols(F.col("tok"))
    rows = df.select("tok", lex_c.alias("lex"), valid_c.alias("v")).collect()
    for r, (dt, lex, want) in zip(rows, _VALIDITY_CASES):
        assert r["v"] is want, f"{r['tok']}: valid={r['v']}, want {want}"
        assert r["lex"] == lex, f"lexical form must survive verbatim: {r['tok']}"


# --- deterministic name-uuid (replaces UUID.randomUUID, VisualizationInfoBuilder.java:70)


def test_name_uuid_spark_matches_python_and_sql(spark):
    import uuid as _uuid

    import duckdb

    names = ["ent|conv-000001|reactor", "card|c|1|2", "", "äöü unicode"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    rows = df.select("name", name_uuid_col(F.col("name")).alias("u")).collect()
    con = duckdb.connect()
    for r in rows:
        expect = str(_uuid.uuid3(NAMESPACE, r["name"]))
        assert r["u"] == expect, r["name"]
        lit = "'" + r["name"].replace("'", "''") + "'"
        got_sql = con.sql("SELECT " + uuid_sql(lit)).fetchone()[0]
        assert got_sql == expect, r["name"]
    assert name_uuid("x") == str(_uuid.uuid3(NAMESPACE, "x"))


# --- X2 breakString (Turtle2CmapConverter.breakString:2339-2366) -------------


def test_break_string_reference_quirks():
    from rdfcmap_spark.functions.normalize import break_string_py, unbreak_py

    # break inserted BEFORE the first space at/past each size boundary
    # (boundaries count previously inserted entity chars, as in the Java)
    assert break_string_py("a long label that wraps here", 10) == (
        "a long label&#10; that&#10; wraps&#10; here"
    )
    # unbreak (X1) round-trips space-broken labels to the original
    src = "cooling jacket assembly unit"
    assert unbreak_py(break_string_py(src, 10)) == src
    # spaceless chop every size chars (size must exceed the entity length —
    # the reference's own loop diverges below that, we raise)
    assert break_string_py("abcdefghijklmnop", 6).startswith("abcdef&#10;")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="terminate"):
        break_string_py("abcdefgh", 3)
    # short labels untouched
    assert break_string_py("reactor", 15) == "reactor"


def test_unresolved_suggestions_partial_hits(spark):
    """RdfUtil.java:531-537 partial-hit report: substring candidates ranked
    by closest length, top-k, deterministic tie-break, no row for misses
    with no candidate."""
    from rdfcmap_spark.operators.linking import unresolved_suggestions

    alias = spark.createDataFrame(
        [
            ("measurement", "ex:measurement", "class"),
            ("measurement device", "ex:measurement-device", "class"),
            ("measures", "ex:measures", "objectProperty"),
            ("pump", "ex:pump", "class"),
        ],
        "label_norm string, resolved_iri string, term_kind string",
    )
    misses = spark.createDataFrame(
        [("meas",), ("measurement device x",), ("nothing-here",), ("pump",)], "norm string"
    )
    rows = unresolved_suggestions(misses, alias, k=2).collect()
    got = {(r["norm"], r["rank"]): (r["candidate_label"], r["candidate_iri"]) for r in rows}
    # 'meas' is contained in three labels; closest lengths win, k=2 truncates
    assert got[("meas", 1)] == ("measures", "ex:measures")
    assert got[("meas", 2)] == ("measurement", "ex:measurement")
    assert ("meas", 3) not in got
    # reverse containment: the miss contains the label
    assert got[("measurement device x", 1)] == ("measurement device", "ex:measurement-device")
    # exact-length match ranks first even among candidates
    assert got[("pump", 1)] == ("pump", "ex:pump")
    assert not any(n == "nothing-here" for n, _ in got)
