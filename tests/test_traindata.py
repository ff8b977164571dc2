"""Training-corpus assembly (operators/traindata.py): deterministic hash
splits and the two packing disciplines. The DuckDB oracles cover exact
engine parity (data_split / pack_concat_chunk / pack_greedy driver
queries); these tests pin the semantic invariants the oracle can't
express — determinism under re-partitioning, packing feasibility, and
boundary behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdfcmap_spark.operators import traindata


def _docs(spark, n=400):
    # synthetic docs with varied token counts, including empty and oversized
    rows = []
    for i in range(n):
        if i % 97 == 0:
            text = ""  # zero tokens
        elif i % 89 == 0:
            text = "w " * 700  # oversized vs budget 512
        else:
            text = ("tok%d " % i) * (1 + (i * 37) % 60)
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_split_fractions_and_determinism(spark):
    docs = _docs(spark, 2000)
    out = traindata.split_assign(docs)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # md5 buckets: 80/10/10 within generous tolerance at n=2000
    assert 0.74 <= counts["train"] / 2000 <= 0.86
    assert 0.06 <= counts["val"] / 2000 <= 0.145
    assert 0.06 <= counts["test"] / 2000 <= 0.145
    # stable under re-partitioning (the whole point of a hash split)
    again = traindata.split_assign(docs.repartition(13))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_split_is_pure_map(spark):
    """No exchange in the split plan — it must be a pure projection."""
    plan = traindata.split_assign(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_concat_chunk_layout(spark):
    docs = _docs(spark)
    out = traindata.pack_concat_chunk(docs, budget=512, n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(out) == docs.count()
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rows:
            # each doc starts exactly where the running concatenation is
            assert r["bin"] == cum // 512 and r["off"] == cum % 512, r
            cum += r["n_tokens"]


def test_pack_greedy_invariants(spark):
    docs = _docs(spark)
    out = traindata.pack_greedy(docs, budget=512, n_shards=4).collect()
    assert len(out) == docs.count()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        # bins are contiguous, starting at 0
        bins = [r["bin"] for r in rows]
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) for b1, b2 in zip(bins, bins[1:]))
        # a bin's fill only exceeds the budget when a single doc does
        last_fill: dict[int, int] = {}
        bin_docs: dict[int, int] = {}
        for r in rows:
            last_fill[r["bin"]] = r["fill"]
            bin_docs[r["bin"]] = bin_docs.get(r["bin"], 0) + 1
        for b, fill in last_fill.items():
            assert fill <= 512 or bin_docs[b] == 1, (shard, b, fill)


def test_pack_greedy_matches_concat_on_tokens(spark):
    """Both packers agree on the shard assignment and token counts."""
    docs = _docs(spark)
    a = {
        (r["doc_id"]): (r["shard"], r["n_tokens"])
        for r in traindata.pack_concat_chunk(docs, n_shards=4).collect()
    }
    b = {
        (r["doc_id"]): (r["shard"], r["n_tokens"])
        for r in traindata.pack_greedy(docs, n_shards=4).collect()
    }
    assert a == b


def test_sample_stratified_rates_and_independence(spark):
    rows = [(i, "s%d" % (i % 3)) for i in range(3000)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = traindata.sample_stratified(docs, {"s0": 1.0, "s1": 0.2}, default=0.5)
    counts = {
        r["stratum"]: r["n"]
        for r in out.groupBy("stratum").agg(F.count("*").alias("n")).collect()
    }
    assert counts["s0"] == 1000  # keep-all stratum is exact
    assert 0.14 <= counts["s1"] / 1000 <= 0.26
    assert 0.43 <= counts["s2"] / 1000 <= 0.57
    # independence from the split bucket: the kept s1 rows still split
    # roughly 80/10/10 (a shared unsalted hash would collapse this)
    kept = out.filter(F.col("stratum") == "s1").select("doc_id")
    split = traindata.split_assign(kept.join(docs, "doc_id").withColumn("text", F.lit("")))
    frac_train = split.filter(F.col("split") == "train").count() / kept.count()
    assert 0.68 <= frac_train <= 0.9
    # deterministic under re-partitioning
    again = traindata.sample_stratified(
        docs.repartition(7), {"s0": 1.0, "s1": 0.2}, default=0.5
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_sample_stratified_is_pure_filter(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    plan = (
        traindata.sample_stratified(docs, {"a": 0.5})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_pack_concat_chunk_single_exchange(spark):
    """Packing is exactly one shuffle (the shard hash); the window runs on
    the shuffled partitioning without a second exchange."""
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        traindata.pack_concat_chunk(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def _md5(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()


def test_khop_sample_deterministic_fanout(spark):
    from rdfcmap_spark.operators.graph import khop_sample

    und = [("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"), ("b", "f")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], "src string, dst string"
    ).repartition(4)
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {(r["seed"], r["node"]): r["hop"] for r in khop_sample(edges, seeds, (2, 1)).collect()}

    # python mirror of the hash ranking
    adj = {}
    for x, y in und + [(y, x) for x, y in und]:
        adj.setdefault(x, []).append(y)
    h1 = sorted(adj["a"], key=lambda d: (_md5(f"a|a|{d}"), d))[:2]
    expect = {("a", "a"): 0, **{(("a", n)): 1 for n in h1}}
    visited = {"a", *h1}
    h2 = set()
    for p in h1:
        for n in sorted(adj.get(p, []), key=lambda d: (_md5(f"a|{p}|{d}"), d))[:1]:
            if n not in visited:
                h2.add(n)
    for n in h2:
        expect[("a", n)] = 2
    assert got == expect


def test_khop_sample_first_hop_wins(spark):
    """A node sampled at hop 1 is not re-emitted at hop 2."""
    from rdfcmap_spark.operators.graph import khop_sample

    edges = spark.createDataFrame(
        [("s", "x"), ("s", "y"), ("x", "y"), ("y", "z")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    rows = khop_sample(edges, seeds, (5, 5)).collect()
    per_node = {}
    for r in rows:
        per_node.setdefault((r["seed"], r["node"]), []).append(r["hop"])
    assert all(len(h) == 1 for h in per_node.values())
    assert per_node[("s", "x")] == [1] and per_node[("s", "y")] == [1]
    assert per_node[("s", "z")] == [2]


def test_dense_ordinal_is_sorted_rank(spark):
    from rdfcmap_spark.operators.traindata import dense_ordinal

    vals = [f"e{i:03d}" for i in range(97)]
    import random

    shuffled = vals[:]
    random.Random(7).shuffle(shuffled)
    df = spark.createDataFrame([(v,) for v in shuffled], "ent string").repartition(9)
    got = {r["ent"]: r["idx"] for r in dense_ordinal(df, "ent", n_parts=5).collect()}
    assert got == {v: i + 1 for i, v in enumerate(sorted(vals))}


def test_kg_negatives_hand_computed(spark):
    from rdfcmap_spark.operators.traindata import kg_negatives

    trips = [
        ("a", "knows", "b"),
        ("a", "knows", "c"),
        ("b", "likes", "c"),
        ("c", "knows", "a"),
    ]
    t = spark.createDataFrame(trips, "subj string, pred string, obj string").repartition(3)
    got = {
        (r["subj"], r["pred"], r["obj"], r["neg_i"]): r["neg_obj"]
        for r in kg_negatives(t, k=3).collect()
    }

    ents = sorted({s for s, _, _ in trips} | {o for _, _, o in trips})
    true = set(trips)
    expect = {}
    for s, p, o in trips:
        for i in range(1, 4):
            idx = int(_md5(f"{s}|{p}|{o}:neg{i}")[:6], 16) % len(ents) + 1
            neg = ents[idx - 1]
            if neg != o and (s, p, neg) not in true:
                expect[(s, p, o, i)] = neg
    assert got == expect
    assert len(expect) > 0


def test_triangle_count_hand_built(spark):
    from rdfcmap_spark.operators.graph import triangle_count

    # K4 minus edge cd -> triangles abc, abd; reversed duplicates and a
    # self-loop must be canonicalized away; star h-x* contributes nothing
    edges = [
        ("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("e", "e"),
        ("h", "x1"), ("h", "x2"), ("h", "x3"), ("h", "x4"), ("h", "x5"),
    ]
    df = spark.createDataFrame(edges, "a string, b string").repartition(4)
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {"a": 2, "b": 2, "c": 1, "d": 1}


def test_triangle_count_k4(spark):
    from rdfcmap_spark.operators.graph import triangle_count

    edges = [(x, y) for x in "abcd" for y in "abcd" if x < y]
    df = spark.createDataFrame(edges, "a string, b string")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {c: 3 for c in "abcd"}


def test_kcore_cascade_and_thresholds(spark):
    from rdfcmap_spark.operators.graph import kcore

    # K4 on a,b,c,d plus a pendant chain d-e-f: peeling f cascades to e
    edges = [(x, y) for x in "abcd" for y in "abcd" if x < y] + [("d", "e"), ("e", "f")]
    df = spark.createDataFrame(edges, "a string, b string").repartition(3)
    got2 = {r["node"]: r["deg"] for r in kcore(df, k=2).collect()}
    assert got2 == {"a": 3, "b": 3, "c": 3, "d": 3}
    got3 = {r["node"]: r["deg"] for r in kcore(df, k=3).collect()}
    assert got3 == {"a": 3, "b": 3, "c": 3, "d": 3}
    assert kcore(df, k=4).count() == 0


def test_label_propagation_splits_bridged_triangles(spark):
    """Two triangles joined by one bridge edge: CC would merge everything;
    LPA's fixed point keeps one community per triangle (hand-traced)."""
    from rdfcmap_spark.operators.graph import label_propagation

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"), ("d", "f"), ("e", "f"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string").repartition(3)
    got = {r["node"]: r["label"] for r in label_propagation(df, rounds=6).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "c", "e": "c", "f": "c"}


def test_ktruss_cascade_to_k4(spark):
    from rdfcmap_spark.operators.graph import ktruss

    # K4 {a,b,c,d} + vertex e on a,b: edge ab starts at support 3
    # ({c,d,e}); round 1 peels ae/be (support 1), which DROPS ab to
    # support 2 — the recompute-on-current-subgraph cascade
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    df = spark.createDataFrame(k4 + [("a", "e"), ("b", "e")], "a string, b string")
    got = {(r["a"], r["b"]): r["support"] for r in ktruss(df, k=4).collect()}
    assert got == {e: 2 for e in k4}


def test_ktruss_k3_keeps_all_triangle_edges(spark):
    from rdfcmap_spark.operators.graph import ktruss

    # two triangles sharing vertex c + a pendant edge (d,x): k=3 keeps
    # every triangle edge (support >= 1), drops the pendant
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("c", "e"), ("d", "e"), ("d", "x")]
    got = {(r["a"], r["b"]) for r in ktruss(spark.createDataFrame(edges, "a string, b string"), k=3).collect()}
    assert got == set(edges) - {("d", "x")}


def test_adamic_adar_hand_computed(spark):
    import math

    from rdfcmap_spark.operators.graph import adamic_adar

    # square a-b-c-d-a: non-edges (a,c) and (b,d), each with two deg-2
    # common neighbors -> nano = 2*floor(1e9/ln 2)
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], "a string, b string"
    )
    got = {(r["a"], r["b"]): r for r in adamic_adar(df).collect()}
    nano1 = math.floor(1e9 / math.log(2.0))
    assert set(got) == {("a", "c"), ("b", "d")}
    for r in got.values():
        assert r["n_common"] == 2
        assert r["aa_nano"] == 2 * nano1
        assert r["aa_score"] == round(2 * nano1 / 1e9, 9)


def test_adamic_adar_center_cap_excludes_hub(spark):
    from rdfcmap_spark.operators.graph import adamic_adar

    # star: hub h connected to x1..x4 (deg 4). cap=3 excludes the only
    # wedge center -> no candidates at all
    df = spark.createDataFrame(
        [("h", f"x{i}") for i in range(4)], "a string, b string"
    )
    assert adamic_adar(df, max_center_degree=3).count() == 0
    # cap >= 4 admits the hub: all 6 leaf pairs become candidates
    assert adamic_adar(df, max_center_degree=4).count() == 6


def _ref_walks(edges, walk_len=4, n_walks=2, seed="walk"):
    """Driver-side mirror of random_walks' md5-min step rule."""
    import hashlib

    sym = {}
    for s, d in edges:
        if s != d:
            sym.setdefault(s, set()).add(d)
            sym.setdefault(d, set()).add(s)
    rows = []
    for start in sym:
        for wk in range(n_walks):
            walk_id = f"{start}#{wk}"
            node = start
            rows.append((walk_id, start, 0, node))
            for step in range(1, walk_len + 1):
                key = lambda v: (
                    hashlib.md5(
                        f"{seed}|{walk_id}|{step}|{node}|{v}".encode()
                    ).hexdigest()
                    + "|"
                    + v
                )
                node = min(sym[node], key=key)
                rows.append((walk_id, start, step, node))
    return sorted(rows)


def test_random_walks_match_python_mirror(spark):
    from rdfcmap_spark.operators.graph import random_walks

    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("b", "d"), ("e", "a")]
    df = spark.createDataFrame(edges, "src string, dst string").repartition(4)
    got = sorted(
        (r["walk_id"], r["start"], r["step"], r["node"])
        for r in random_walks(df, walk_len=4, n_walks=2).collect()
    )
    assert got == _ref_walks(edges)
    # every consecutive pair is a real (symmetrized) edge
    sym = {(s, d) for s, d in edges} | {(d, s) for s, d in edges}
    byw = {}
    for wid, _, step, node in got:
        byw.setdefault(wid, {})[step] = node
    for steps in byw.values():
        for i in range(len(steps) - 1):
            assert (steps[i], steps[i + 1]) in sym


def test_lm_bigram_hand_computed(spark):
    import math

    from rdfcmap_spark.operators.textstats import lm_score_bigram

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b a"), (3, "a")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in lm_score_bigram(docs).collect()}
    # corpus: C(a,b)=1 C(b,a)=2; ctx a=1 b=2; V=2
    lp_ab = round(math.log(2 / 3), 6)   # (1+1)/(1+2)
    lp_ba = round(math.log(3 / 4), 6)   # (2+1)/(2+2)
    assert got[1]["n_bigrams"] == 2 and got[1]["n_unseen_ctx"] == 1
    assert got[1]["avg_nll"] == round(-(lp_ab + lp_ba) / 2, 4)
    assert got[2]["n_bigrams"] == 1 and got[2]["n_unseen_ctx"] == 0
    assert got[2]["avg_nll"] == round(-lp_ba, 4)
    # single-token doc: no bigrams, NULL score (not dropped)
    assert got[3]["n_bigrams"] == 0 and got[3]["avg_nll"] is None


def test_mixture_weights_hand_computed(spark):
    from rdfcmap_spark.operators.traindata import mixture_weights

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "web"),       # 4 tokens
            (2, "a b c d e f", "web"),   # 6 tokens
            (3, "x y", "books"),         # 2 tokens
        ],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in mixture_weights(docs).collect()}
    assert got["web"]["n_docs"] == 2 and got["web"]["n_tokens"] == 10
    assert got["books"]["n_tokens"] == 2
    # uniform target 0.5 each; obs web 10/12, books 2/12
    assert got["web"]["obs_share"] == round(10 / 12, 9)
    assert got["web"]["weight"] == round(0.5 / (10 / 12), 6)
    assert got["books"]["weight"] == round(0.5 / (2 / 12), 6)  # 3x upsample
    # explicit target override
    got2 = {
        r["source"]: r
        for r in mixture_weights(docs, {"web": 0.9, "books": 0.1}).collect()
    }
    assert got2["web"]["target_share"] == 0.9
    assert got2["books"]["weight"] == round(0.1 / (2 / 12), 6)


def test_ktruss_rejects_zero_rounds(spark):
    import pytest as _pytest

    from rdfcmap_spark.operators.graph import ktruss

    df = spark.createDataFrame([("a", "b")], "a string, b string")
    with _pytest.raises(ValueError, match="rounds >= 1"):
        ktruss(df, k=3, rounds=0)


def test_chunk_documents_windows_and_overlap(spark):
    from rdfcmap_spark.operators.traindata import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, words), (2, "a b c"), (3, ""), (4, "solo")], "doc_id long, text string"
    )
    rows = chunk_documents(docs, window=4, overlap=2).collect()
    got = {(r["doc_id"], r["chunk_idx"]): (r["n_chunk_tokens"], r["chunk_text"]) for r in rows}
    # doc 1: 10 tokens, stride 2 -> starts 0,2,4,6 (start 8's "w8 w9" is
    # fully contained in chunk 3, so it is NOT emitted — r4 ADVICE)
    assert got[(1, 0)] == (4, "w0 w1 w2 w3")
    assert got[(1, 1)] == (4, "w2 w3 w4 w5")
    assert got[(1, 3)] == (4, "w6 w7 w8 w9")
    assert (1, 4) not in got
    # doc 2: 3 tokens -> ONE chunk covering the doc (the old start-2
    # remainder "c" was a strict subset of it)
    assert got[(2, 0)] == (3, "a b c")
    assert (2, 1) not in got
    # empty doc -> no chunks; single token -> one chunk
    assert not any(d == 3 for d, _ in got)
    assert got[(4, 0)] == (1, "solo")
    # overlap consistency: consecutive chunks share `overlap` tokens
    assert got[(1, 1)][1].split()[:2] == got[(1, 0)][1].split()[2:]
    # every chunk contributes unseen tokens: coverage strictly grows
    ends = [s * 2 + got[(1, i)][0] for i, s in enumerate([0, 1, 2, 3])]
    assert ends == sorted(set(ends)) and ends[-1] == 10


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from rdfcmap_spark.operators.traindata import chunk_documents

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, window=4, overlap=4)


def test_triangle_enumeration_array_equals_wedge(spark):
    """The round-5 array-intersect enumeration and the wedge-join fallback
    emit the same oriented triangle set (consumers select by name, so
    column ORDER may differ between the two)."""
    from rdfcmap_spark.operators.graph import (
        _canonical_undirected,
        _oriented_triangles,
        _oriented_triangles_wedge,
    )

    edges = spark.createDataFrame(
        [(a, b) for a in range(9) for b in range(9) if a < b and (a + b) % 3 != 0],
        "a string, b string",
    )
    und = _canonical_undirected(edges)
    cols = ["wu", "wv", "ww"]
    a = {tuple(r) for r in _oriented_triangles(und).select(*cols).collect()}
    b = {tuple(r) for r in _oriented_triangles_wedge(und).select(*cols).collect()}
    assert a == b and len(a) > 0


def test_triangle_cache_shared_across_consumers(spark):
    """triangle_count and ktruss over a semantically identical edge list
    share ONE persisted enumeration (the r4 review's top bench item).

    Note: in-memory createDataFrame frames are RDD-backed (LogicalRDD),
    which never canonicalizes equal across two separate createDataFrame
    calls — so this test derives both consumers from ONE base frame (two
    independent .select lineages over it DO canonicalize equal). The
    registry's parquet-scan lineages hit the cache even when rebuilt from
    scratch (two independent lambdas over the same path share an entry —
    measured at sf0.1: ktruss cold 19-29 s vs 11-14 s riding
    triangle_count's enumeration)."""
    from rdfcmap_spark.operators import graph

    base = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("b", "d"), ("a", "d")],
        "a string, b string",
    )

    def edges():
        return base.select("a", "b")

    graph.clear_triangle_cache()
    try:
        n1 = {r["node"]: r["n_triangles"] for r in graph.triangle_count(edges()).collect()}
        assert len(graph._TRI_CACHE) == 1
        cached = graph._TRI_CACHE[0][1]
        kept = graph.ktruss(edges(), k=4, rounds=3).collect()
        # ktruss REUSED the entry (no second enumeration was registered)
        assert len(graph._TRI_CACHE) == 1 and graph._TRI_CACHE[0][1] is cached
        assert n1 == {"a": 3, "b": 3, "c": 3, "d": 3}  # K4 = 4 triangles, 3 each
        assert {(r["a"], r["b"]) for r in kept} == {
            ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")
        }
        # a DIFFERENT edge set (a filter lineage off the same base) gets
        # its own entry
        other = base.filter(F.col("a") != "c")
        graph.triangle_count(other).collect()
        assert len(graph._TRI_CACHE) == 2
    finally:
        graph.clear_triangle_cache()
    assert len(graph._TRI_CACHE) == 0


def test_triangle_cache_after_source_overwrite(spark, tmp_path):
    """The cache is keyed on the plan, so a parquet source overwritten in
    the same session hits the old entry; Spark's cache manager drops the
    persisted triangles of an overwritten path, so the reused entry
    recomputes from the new files instead of serving stale triangles."""
    from rdfcmap_spark.operators import graph

    path = str(tmp_path / "edges")
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    spark.createDataFrame(k4, "a string, b string").write.parquet(path)
    graph.clear_triangle_cache()
    try:
        assert graph.triangle_count(spark.read.parquet(path)).count() == 4
        spark.createDataFrame([("a", "b"), ("b", "c")], "a string, b string").write.mode(
            "overwrite"
        ).parquet(path)
        assert graph.triangle_count(spark.read.parquet(path)).collect() == []
        assert graph.ktruss(spark.read.parquet(path), k=3).collect() == []
        assert len(graph._TRI_CACHE) == 1
    finally:
        graph.clear_triangle_cache()
