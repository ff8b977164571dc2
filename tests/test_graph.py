"""graph.bfs_hops, graph.transitive_closure and graph.hierarchy_levels
against python mirrors on small hand-built graphs."""

from __future__ import annotations

from rdfcmap_spark.operators.graph import bfs_hops, hierarchy_levels, transitive_closure


def _py_closure(edges):
    """Every (a, b) joined by a directed path of >= 1 edges."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    out = set()
    for a in adj:
        todo, seen = list(adj[a]), set()
        while todo:
            b = todo.pop()
            if b not in seen:
                seen.add(b)
                todo.extend(adj.get(b, ()))
        out |= {(a, b) for b in seen}
    return out


def test_bfs_hops_min_depth_two_seeds_cycle_and_cap(spark):
    # s1 -> a -> b -> c -> a (cycle back), s1 -> c (c at depth 1 AND 3),
    # s2 -> d -> e -> f (f at depth 3), seeds s1 and s2
    edges = spark.createDataFrame(
        [("s1", "a"), ("a", "b"), ("b", "c"), ("c", "a"), ("s1", "c"),
         ("s2", "d"), ("d", "e"), ("e", "f"), ("c", "s1")],
        "src string, dst string",
    ).repartition(3)
    seeds = spark.createDataFrame([("s1",), ("s2",)], "node string")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds).collect()}
    assert got == {"s1": 0, "s2": 0, "a": 1, "c": 1, "d": 1, "b": 2, "e": 2, "f": 3}
    capped = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=2).collect()}
    assert capped == {k: v for k, v in got.items() if v <= 2}


def test_transitive_closure_cycle_with_self_loop(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "c"), ("c", "d")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    got = {tuple(r) for r in transitive_closure(edges).select("src", "dst").collect()}
    assert got == _py_closure(pairs)
    # every cycle member reaches itself; d (a sink) reaches nothing
    assert {("a", "a"), ("b", "b"), ("c", "c")} <= got
    assert not any(s == "d" for s, _ in got)


def test_hierarchy_levels_diamond_and_two_cycle(spark):
    # diamond: leaf -> {l, r} -> top; plus the 2-cycle x <-> y under top
    pairs = [("leaf", "l"), ("leaf", "r"), ("l", "top"), ("r", "top"),
             ("x", "y"), ("y", "x"), ("y", "top")]
    df = spark.createDataFrame(pairs, "child string, parent string")
    got = {r["node"]: r["level"] for r in hierarchy_levels(df).collect()}
    expect = {}
    for a, _ in _py_closure(pairs):
        expect[a] = expect.get(a, 0) + 1
    assert got == expect
    # the diamond's top is counted once; x and y each count themselves
    assert got["leaf"] == 3 and got["x"] == 3 and got["y"] == 3
