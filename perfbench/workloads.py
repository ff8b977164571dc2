"""The benchmark's workloads: seeded inputs, one closed-loop op each, and the
checks every op must pass.

Both workloads run warm ops against one long-lived session. ``op(tracer)``
is the timed call; ``check_op`` runs after the timer stops, compares the
op's output with the first op's (the reference) and returns the triples the
op produced or consumed; ``verify`` checks the reference once per run
against an independent evaluation.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections import Counter

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import functions as F

from rdfcmap_spark import synth, vocab
from rdfcmap_spark.operators import canonicalize, graph, sparql_exec
from rdfcmap_spark.plans import staged
from rdfcmap_spark.schemas import TRANSCRIPTS, TRIPLE_KEY, TRIPLES
from rdfcmap_spark.sources import sink

TURNS = 8


class OpCheckFailed(Exception):
    """An op's output differs from the checked reference."""


def _hash_row(df, cols):
    """(count, order-insensitive xxhash64 sum of ``cols``) in one aggregate."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def _shuffled(pdf: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Seeded row order: the seed decides which rows share a partition."""
    order = np.random.RandomState(seed).permutation(len(pdf))
    return pdf.iloc[order].reset_index(drop=True)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, run_dir: str, cpus: int):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.cpus = cpus
        self._persisted: list[str] = []

    def _persist(self, name: str, df) -> int:
        """Persist ``df`` as attribute ``name``; returns its row count."""
        setattr(self, name, df.persist(StorageLevel.MEMORY_AND_DISK))
        self._persisted.append(name)
        return getattr(self, name).count()

    def release(self) -> None:
        """Unpersist every frame the benchmark persisted and drop it."""
        while self._persisted:
            name = self._persisted.pop()
            getattr(self, name).unpersist()
            setattr(self, name, None)

    # subclasses: generate(), prepare(), op(tracer), check_op(result), verify()


# ---------------------------------------------------------------------------
# job_staged
# ---------------------------------------------------------------------------

#: staged stage name -> the layer whose work the stage's snapshot holds
STAGE_LAYER = {
    "sent": "extract_link",
    "raw_triples": "rewrite_dedup",
    "identity_edges": "identity",
    "mapping": "cc",
    "triples": "rewrite_dedup",
}


class JobStaged(Workload):
    """Transcripts through ``plans.staged.run_staged``: a cold run into a
    fresh workdir, then a second call that must resume all five stages."""

    name = "job_staged"
    BASE_CONVS = 240
    min_ops = 1

    def generate(self) -> None:
        # the golden hardcodes conv ids and synth.SEED, so the seed moves
        # n_convs (hence every identifier value through the n_convs // 2
        # pool, hence the identity graph) and the partition order
        self.n_convs = self.BASE_CONVS + self.seed % 16
        self.pdf = _shuffled(synth.transcripts_pdf(self.n_convs, TURNS), self.seed)
        self.input_fp = f"bench-{self.n_convs}x{TURNS}-seed{self.seed}"
        self.reference = None  # (count, hash) of the first op's output
        self.reference_dir = None
        self.n_ops = 0

    def prepare(self) -> None:
        df = self.spark.createDataFrame(self.pdf, TRANSCRIPTS).repartition(2 * self.cpus)
        self._persist("transcripts", df)

    def op(self, tracer):
        self.n_ops += 1
        workdir = os.path.join(self.run_dir, f"staged-{self.n_ops}")
        unpatch = _patch_staged_layers(tracer) if tracer.enabled else None
        try:
            out, run = staged.run_staged(self.spark, self.transcripts, workdir, self.input_fp)
            with tracer.span("sink") as sp:
                _, resumed = staged.run_staged(self.spark, self.transcripts, workdir, self.input_fp)
                sp.extra["resume"] = 1
        finally:
            if unpatch:
                unpatch()
        if run.ran != list(STAGE_LAYER) or resumed.skipped != list(STAGE_LAYER):
            raise OpCheckFailed(f"ran {run.ran}, resumed {resumed.skipped}")
        n = run.metrics["triples"]["rows"]
        return n, out, workdir

    def check_op(self, result) -> int:
        """Outside the timed window: the op's output must hash-equal the
        reference; the reference's own workdir is kept for :meth:`verify`."""
        n, out, workdir = result
        got = _hash_row(out, TRIPLE_KEY)
        if self.reference is None:
            self.reference, self.reference_dir = got, workdir
        else:
            shutil.rmtree(workdir)
            if got != self.reference:
                raise OpCheckFailed(f"output {got} != reference {self.reference}")
        if got[0] != n:
            raise OpCheckFailed(f"manifest rows {n} != output rows {got[0]}")
        return n

    def verify(self) -> list[str]:
        """The reference output's key set must equal the golden exactly."""
        golden = synth.expected_triples(self.n_convs, TURNS).triples
        out = self.spark.read.parquet(os.path.join(self.reference_dir, "triples"))
        got = {tuple(r) for r in out.select(*TRIPLE_KEY).collect()}
        shutil.rmtree(self.reference_dir)
        errs = []
        if got != golden:
            errs.append(
                f"staged output != golden: {len(got - golden)} extra, "
                f"{len(golden - got)} missing of {len(golden)}"
            )
        return errs


def _patch_staged_layers(tracer):
    """Traced run only: wrap the module attributes the staged runner calls,
    so each stage's layer is forced as its own step (persist + count) before
    ``sink.write_snapshot`` writes it, and CC is timed as one call."""
    orig_write = sink.write_snapshot
    orig_cc = canonicalize.connected_components

    def write_snapshot(df, path, *args, extra_meta=None, **kw):
        layer = STAGE_LAYER[(extra_meta or {})["stage"]]
        with tracer.span(layer) as sp:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            sp.rows = df.count()
            sp.extra["stage"] = extra_meta["stage"]
        try:
            with tracer.span("sink") as sp:
                manifest = orig_write(df, path, *args, extra_meta=extra_meta, **kw)
                sp.rows = manifest["row_count"]
        finally:
            df.unpersist()
        return manifest

    def connected_components(edges, *args, **kw):
        with tracer.span("cc") as sp:
            mapping = orig_cc(edges, *args, **kw)
            sp.rows = mapping.count()
        return mapping

    sink.write_snapshot = write_snapshot
    canonicalize.connected_components = connected_components

    def unpatch():
        sink.write_snapshot = orig_write
        canonicalize.connected_components = orig_cc

    return unpatch


# ---------------------------------------------------------------------------
# query_graph
# ---------------------------------------------------------------------------

QUERIES = {
    "agg": """
PREFIX dct: <http://purl.org/dc/terms/>
SELECT ?t (COUNT(*) AS ?n) WHERE { ?s a ?t . ?s dct:title ?title . }
GROUP BY ?t
""",
    "bgp": """
PREFIX obo: <http://purl.obolibrary.org/obo/>
PREFIX dct: <http://purl.org/dc/terms/>
SELECT ?a ?b ?t WHERE { ?a obo:BFO_0000063 ?b . ?b a ?t . ?a dct:title ?title . }
""",
    "path": """
PREFIX obo: <http://purl.obolibrary.org/obo/>
SELECT ?a ?b WHERE { ?a obo:BFO_0000063+ ?b . }
""",
}
PRECEDES = vocab.OBO + "BFO_0000063"
PR_ITERS = 3
KCORE_K = 3


def entity_edges(kg: pd.DataFrame) -> pd.DataFrame:
    """Entity -> entity IRI edges of the KG: relation triples whose subject
    and object are both minted instance IRIs."""
    rel = kg[kg["obj_iri"].notna() & (kg["pred"] != vocab.RDF_TYPE)]
    rel = rel[rel["subj"].str.startswith("urn:uuid:") & rel["obj_iri"].str.startswith("urn:uuid:")]
    return rel[["subj", "obj_iri"]].rename(columns={"subj": "src", "obj_iri": "dst"})


class QueryGraph(Workload):
    """A fixed mix of public query calls over a materialized KG: three
    SPARQL queries, PageRank and k-core. No pipeline code runs."""

    name = "query_graph"
    BASE_CONVS = 500
    min_ops = 3

    def generate(self) -> None:
        # the KG is the golden triple set of the synthetic corpus — the set
        # the pipeline builds from it (its exact-equality contract) — so
        # setup pays no pipeline run and the op touches only query layers
        self.n_convs = self.BASE_CONVS + self.seed % 16
        golden = synth.expected_triples(self.n_convs, TURNS)
        kg = pd.DataFrame(sorted(golden.triples), columns=TRIPLE_KEY)
        kg["conv_id"] = None
        kg["turn_idx"] = None
        self.kg_pdf = _shuffled(kg, self.seed)
        self.edges_pdf = entity_edges(self.kg_pdf)
        self.reference = None

    def prepare(self) -> None:
        self.n_triples = self._persist("kg", self.spark.createDataFrame(self.kg_pdf, TRIPLES))
        self._persist("edges", self.spark.createDataFrame(self.edges_pdf, "src string, dst string"))

    def op(self, tracer):
        fp, results = {}, {}
        for name, text in QUERIES.items():
            with tracer.span("sparql_exec") as sp:
                res = sparql_exec.execute_sparql(self.kg, text).toPandas()
                sp.rows = len(res)
                sp.extra["query"] = name
            results[name] = res
            fp[name] = (len(res), _frame_digest(res))
        with tracer.span("graph") as sp:
            pr = graph.pagerank(self.edges, iters=PR_ITERS)
            row = pr.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("r_nano").alias("mass"),
                F.min("r_nano").alias("lo"),
                F.sum(F.xxhash64("node", "r_nano").cast("decimal(38,0)")).alias("h"),
            ).collect()[0]
            sp.rows = int(row["n"])
            sp.extra["call"] = "pagerank"
        fp["pagerank"] = (int(row["n"]), int(row["mass"]), int(row["lo"]), str(row["h"]))
        with tracer.span("graph") as sp:
            edges = self.edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            core = graph.kcore(edges, k=KCORE_K).toPandas()
            sp.rows = len(core)
            sp.extra["call"] = "kcore"
        results["kcore"] = core
        fp["kcore"] = (len(core), _frame_digest(core))
        return self.n_triples, fp, results

    def check_op(self, result) -> int:
        n, fp, results = result
        nodes, mass, lo, _ = fp["pagerank"]
        if nodes != self.n_nodes or not (0 < mass <= graph.PR_SCALE) or lo < 0:
            raise OpCheckFailed(f"pagerank nodes={nodes}/{self.n_nodes} mass={mass} min={lo}")
        if self.reference is None:
            self.reference, self.reference_results = fp, results
        elif fp != self.reference:
            raise OpCheckFailed(f"results {fp} != reference {self.reference}")
        return n

    @property
    def n_nodes(self) -> int:
        return len(set(self.edges_pdf["src"]) | set(self.edges_pdf["dst"]))

    def verify(self) -> list[str]:
        """The reference op's BGP, aggregate, path and k-core results against
        pandas/Python evaluations of the same KG."""
        kg, got = self.kg_pdf, self.reference_results
        errs = []
        typed = kg[kg["pred"] == vocab.RDF_TYPE][["subj", "obj_iri"]]
        titled = kg[kg["pred"] == vocab.DCT_TITLE][["subj"]]
        prec = kg[kg["pred"] == PRECEDES][["subj", "obj_iri"]].rename(columns={"subj": "a", "obj_iri": "b"})

        want_agg = Counter(typed.merge(titled, on="subj")["obj_iri"])
        if dict(zip(got["agg"]["t"], got["agg"]["n"].astype(int))) != dict(want_agg):
            errs.append("agg result != pandas")
        bgp = prec.merge(typed.rename(columns={"subj": "b", "obj_iri": "t"}), on="b").merge(
            titled.rename(columns={"subj": "a"}), on="a"
        )
        if Counter(map(tuple, got["bgp"][["a", "b", "t"]].values)) != Counter(map(tuple, bgp[["a", "b", "t"]].values)):
            errs.append("bgp result != pandas")
        if set(map(tuple, got["path"][["a", "b"]].values)) != _closure(prec):
            errs.append("path result != python closure")
        if set(map(tuple, got["kcore"][["node", "deg"]].values)) != _kcore(self.edges_pdf, KCORE_K):
            errs.append("kcore result != python peel")
        return errs


def _frame_digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a collected result."""
    rows = sorted(map(repr, pdf.itertuples(index=False, name=None)))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _closure(edges: pd.DataFrame) -> set:
    succ: dict[str, set] = {}
    for a, b in edges[["a", "b"]].values:
        succ.setdefault(a, set()).add(b)
    out = set()
    for a in succ:
        seen, todo = set(), list(succ[a])
        while todo:
            x = todo.pop()
            if x not in seen:
                seen.add(x)
                todo.extend(succ.get(x, ()))
        out.update((a, b) for b in seen)
    return out


def _kcore(edges: pd.DataFrame, k: int, rounds: int = 12) -> set:
    """Python mirror of ``graph.kcore``'s bounded synchronous peel."""
    und = {(min(a, b), max(a, b)) for a, b in edges[["src", "dst"]].values if a != b}

    def degrees(es):
        d = Counter()
        for a, b in es:
            d[a] += 1
            d[b] += 1
        return d

    e, n_prev = und, -1
    for _ in range(rounds):
        keep = {n for n, d in degrees(e).items() if d >= k}
        if len(keep) == n_prev:
            break
        n_prev = len(keep)
        e = {(a, b) for a, b in e if a in keep and b in keep}
    return {(n, d) for n, d in degrees(e).items() if d >= k}


WORKLOADS = {w.name: w for w in (JobStaged, QueryGraph)}
