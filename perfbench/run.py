"""Closed-loop benchmark of the KG-construction engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload job_staged --seed 1 --seconds 20 --trace 0

One process, one client, one long-lived ``build_session(cpus=nproc)``
session: the next op starts only when the previous one has completed and
been checked. ``--trace 0`` times warm ops and prints the end-to-end
metrics; ``--trace 1`` is a separate run that alternates traced and
untraced ops and prints the per-layer metrics. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. The line before it carries the samples, quartiles and host
diagnostics behind those numbers.

Everything the run writes (Spark scratch, JVM log, event log, staged
workdirs, span dump) goes under ``.bench_run/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import hostproc
import tracing

#: JVM heap, set through the session's own ``SPARK_DRIVER_MEMORY`` knob and
#: committed up front (-Xms, pre-touched): the default 16g heap grows at
#: G1's discretion, which made ``peak_rss_mb`` swing by 30% between
#: identical runs. With the heap's share fixed, ``peak_rss_mb`` moves with
#: memory outside the heap: off-heap pages, Arrow buffers, metaspace, Python.
DRIVER_HEAP = "3g"
#: full-size ops run before timing starts (untraced, traced run)
WARMUP_OPS = {False: 2, True: 1}
#: the traced run times one untraced and one traced op at least
TRACE_MIN_OPS = 2
#: stop starting ops once the process is this old (the run must end < 180 s)
HARD_STOP_S = 130.0

GENERIC_UNITS = {
    "wall_s": ("s", "lower"),
    "driver_gap_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "task_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "rows_out": ("count", "higher"),
}
SPAN_LAYERS = ("session", "extract_link", "identity", "cc", "rewrite_dedup",
               "sink", "sparql_exec", "graph")
EXTRA_UNITS = {
    "session.start_s": ("s", "lower"),
    "identity.edges_out": ("count", "higher"),
    "cc.edges_in": ("count", "higher"),
    "cc.distributed": ("flag", "lower"),
    "rewrite_dedup.candidates_per_triple": ("ratio", "lower"),
    "rewrite_dedup.codegen_fallbacks": ("count", "lower"),
    "sink.bytes_written_mb": ("MB", "lower"),
    "sink.bytes_per_triple": ("B", "lower"),
    "sink.resume_s": ("s", "lower"),
    "sparql_exec.agg_s": ("s", "lower"),
    "sparql_exec.bgp_s": ("s", "lower"),
    "sparql_exec.path_s": ("s", "lower"),
    "graph.pagerank_s": ("s", "lower"),
    "graph.kcore_s": ("s", "lower"),
    "graph.jobs_per_iter": ("count", "lower"),
    "process.cpu_s_per_op": ("s", "lower"),
    "process.steal_share": ("ratio", "lower"),
    "process.load1": ("procs", "lower"),
    "uncovered.wall_s": ("s", "lower"),
    "trace.op_wall_s": ("s", "lower"),
    "trace.untraced_op_s": ("s", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
}


def per_layer_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better)."""
    out = {f"{layer}.{m}": u for layer in SPAN_LAYERS for m, u in GENERIC_UNITS.items()}
    out.update(EXTRA_UNITS)
    return out


END_TO_END_UNITS = {
    "op_s": "s",
    "triples_per_s": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _sandbox(root: str, run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and let Spark's
    Python workers import the package from the checkout. Program tuning
    variables are cleared so the run measures the program's defaults, bar
    the heap size."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, root)


def _start_session(run_dir: str, cpus: int, trace: bool, jvm_log: str):
    """``build_session`` with the JVM's stdout/stderr sent to ``jvm_log``."""
    from rdfcmap_spark.session import build_session

    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.defaultJavaOptions": (
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
    sys.stdout.flush()
    sys.stderr.flush()
    saved = [os.dup(1), os.dup(2)]
    fd = os.open(jvm_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    try:
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        return build_session(cpus=cpus, app_name="perfbench", extra_conf=conf)
    finally:
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        for f in saved + [fd]:
            os.close(f)


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rdfcmap_spark", "plans", "staged.py")):
        print(f"perfbench: no rdfcmap_spark package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    proc_start = hostproc.process_start_epoch()
    run_dir = os.path.join(root, ".bench_run", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return _run(args, root, run_dir, proc_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, root, run_dir, proc_start) -> int:
    _sandbox(root, run_dir)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))
    jvm_log = os.path.join(run_dir, "jvm.log")

    t_session = time.time()
    spark = _start_session(run_dir, cpus, trace, jvm_log)
    session_span = tracing.Span("session", "session", -1, None, t_session, time.time())
    start_s = session_span.end - proc_start
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    tracer = tracing.Tracer(spark, jvm_log) if trace else tracing.NullTracer()
    untraced = tracing.NullTracer()

    errors: list[str] = []
    wl = W.WORKLOADS[args.workload](spark, args.seed, run_dir, cpus)
    excluded = 0.0  # the benchmark's own output checks are not set-up
    phases: dict[str, float] = {}
    try:
        t = time.perf_counter()
        wl.generate()
        phases["generate_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare()
        phases["prepare_s"] = time.perf_counter() - t
        t_warm = time.perf_counter()
        for _ in range(WARMUP_OPS[trace]):
            res = wl.op(untraced)
            t = time.perf_counter()
            wl.check_op(res)
            excluded += time.perf_counter() - t
        phases["warmup_s"] = time.perf_counter() - t_warm - excluded
    except Exception:
        traceback.print_exc()
        if not _jvm_dead():
            _stop_session(spark)
        return _failed_run(1, 1)
    setup_s = time.time() - proc_start - excluded

    min_ops = TRACE_MIN_OPS if trace else wl.min_ops
    ops: list[dict] = []
    failed = 0
    cpu0, stat0 = hostproc.cpu_seconds(jvm_pid), hostproc.cpu_times()
    t_loop = time.time()
    while True:
        i = len(ops)
        traced = trace and i % 2 == 1
        tr = tracer if traced else untraced
        tr.begin_op(i)
        rec = {"op": i, "traced": traced, "ok": False}
        t0 = time.time()
        try:
            res = wl.op(tr)
            rec["wall_s"] = time.time() - t0
            rec["triples"] = wl.check_op(res)
            rec["ok"] = True
        except Exception as e:
            rec.setdefault("wall_s", time.time() - t0)
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            traceback.print_exc()
            failed += 1
        rec["end"] = time.time()
        ops.append(rec)
        if not rec["ok"] and _jvm_dead():
            return _failed_run(len(ops), failed)
        done_ok = sum(1 for o in ops if o["ok"])
        if rec["end"] - proc_start > HARD_STOP_S:
            break
        if rec["end"] - t_loop >= args.seconds and done_ok >= min_ops:
            break
    cpu1, stat1 = hostproc.cpu_seconds(jvm_pid), hostproc.cpu_times()
    diag = {
        "steal_share": hostproc.steal_share(stat0, stat1),
        "load1": hostproc.load1(),
        "jvm_cpu_s_per_op": (cpu1 - cpu0) / len(ops),
    }
    try:
        errors += wl.verify()
    except Exception as e:
        traceback.print_exc()
        errors.append(f"verify: {type(e).__name__}: {e}")
    wl.release()
    peak_rss_mb = hostproc.vm_hwm_mb(jvm_pid) + hostproc.self_max_rss_mb()
    _stop_session(spark)

    plain = [o for o in ops if o["ok"] and not o["traced"]]
    if not plain:
        return _failed_run(len(ops), failed)
    walls = [o["wall_s"] for o in plain]
    op_s = statistics.median(walls)
    triples = plain[0]["triples"]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "op_samples": len(plain),
        "op_s_quartiles": _quartiles(walls),
        "op_walls_s": walls,
        "triples_per_op": triples,
        "start_s": start_s,
        "setup_s": setup_s,
        **phases,
        **diag,
        "errors": errors + [o["error"] for o in ops if "error" in o],
    }
    if trace:
        metrics = _layer_metrics(tracer, ops, session_span, start_s, diag, op_s,
                                 os.path.join(run_dir, "eventlog"))
        tracer.dump(os.path.join(root, ".bench_run", f"spans-{args.workload}-s{args.seed}.json"))
    else:
        metrics = {
            "op_s": op_s,
            "triples_per_s": triples / op_s,
            "peak_rss_mb": peak_rss_mb,
            "setup_s": setup_s,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not errors and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _failed_run(attempted: int, failed: int) -> int:
    """A run that could not time a single op, or whose JVM died, has no
    metrics: report the failure and exit non-zero."""
    print(json.dumps({"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}))
    return 1


def _jvm_dead() -> bool:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc is not None and proc.poll() is not None


def _layer_metrics(tracer, ops, session_span, start_s, diag, untraced_op_s, eventlog):
    """Per-layer metrics: per traced op, the sum over the layer's spans;
    reported as the mean over traced ops, so that layer walls plus the
    uncovered remainder add up to the mean traced op wall."""
    import workloads as W
    from rdfcmap_spark.operators import canonicalize

    groups = tracing.rollup_by_group(tracing.read_events(eventlog))
    traced = [o for o in ops if o["ok"] and o["traced"]]
    units = per_layer_units()
    per_op = []
    for o in traced:
        acc = {k: 0.0 for k in units}
        spans = [sp for sp in tracer.spans if sp.op == o["op"]]
        for sp in spans:
            m = tracing.span_metrics(sp, groups)
            for k in GENERIC_UNITS:
                acc[f"{sp.layer}.{k}"] += m[k]
            if sp.layer == "sink":
                acc["sink.bytes_written_mb"] += m["bytes_written_mb"]
                if sp.extra.get("resume"):
                    acc["sink.resume_s"] += m["wall_s"]
            if sp.layer == "identity":
                acc["identity.edges_out"] += sp.rows
                acc["cc.edges_in"] += sp.rows
            if sp.layer == "rewrite_dedup":
                acc["rewrite_dedup.codegen_fallbacks"] += tracer.codegen_fallbacks(sp)
            if "query" in sp.extra:
                acc[f"sparql_exec.{sp.extra['query']}_s"] += m["wall_s"]
            if "call" in sp.extra:
                acc[f"graph.{sp.extra['call']}_s"] += m["wall_s"]
                if sp.extra["call"] == "pagerank":
                    acc["graph.jobs_per_iter"] += m["jobs"] / W.PR_ITERS
        rows = {sp.extra.get("stage"): sp.rows for sp in spans if "stage" in sp.extra}
        if rows.get("triples"):
            acc["rewrite_dedup.candidates_per_triple"] = rows["raw_triples"] / rows["triples"]
            acc["sink.bytes_per_triple"] = acc["sink.bytes_written_mb"] * 1024 * 1024 / rows["triples"]
        acc["cc.distributed"] = float(acc["cc.edges_in"] > canonicalize.DRIVER_CC_MAX_EDGES)
        op_wall = o["wall_s"]
        acc["uncovered.wall_s"] = op_wall - sum(acc[f"{l}.wall_s"] for l in SPAN_LAYERS)
        acc["trace.op_wall_s"] = op_wall
        per_op.append(acc)
    out = {k: statistics.fmean(a[k] for a in per_op) if per_op else 0.0 for k in units}
    s = tracing.span_metrics(session_span, groups)
    for k in GENERIC_UNITS:
        out[f"session.{k}"] = s[k]
    out["session.start_s"] = start_s
    out["process.cpu_s_per_op"] = diag["jvm_cpu_s_per_op"]
    out["process.steal_share"] = diag["steal_share"]
    out["process.load1"] = diag["load1"]
    out["trace.untraced_op_s"] = untraced_op_s
    out["trace.overhead_share"] = out["trace.op_wall_s"] / untraced_op_s - 1.0 if per_op else 0.0
    return {k: {"value": v, "unit": units[k][0]} for k, v in out.items()}


if __name__ == "__main__":
    sys.exit(main())
