"""Layer spans recorded around calls into the program, and their roll-up
against Spark's event log.

A span is opened around one call into a layer's public function and closes
when the layer's output has been forced. Before the call the span's id is set
as the Spark job group, so every job the call submits carries it; after the
session stops, the event log's job and task records are grouped by that id.
Spans are kept in memory and written out once, at the end of the run.

The untraced run uses :class:`NullTracer`, whose spans cost nothing and set
no job group, so the same op code serves both runs.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: the WARN Spark logs when a plan is too wide for whole-stage codegen
CODEGEN_FALLBACK = b"Whole-stage codegen disabled for plan"


@dataclass
class Span:
    layer: str
    group: str
    op: int
    parent: str | None
    start: float = 0.0
    end: float = 0.0
    rows: int = 0
    extra: dict = field(default_factory=dict)
    log_from: int = 0
    log_to: int = 0


class NullTracer:
    """Untraced runs: spans are free and touch no Spark state."""

    enabled = False

    def begin_op(self, op: int) -> None:
        pass

    @contextmanager
    def span(self, layer: str):
        yield Span(layer, "", 0, None)


class Tracer:
    """Records spans; ``jvm_log`` is the file the JVM's log goes to, read
    by byte offset so a span can count the WARN lines logged inside it."""

    enabled = True

    def __init__(self, spark, jvm_log: str):
        self.sc = spark.sparkContext
        self.jvm_log = jvm_log
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = 0

    def begin_op(self, op: int) -> None:
        self.op = op
        self.sc.setJobGroup(f"op{op}:untraced", "outside any layer span")

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(layer, f"op{self.op}:{len(self.spans)}:{layer}", self.op,
                  parent.group if parent else f"op{self.op}")
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, layer)
        sp.log_from = os.path.getsize(self.jvm_log)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.log_to = os.path.getsize(self.jvm_log)
            self._stack.pop()
            self.sc.setJobGroup(
                parent.group if parent else f"op{self.op}:untraced", "restored"
            )

    def codegen_fallbacks(self, sp: Span) -> int:
        with open(self.jvm_log, "rb") as f:
            f.seek(sp.log_from)
            return f.read(sp.log_to - sp.log_from).count(CODEGEN_FALLBACK)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f, indent=1)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _event_files(log_dir: str) -> list[str]:
    """Spark 4's rolling event log, ``eventlog_v2_<app>/events_<N>_<app>.zstd``,
    in write order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files or not all(f.endswith(".zstd") for f in files):
        raise RuntimeError(f"expected a rolling zstd event log under {log_dir}, found {files}")
    return sorted(files, key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))


def read_events(log_dir: str):
    import pyarrow as pa

    for path in _event_files(log_dir):
        with pa.OSFile(path, "rb") as raw, pa.CompressedInputStream(raw, "zstd") as f:
            data = f.read()
        for line in data.splitlines():
            if line.strip():
                yield json.loads(line)


@dataclass
class GroupStats:
    jobs: list = field(default_factory=list)  # [submit_s, complete_s]
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    bytes_written_mb: float = 0.0


def rollup_by_group(events) -> dict[str, GroupStats]:
    """Job intervals and summed task metrics per ``spark.jobGroup.id``."""
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    job_of: dict[int, list] = {}
    stage_group: dict[int, str] = {}
    mb = 1024.0 * 1024.0
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            interval = [e["Submission Time"] / 1000.0, None]
            job_of[e["Job ID"]] = interval
            out[g].jobs.append(interval)
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_of:
                job_of[e["Job ID"]][1] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            st = out[stage_group.get(e.get("Stage ID"), "")]
            st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / mb
            st.spill_mb += m.get("Disk Bytes Spilled", 0) / mb
            st.bytes_written_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / mb
    return out


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    cut = sorted((max(a, lo), min(b if b is not None else hi, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_metrics(sp: Span, groups: dict[str, GroupStats]) -> dict[str, float]:
    """The generic layer metrics of one leaf span, plus its output bytes."""
    g = groups.get(sp.group, GroupStats())
    wall = sp.end - sp.start
    return {
        "wall_s": wall,
        "driver_gap_s": wall - _covered(g.jobs, sp.start, sp.end),
        "jobs": float(len(g.jobs)),
        "task_cpu_s": g.task_cpu_s,
        "gc_s": g.gc_s,
        "shuffle_write_mb": g.shuffle_write_mb,
        "spill_mb": g.spill_mb,
        "rows_out": float(sp.rows),
        "bytes_written_mb": g.bytes_written_mb,
    }
