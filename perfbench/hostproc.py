"""Host and process readings from ``/proc``: process start time, JVM memory
high-water mark and CPU time, host steal share and load average.

Every reading is taken from outside the program: the JVM is found by pid,
the host through the kernel's counters. Nothing here starts a process.
"""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def process_start_epoch() -> float:
    """Wall-clock epoch seconds at which this process was started."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    with open("/proc/self/stat") as f:
        # field 22 (starttime, ticks since boot); split after the ")" that
        # closes the command name, which may itself contain spaces
        fields = f.read().rsplit(")", 1)[1].split()
    return btime + int(fields[19]) / _TICK


def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds ``pid`` has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def self_max_rss_mb() -> float:
    """Peak resident set size of this Python process in MB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def cpu_times() -> list[int]:
    """Aggregate host CPU counters from ``/proc/stat`` (ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two readings."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total > 0 else 0.0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
