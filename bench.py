"""Host-load probes for ``perfbench/run.py``, read from ``/proc``.

``perfbench/run.py`` loads this file by path and uses four helpers: the
1-minute load average, machine-wide CPU jiffies, the CPU jiffies of this
process tree, and the rule that flags a run as contended when foreign
processes took more than 5% of the machine. Off Linux the probes return
sentinel values (-1.0 or 0) and the rule falls back to the load average.
"""

from __future__ import annotations

import os


def _loadavg() -> float:
    """1-minute load average — recorded in the output JSON so a contended run
    can never masquerade as a code regression (see BASELINE.md round-2/3
    contention post-mortems). Bench timings on this box inflate 2-4x when a
    concurrent JVM is running."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):  # non-Linux fallback
        return -1.0


def _cpu_sample() -> tuple[int, int]:
    """(total, busy) jiffies across all CPUs from /proc/stat line 1."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    total = sum(vals)
    idle = vals[3] + vals[4]  # idle + iowait
    return total, total - idle


def _own_cpu() -> int:
    """utime+stime (+ reaped children's cutime+cstime) jiffies summed over
    this process and every live descendant — the bench python, the Spark JVM
    it spawns, and the JVM's python workers. Deltas of this against
    /proc/stat busy time attribute CPU to *foreign* processes exactly:
    loadavg can't distinguish our own 32-thread JVM from a competitor, this
    does (the BENCH_r04_solo post-mortem: loadavg start/end sampling missed a
    mid-run competitor entirely).

    Known limit: a descendant that double-forks/daemonizes (reparented to
    PID 1) leaves the walked tree and its CPU counts as foreign — can only
    FALSELY FLAG a clean run, never hide a competitor, so the guard stays
    conservative. Spark's JVM + reused python workers stay in-tree."""
    procs: dict[int, tuple[int, int]] = {}
    try:
        pids = [d for d in os.listdir("/proc") if d.isdigit()]
    except OSError:
        return 0
    for d in pids:
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
            rest = s[s.rindex(")") + 2 :].split()
            procs[int(d)] = (
                int(rest[1]),  # ppid
                int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
            )
        except (OSError, ValueError, IndexError):
            continue
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    own, stack = 0, [os.getpid()]
    while stack:
        p = stack.pop()
        if p in procs:
            own += procs[p][1]
            stack.extend(children.get(p, []))
    return own


def _is_contended(foreign_frac: float, load_start: float) -> bool:
    """Flag the artifact on FOREIGN cpu alone: loadavg cannot distinguish our
    own 32-thread JVM (or one that just exited — 1-min decay) from a real
    competitor, and r5's artifact self-flagged on loadavg 2.07 with
    foreign_cpu_frac 0.0. loadavg is only the fallback when /proc/stat
    sampling failed (foreign_frac < 0)."""
    return foreign_frac > 0.05 or (foreign_frac < 0 and load_start > 2.0)
