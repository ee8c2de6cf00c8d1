"""CPU accounting from ``/proc``: the benchmark's process tree and the host.

The tree is this Python process (the driver), its Java child (the Spark
JVM) and the JVM's Python descendants (the pyspark daemon and its
forked workers). A worker that exits is reaped by its parent, and its
CPU moves into the parent's ``cutime``/``cstime``, so summing own plus
reaped-children time over the live tree counts every finished worker
exactly once.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, str, float, float]]:
    """pid -> (ppid, comm, own cpu s, reaped-children cpu s)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # comm is parenthesised and may hold spaces; fields resume after ')'
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        f = raw[raw.rindex(")") + 2 :].split()
        out[int(name)] = (
            int(f[1]),
            comm,
            (int(f[11]) + int(f[12])) / _TICK,
            (int(f[13]) + int(f[14])) / _TICK,
        )
    return out


def tree_cpu() -> dict[str, float]:
    """CPU seconds so far of the driver, the JVM and the Python workers."""
    root = os.getpid()
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    acc = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    if root not in procs:
        return acc
    _, _, own, reaped = procs[root]
    acc["driver"] = own
    # reaped children of the driver are short-lived launch helpers
    acc["jvm"] += reaped
    stack = [(c, False) for c in kids.get(root, [])]
    while stack:
        pid, under_jvm = stack.pop()
        _, comm, own, reaped = procs[pid]
        if not under_jvm and comm == "java":
            acc["jvm"] += own
            # the JVM reaps pyspark daemons of stopped sessions
            acc["pyworker"] += reaped
            stack += [(c, True) for c in kids.get(pid, [])]
        elif under_jvm:
            acc["pyworker"] += own + reaped
            stack += [(c, True) for c in kids.get(pid, [])]
        else:
            acc["jvm"] += own + reaped
            stack += [(c, False) for c in kids.get(pid, [])]
    return acc


def kill_tree(timeout_s: float = 20.0) -> None:
    """SIGKILL every descendant of this process, then wait until each
    has ended: the JVM is reaped here, workers that were re-parented
    away are polled in ``/proc``."""
    root = os.getpid()
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    tree, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        tree.append(pid)
        stack += kids.get(pid, [])
    for pid in tree:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    for pid in tree:
        try:
            os.waitpid(pid, 0)
            continue
        except ChildProcessError:
            pass
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """Running, not gone or a zombie awaiting its new parent's reap."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def host_sample() -> dict[str, float]:
    """Host-wide counters for drift fields: steal, idle and total CPU
    seconds, and the 1-minute load average."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    # user nice system idle iowait irq softirq steal (guest is in user)
    return {
        "total_s": sum(f[:8]) / _TICK,
        "idle_s": (f[3] + f[4]) / _TICK,
        "steal_s": f[7] / _TICK,
        "load1": load1,
    }


def host_drift(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    """Drift fields between two samples. Recorded next to the metrics,
    never used to normalise them."""
    total = max(b["total_s"] - a["total_s"], 1e-9)
    return {
        "host.steal_s": b["steal_s"] - a["steal_s"],
        "host.idle_frac": (b["idle_s"] - a["idle_s"]) / total,
        "host.loadavg_1m": b["load1"],
    }
