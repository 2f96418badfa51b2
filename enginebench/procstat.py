"""CPU and memory readings for an engine's processes, from ``/proc``.

An engine is the driver Python process, the Spark JVM it starts, and the
PySpark worker daemon the JVM starts with its forked workers. The daemon
puts itself in a process group of its own, so the engine's processes are
found as the descendants of its root process (or of its process group, once
the root has exited), not by process group alone.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, pgid, CPU ticks incl. reaped children) of every live,
    non-zombie process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        f = raw[raw.rindex(")") + 2 :].split()
        if f[0] != "Z":
            out[int(name)] = (int(f[1]), int(f[2]), sum(int(x) for x in f[11:15]))
    return out


def _descendants(procs: dict, roots: set[int]) -> set[int]:
    found = set(roots)
    frontier = set(roots)
    while frontier:
        frontier = {p for p, (pp, _, _) in procs.items() if pp in frontier and p not in found}
        found |= frontier
    return found & set(procs)


def engine_pids(root: int) -> set[int]:
    """``root`` and all its live descendants."""
    return _descendants(_procs(), {root})


def engine_cpu_s(root: int) -> float:
    """CPU-seconds used so far by ``root`` and its descendants, with the
    children each has reaped (utime + stime + cutime + cstime)."""
    procs = _procs()
    return sum(procs[p][2] for p in _descendants(procs, {root})) / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of one process, in MiB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def roles(root: int) -> dict[str, list[int]]:
    """The engine's JVMs and PySpark worker processes (daemon and forks)."""
    out: dict[str, list[int]] = {"jvm": [], "worker": []}
    for pid in engine_pids(root):
        cmd = cmdline(pid)
        if "java" in cmd.split(" ", 1)[0]:
            out["jvm"].append(pid)
        elif "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            out["worker"].append(pid)
    return out


def kill_engine(pgid: int, timeout_s: float = 30.0) -> bool:
    """SIGKILL every process of group ``pgid`` and of the groups its
    descendants lead (the PySpark daemon's), then wait until none is left.
    Returns False if some survive ``timeout_s``."""
    procs = _procs()
    members = {p for p, (_, g, _) in procs.items() if g == pgid}
    groups = {pgid} | {procs[p][1] for p in _descendants(procs, members)}
    deadline = time.monotonic() + timeout_s
    while True:
        live = [p for p, (_, g, _) in _procs().items() if g in groups]
        if not live:
            return True
        if time.monotonic() > deadline:
            return False
        for g in groups:
            try:
                os.killpg(g, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
