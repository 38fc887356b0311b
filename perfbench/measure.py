"""Clocks and statistics for the benchmark: process-tree CPU time read
from ``/proc``, and medians/percentiles with the sample counts behind them."""

from __future__ import annotations

import os
import statistics

_TICK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_line: str) -> tuple[int, int, int]:
    """(ppid, own cpu ticks, reaped children's cpu ticks) of a stat line."""
    f = stat_line[stat_line.rindex(")") + 2:].split()
    # f[1] = ppid; utime, stime = f[11:13]; cutime, cstime = f[13:15]
    return int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process or thread exited meanwhile
        return None


def _jit_ticks(pid: int, into: dict) -> None:
    """CPU ticks of each JIT compiler thread of process ``pid``."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return
    for tid in tids:
        comm = _read(f"/proc/{pid}/task/{tid}/comm")
        if comm and "CompilerThre" in comm:
            stat = _read(f"/proc/{pid}/task/{tid}/stat")
            if stat:
                into[(pid, int(tid))] = _ticks(stat)[1]


class CpuSample:
    """CPU used so far by a process and all its live descendants — here
    the driver, the JVM it launched and the JVM's Python workers.
    Descendants that already exited count through their parent's
    reaped-children time. The JVM's JIT compiler threads are also read
    one by one, so their share of an interval can be told apart."""

    def __init__(self, root: int | None = None):
        root = os.getpid() if root is None else root
        table = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                stat = _read(f"/proc/{name}/stat")
                if stat:
                    table[int(name)] = _ticks(stat)
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        self.ticks = 0
        self.jit: dict[tuple[int, int], int] = {}
        # CPU time the hypervisor gave to other guests, summed over this
        # machine's CPUs: wall times stretch with it, CPU times do not
        self.steal = int(_read("/proc/stat").split("\n", 1)[0].split()[8])
        todo = [root]
        while todo:
            pid = todo.pop()
            if pid in table:
                self.ticks += table[pid][1] + table[pid][2]
                if pid != root:
                    _jit_ticks(pid, self.jit)
            todo.extend(children.get(pid, ()))

    def since(self, start: "CpuSample") -> tuple[float, float, float]:
        """(CPU seconds, of which JIT compiler threads, machine-wide steal
        seconds) from ``start`` to this sample."""
        jit = sum(t - start.jit.get(k, 0) for k, t in self.jit.items())
        return ((self.ticks - start.ticks) / _TICK, jit / _TICK,
                (self.steal - start.steal) / _TICK)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))
    return s[k]


def summary(values: list[float]) -> dict:
    """Median plus the highest of p90/p99 that has at least ten samples
    beyond it, with the sample count."""
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    for q in (90, 99):
        if len(values) * (100 - q) / 100 >= 10:
            out[f"p{q}"] = percentile(values, q)
    return out
