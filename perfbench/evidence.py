"""Per-run evidence read from /proc: CPU time of this process tree (the
driver, its JVM and the Python workers the JVM forks), machine-wide
steal time and the 1-minute load average.  A slow run then carries the
load it ran under."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command field may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _proc_cpu(pid: int) -> float:
    """utime + stime of one live process, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(")") + 2:].split()
    # fields[11], fields[12] = utime, stime; [13], [14] = waited-for
    # children (cutime, cstime), which counts exited Python workers
    return sum(int(x) for x in fields[11:15]) / _TICK


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    kids = _children()
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and
    every live descendant, plus descendants already reaped."""
    root = os.getpid() if root is None else root
    kids = _children()
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += _proc_cpu(pid)
        todo.extend(kids.get(pid, ()))
    return total


def cpu_ticks() -> dict[str, int]:
    """Machine-wide cumulative jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal")
    return {n: int(v) for n, v in zip(names, parts)}


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of all CPU time between two ``cpu_ticks`` samples that the
    hypervisor stole."""
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values())
    return d["steal"] / total if total else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Window:
    """Evidence over one interval: wall, tree CPU, steal share and the
    1-min loadavg at both ends."""

    def __init__(self) -> None:
        import time

        self._clock = time.perf_counter
        self.t0 = self._clock()
        self.cpu0 = tree_cpu_s()
        self.ticks0 = cpu_ticks()
        self.load0 = loadavg_1m()
        self.result: dict | None = None

    def close(self) -> dict:
        ticks = cpu_ticks()
        self.result = {
            "wall_s": self._clock() - self.t0,
            "cpu_s": tree_cpu_s() - self.cpu0,
            "steal_share": steal_share(self.ticks0, ticks),
            "loadavg_1m": [self.load0, loadavg_1m()],
        }
        return self.result
