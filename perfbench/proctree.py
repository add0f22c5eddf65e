"""CPU and resident-memory accounting for a process tree, read from /proc.

The engine's work runs in the JVM and in the Python workers it forks;
workers come and go during a run. A sum of the live processes' own CPU
goes backwards whenever one exits, so :class:`ProcTree` counts, for
every live process of the tree, its own CPU plus the CPU of the
children it has already reaped (``cutime``/``cstime``). A worker that
exits moves its CPU into its parent's reaped-children total, and the
sum carries it on. The tree is read until two listings agree, so a
worker reaped between the reads of two files is not lost or counted
twice, and the reported total never decreases.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, own + reaped-children CPU seconds, rss bytes) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces and parentheses: split after it
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss = int(fields[21]) * _PAGE
    return ppid, (utime + stime + cutime + cstime) / _TICKS, rss


def steal() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host since boot, from /proc/stat:
    the share stolen by the hypervisor over a window shows how much of
    the window other guests of the machine took."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def _pids() -> set[int]:
    return {int(d) for d in os.listdir("/proc") if d.isdigit()}


class ProcTree:
    """The descendants of this process (the process itself excluded)."""

    def __init__(self):
        self.root = os.getpid()
        self._cpu_high = 0.0

    def _read(self) -> dict[int, tuple[int, float, int]]:
        for _ in range(20):
            before = _pids()
            stats = {p: s for p in before if (s := _stat(p)) is not None}
            if _pids() == before and len(stats) == len(before):
                return stats
        return stats

    def sample(self) -> tuple[float, int]:
        """(CPU seconds, RSS bytes) of the tree now."""
        stats = self._read()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        todo = list(children.get(self.root, []))
        cpu, rss = 0.0, 0
        while todo:
            pid = todo.pop()
            if pid in stats:
                cpu += stats[pid][1]
                rss += stats[pid][2]
            todo.extend(children.get(pid, []))
        self._cpu_high = max(self._cpu_high, cpu)
        return self._cpu_high, rss

    def cpu_s(self) -> float:
        return self.sample()[0]
