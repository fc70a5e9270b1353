"""CPU seconds used by the program: this Python process, plus the Spark
JVM and every process below it (the Python workers).

Wall-clock time on a shared host includes the time the hypervisor
gives the host's other tenants (``steal`` in ``/proc/stat``), which
swings by a factor of two from one minute to the next. CPU time counts
only the time the program ran, so it measures the program's work.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, int]]:
    """``{pid: (parent pid, CPU ticks)}`` for every process; the ticks
    are utime + stime + cutime + cstime, so they include reaped
    children."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process has exited
            continue
        # fields after the ")" closing the command name start at field 3
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def tree_ticks(root: int, stats: dict[int, tuple[int, int]]) -> int:
    """CPU ticks of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _ticks) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


class CpuClock:
    """Call it for the CPU seconds used so far by this process and, once
    :attr:`jvm_pid` is set, by the JVM's process tree."""

    def __init__(self):
        self.jvm_pid: int | None = None

    def __call__(self) -> float:
        t = os.times()
        own = t.user + t.system
        if self.jvm_pid is None:
            return own
        return own + tree_ticks(self.jvm_pid, _proc_stats()) / CLK_TCK
