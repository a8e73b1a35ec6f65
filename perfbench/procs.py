"""Process-tree readings from /proc: the live descendants of a process,
their resident memory and the CPU time they have used.

CPU time read here leaves out time the hypervisor took from the machine
(steal): the kernel accounts a task only for the time it really ran.
"""

from __future__ import annotations

import os

TICK_S = 1 / os.sysconf("SC_CLK_TCK")
# JVM threads whose CPU is warm-up (JIT compilation), not the program's work
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name (field 3 on)."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _comm(path: str) -> str:
    with open(path) as f:
        return f.read().strip()


def proc_tree(root_pid: int) -> list[int]:
    """root_pid and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(f"/proc/{d}/stat")[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo += children.get(p, [])
    return tree


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class TreeCpu:
    """CPU seconds used by a process tree: every live process's own time
    plus that of the children it has reaped (a finished Python worker is
    counted through the daemon that reaped it), split into JIT compiler
    threads and the rest. The JVM must keep its compiler threads alive
    (-XX:-UseDynamicNumberOfCompilerThreads) for the split to hold."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self._jit_tids: dict[int, list[int]] = {}

    def _jit(self, pid: int) -> list[int]:
        if pid not in self._jit_tids:
            tids = []
            for t in os.listdir(f"/proc/{pid}/task"):
                try:
                    if _comm(f"/proc/{pid}/task/{t}/comm").startswith(JIT_THREADS):
                        tids.append(int(t))
                except OSError:
                    continue
            self._jit_tids[pid] = tids
        return self._jit_tids[pid]

    def read(self) -> tuple[float, float]:
        """(CPU seconds of the tree outside JIT threads, of JIT threads)."""
        total = jit = 0
        for p in proc_tree(self.root_pid):
            try:
                f = _stat_fields(f"/proc/{p}/stat")
                total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
                if _comm(f"/proc/{p}/comm") == "java":
                    for t in self._jit(p):
                        g = _stat_fields(f"/proc/{p}/task/{t}/stat")
                        jit += int(g[11]) + int(g[12])
            except (OSError, IndexError, ValueError):
                continue
        return (total - jit) * TICK_S, jit * TICK_S


def steal_s() -> float:
    """CPU seconds the hypervisor took from this machine's CPUs, all CPUs
    summed."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) * TICK_S
