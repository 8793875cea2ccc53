"""Process-tree CPU and memory, and host steal/load, read from ``/proc``.

The tree is the benchmark worker itself plus every descendant: the
Spark JVM and the Python worker daemons it forks. CPU is utime+stime
plus the reaped children's cutime+cstime of each live process, so a
worker that exited and was waited for by a parent in the tree still
counts.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return None
    return st[st.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f:  # fields 14-17 of stat (utime stime cutime cstime), 0-based from state
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of the tree: a page shared by several
    processes (the Python workers fork from one daemon) counts once in
    total, where summing RSS would count it in every process."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(vals[:8])


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class RssSampler:
    """Background sampler of the tree's peak resident memory (PSS), every
    ``interval`` seconds."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_pss_bytes(self.root))
