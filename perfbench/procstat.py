"""Process-tree CPU and memory from ``/proc``, plus host interference stamps.

The benchmark's process tree is the Python driver, the JVM it launches and
the JVM's Python workers.  CPU time of a tree is the sum over its live
processes of user + system time, including the time of children they
already reaped (``cutime``/``cstime``), so short-lived Python workers are
still counted once they exit.  Memory of a tree is the sum of its PSS
(proportional set size): Python workers are forked from one daemon and
share its pages, which a plain RSS sum would count once per worker.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str):
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    # the command name may hold spaces and parentheses: split after it
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int = None) -> list:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(name)[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we listed
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int = None) -> float:
    """CPU seconds summed over the process tree."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(str(pid))
        except OSError:
            continue  # exited since listed
        # utime, stime, cutime, cstime (0-based from the state field)
        ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_pss_bytes(root: int = None) -> int:
    """PSS summed over the process tree."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited since listed
    return total


def steal_s() -> float:
    """Host-wide steal time so far (all CPUs), in seconds."""
    with open("/proc/stat") as f:
        cols = f.readline().split()
    return int(cols[8]) / _TICK if len(cols) > 8 else 0.0


def loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class MemorySampler:
    """Background sampler of the tree's PSS; ``peak_mb`` is the maximum."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2 ** 20
