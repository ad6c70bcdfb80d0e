"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark's own Python process plus every descendant:
the Spark JVM that PySpark launches, the JVM's Python worker daemon
and its forked workers. A process that has exited and been reaped
hands its CPU time to its parent's cutime/cstime, so summing
utime+stime+cutime+cstime over the live tree counts every descendant
that ever ran, without double counting. Memory is summed as PSS
(/proc/<pid>/smaps_rollup), which splits each page among the
processes sharing it: forked Python workers share pages with their
daemon, and a JVM that forks a helper shows the parent's whole RSS
in the child until it execs.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw.rsplit(")", 1)[1].split()


def tree(root: int) -> dict[int, list[str]]:
    """Stat fields of `root` and all its live descendants, by pid."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User+system CPU of the tree, reaped descendants included."""
    return sum(sum(int(x) for x in st[11:15]) for st in tree(root).values()) / _CLK


def pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process exited between listing and reading
        pass
    return 0


class PeakRss:
    """Samples the tree's summed resident memory (PSS) on a background
    thread; `peak` is the largest sum seen and `parts` its per-process
    split. `cpu_s` is the CPU time the sampling itself has spent, which
    the tree's CPU time includes. Use as a context manager."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.parts: list[int] = []
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            parts = sorted((pss_bytes(pid) for pid in tree(self.root)), reverse=True)
            if sum(parts) > self.peak:
                self.peak, self.parts = sum(parts), parts
            self.cpu_s = time.thread_time()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
