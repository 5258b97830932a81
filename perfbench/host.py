"""Host-state probes and the process-tree RSS sampler.

Everything here reads ``/proc`` and never steers the benchmark: the figures
are recorded beside each run so a reader can tell a host burst (CPU steal,
memory-bus contention from a co-tenant) from a change in the program.
No run is filtered or retried on them.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two ``cpu_times`` snapshots that the
    hypervisor stole (column 8).  Steal only accrues while the guest wants
    to run, so it is taken across the measured work itself."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def membw_probe_gbps(size_mb: int = 64, passes: int = 3) -> float:
    """Single-thread copy bandwidth (GB/s), best of ``passes``.  The buffer
    is far larger than the last-level cache, so a co-tenant saturating the
    memory bus shows here even when guest-visible steal is zero."""
    a = np.ones(size_mb * 1024 * 1024 // 8, dtype=np.float64)
    b = np.empty_like(a)
    best = float("inf")
    for _ in range(passes):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t0)
    return 2 * a.nbytes / best / 1e9  # a copy reads and writes


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may hold spaces or parentheses: fields resume after the last ')'
        out[int(name)] = int(data.rsplit(")", 1)[1].split()[1])
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and every descendant process."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class PeakRss:
    """Peak summed RSS of this process tree (driver Python, driver JVM,
    pyspark daemon and Python workers) while the ``with`` block runs."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
