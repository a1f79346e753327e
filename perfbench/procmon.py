"""Process-tree helpers over /proc: peak resident memory and clean shutdown.

The benchmark's process tree is the Python driver, the JVM it launches
(spark-submit execs into java) and the Python workers the JVM forks.
"""

from __future__ import annotations

import glob
import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_EVERY_S = 0.05  # PeakRss sampling interval


def children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:  # the task ended while we listed it
            continue
    return out


def descendants(pid: int) -> list[int]:
    out, stack = [], children(pid)
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children(p))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):  # gone, or a zombie
        return 0


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def cpu_jiffies() -> list[int]:
    """The machine's aggregate CPU times from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_jiffies` readings that the
    hypervisor gave to other guests (the ``steal`` column)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout
    left = [p for p in pids if alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if alive(p)]
    return left


class PeakRss:
    """Sample the summed RSS of this process and its descendants in a
    background thread; ``peak`` is the largest sum seen, in bytes."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(SAMPLE_EVERY_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
