"""Process-tree sampling from ``/proc`` (no psutil): peak RSS of the
driver, the JVM it launches and the Python workers the JVM forks, and
CPU seconds spent in the Python workers."""

from __future__ import annotations

import os
import threading
from typing import Dict, List

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    # the command name may contain spaces: fields start after its ')'
    return data.rsplit(")", 1)[1].split()


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def descendants(root: int) -> List[int]:
    """``root`` and the live processes below it, except the JVM's
    short-lived helper children (Hadoop's local file system forks
    ``chmod`` and friends; between fork and exec such a child reports
    the whole JVM's RSS as its own).  The JVM's one lasting child is the
    PySpark worker daemon."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while the table was read
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        kids = children.get(pid, ())
        if b"java" in _cmdline(pid).split(b"\0", 1)[0]:
            kids = [k for k in kids if b"pyspark.daemon" in _cmdline(k)]
        stack.extend(kids)
    return out


def rss_bytes(pids: List[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def worker_cpu_seconds(root: int) -> Dict[int, float]:
    """user+system CPU seconds of each live PySpark worker process."""
    out = {}
    for pid in descendants(root):
        cmd = _cmdline(pid)
        if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
            continue
        try:
            fields = _stat_fields(pid)
            out[pid] = (int(fields[11]) + int(fields[12])) / _TICK
        except (OSError, IndexError, ValueError):
            continue
    return out


def cpu_delta(before: Dict[int, float], after: Dict[int, float]) -> float:
    """CPU seconds spent between two ``worker_cpu_seconds`` snapshots;
    a worker that started in between counts from zero."""
    return sum(t - before.get(pid, 0.0) for pid, t in after.items())


class PeakRss:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval: float = 0.1):
        self.root = os.getpid()
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(descendants(self.root)))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
