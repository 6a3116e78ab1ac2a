"""Process-tree resident memory, read from /proc (no psutil).

The crawl runs in three kinds of process: this Python driver, the Spark JVM
it launches, and the pandas/Arrow Python workers the JVM forks. Peak memory
of the crawl is the peak of their SUMMED resident set, so the sampler walks
the descendants of this process on every tick.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 is the parent pid; the command field may contain spaces,
        # so split after its closing parenthesis
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (not ``pid`` itself)."""
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0  # exited, or a kernel thread without VmRSS


def tree_rss_kb(pid: int) -> int:
    return rss_kb(pid) + sum(rss_kb(p) for p in descendants(pid))


class PeakRss:
    """Samples the summed RSS of this process tree every ``interval`` s
    between ``start()`` and ``stop()``; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, tree_rss_kb(pid))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
        return self.peak_mb

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
