"""Process-tree probes read from ``/proc``: summed RSS and CPU time.

The benchmark's Python process is the Spark driver. It launches the
driver JVM, which launches the Python worker daemon, which forks the
workers, so the whole engine is the process tree rooted at this
process. Linux only; nothing here imports Spark.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the ``(comm)`` field, so
    index 0 is the state, 1 the ppid; None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the LAST ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss(root: int) -> dict[int, int]:
    """pid -> resident bytes, for ``root`` and every live process below."""
    out = {}
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            out[pid] = int(fields[21]) * _PAGE  # stat field 24: rss pages
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the live tree, plus what its members
    already reaped from exited children (Python workers that ended)."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # stat fields 14-17: utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests while this
    machine's CPUs had work (``/proc/stat`` steal, summed over CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


class PeakRss:
    """Samples the tree's summed RSS on a background thread until
    ``stop()``; ``peak`` holds the largest sample in bytes."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.peak_procs: list[int] = []  # per-process bytes at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def _run(self) -> None:
        while True:
            rss = tree_rss(self.root)
            if sum(rss.values()) > self.peak:
                self.peak = sum(rss.values())
                self.peak_procs = sorted(rss.values(), reverse=True)
            if self._stop.wait(self.interval_s):
                return

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
