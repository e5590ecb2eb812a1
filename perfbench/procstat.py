"""CPU and resident-memory accounting for a process tree, read from /proc.

psutil is not available, so the tree is rebuilt from ``/proc/<pid>/stat``
parent links on every sample.  The tree measured is every descendant of a
root pid (the benchmark passes its own pid, so the tree is the Spark driver
JVM, the PySpark worker daemon and its forked Python workers).

CPU is ``utime + stime + cutime + cstime`` summed over the live tree: a
worker that exits and is reaped by its parent moves its time into the
parent's ``cutime``, so the difference between two readings counts it once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may contain spaces and parentheses: split after it
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out: list[int] = []
    todo = [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """Own plus reaped-children CPU time of ``pids``, in seconds."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class TreeSampler:
    """Samples the resident memory of the descendants of ``root`` on a
    background thread between ``start()`` and ``stop()``.

    ``take_peak()`` returns the peak since the previous call (or the start)
    and begins a new one.  A process counts towards the peak only from its
    second sample on: a child the JVM has just vforked shares, and reports,
    the whole JVM's resident set until it execs, which would otherwise
    double the peak.
    """

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self._peak = 0
        self._seen: set[int] = set()

    def cpu_seconds(self) -> float:
        return cpu_seconds(descendants(self.root))

    def _sample(self) -> None:
        pids = set(descendants(self.root))
        rss = rss_bytes(sorted(pids & self._seen))
        with self._lock:
            self._peak = max(self._peak, rss)
        self._seen = pids

    def take_peak(self) -> int:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        if self._thread is not None:
            raise RuntimeError("sampler already running")
        self._peak = 0
        self._seen = set(descendants(self.root))
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._thread is None:
            raise RuntimeError("sampler not running")
        self._stop.set()
        self._thread.join()
        self._thread = None
