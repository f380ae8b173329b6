"""Peak resident memory and CPU time of the benchmark's child processes,
from /proc.

The driver JVM is a child of this Python process and the Python workers
are children of the JVM, so the descendants of this process are exactly
the engine's processes. Their RSS is summed per sample; the peak of the
sums is kept per repetition. Their CPU time is summed per read. (psutil
is not a dependency of the repository.)
"""

from __future__ import annotations

import os
import threading


def _proc_table() -> tuple[dict[int, list[int]], dict[int, str]]:
    """(children of each pid, command name of each pid)."""
    kids: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # field 4 (ppid) follows the ')' that closes the command name
        head, tail = stat.rsplit(")", 1)
        ppid = int(tail.split()[1])
        kids.setdefault(ppid, []).append(int(entry))
        names[int(entry)] = head.split("(", 1)[1]
    return kids, names


def _children_map() -> dict[int, list[int]]:
    return _proc_table()[0]


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: the process's own CPU time and
    that of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields 14-17 of stat; fields[0] here is field 3
    return sum(int(x) for x in fields[11:15])


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def descendants_rss(root: int) -> int:
    """Summed RSS of the descendants of ``root``. A child of the JVM that
    still bears the JVM's name has not yet run exec: it shares the JVM's
    pages (posix_spawn), and counting them would add the JVM a second
    time; the first timed extract_full repetition read 5.47 GB instead
    of 3.06 GB that way, in every run."""
    kids, names = _proc_table()
    total, todo = 0, [(pid, root) for pid in kids.get(root, [])]
    while todo:
        pid, parent = todo.pop()
        if names.get(pid) == "java" and names.get(parent) == "java":
            continue
        total += _rss_bytes(pid)
        todo.extend((kid, pid) for kid in kids.get(pid, []))
    return total


def descendants_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by the descendants of
    ``root``. Time the kernel gave to other guests (steal) is not in it,
    so on a shared host it moves far less than wall time does."""
    kids = _children_map()
    ticks, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        ticks += _cpu_ticks(pid)
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the summed RSS of this process's descendants every
    ``interval`` seconds on a background thread, from ``start()`` until
    ``stop()``; ``lap()`` returns the peak since the previous lap."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            rss = descendants_rss(root)
            with self._lock:
                self._peak = max(self._peak, rss)
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def lap(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
