"""CPU time and resident memory of a process and all of its descendants.

A Spark job here runs in three kinds of process: the driver Python, the
JVM it launches, and the Python workers the JVM forks.  Their costs are
read from ``/proc`` (Linux only), never from inside the program.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: str) -> tuple[int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # fields after the ")" of the command name start at field 3 (state)
    r = s[s.rindex(")") + 2:].split()
    ticks = int(r[11]) + int(r[12]) + int(r[13]) + int(r[14])
    return int(r[1]), ticks, int(r[21])


def _tree() -> list[tuple[int, int, int]]:
    """(pid, cpu ticks, rss pages) of this process and its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(name)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out.append((pid, *stats[pid][1:]))
            stack.extend(children.get(pid, []))
    return out


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    return [pid for pid, _, _ in _tree() if pid != os.getpid()]


def cpu_s() -> float:
    """User+sys CPU seconds of the process tree.  A child that exited and
    was reaped is counted in its parent's cutime/cstime, so the sum only
    grows."""
    return sum(t for _, t, _ in _tree()) / _CLK


def rss_bytes() -> int:
    return sum(p for _, _, p in _tree()) * _PAGE


def process_age_s() -> float:
    """Seconds since this process started (the kernel's start time)."""
    with open("/proc/self/stat") as f:
        s = f.read()
    start_ticks = int(s[s.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK


class PeakRss:
    """Samples the tree's resident memory on a background thread while the
    ``with`` block runs; ``peak`` is the largest sum seen, in bytes."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self.peak = rss_bytes()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes())


def host_probe(loops: int = 200_000) -> float:
    """Single-thread pure-Python burn rate in loops per second: a
    diagnostic of how much CPU the host gave this run, never used to
    normalize a metric."""
    t0 = time.perf_counter()
    x = 0
    for i in range(loops):
        x += i * i % 7
    return loops / (time.perf_counter() - t0)
