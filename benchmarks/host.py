"""Host diagnostics recorded beside every run. They are neither gated on
nor used to normalise a metric: they let a noisy window (steal, load) or a
growing footprint (RSS, /dev/shm) be seen as such in the per-op series."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) summed over CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[0] - t0[0]
    return (t1[1] - t0[1]) / total if total > 0 else 0.0


def load1() -> float:
    return os.getloadavg()[0]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of ``root`` and all its descendants: the Python
    process that runs the Spark driver, the JVM it launched and the Python
    workers the JVM forked. The workers
    share copy-on-write pages with the daemon they were forked from, so
    they count their proportional share (PSS); the JVM shares nothing and
    counts its RSS, which is as exact and ~100x cheaper to read."""
    total = 0
    for p in tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{p}/comm") as f:
                jvm = f.read().strip() == "java"
            if jvm:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            else:
                total += _pss_kb(p) * 1024
        except OSError:
            continue
    return total / 1e6


def shm_used_mb() -> float:
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return 0.0
    return (st.f_blocks - st.f_bfree) * st.f_frsize / 1e6


class PeakRss:
    """Samples the process tree's RSS on a background thread; ``stop``
    joins it and returns the peak in MB."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._halt.wait(self.interval_s):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._halt.set()
        self._thread.join(timeout=10)
        return self.peak_mb
