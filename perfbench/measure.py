"""Clocks, percentiles and a resident-memory sampler."""

from __future__ import annotations

import os
import statistics
import threading
from time import perf_counter as now  # noqa: F401 — the benchmark's clock


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it:
    (value, percentile, sample count). With fewer than 11 samples no
    percentile qualifies and the maximum is returned with percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return (xs[-1] if xs else 0.0), 100.0, n
    k = n - 11  # index with exactly ten samples above it
    return xs[k], 100.0 * (k + 1) / n, n


def _tree_pids(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return pids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (the JVM and any Python workers) every ``interval_s``
    while running; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True, name="rss")

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in _tree_pids(os.getpid())))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
