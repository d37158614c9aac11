"""Statistics and host readings for the benchmark's run record."""

from __future__ import annotations

import math
import os
import threading
import time

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Highest whole percentile (linearly interpolated, numpy's default)
    with at least `min_beyond` of `n` distinct samples above it; None if
    the sample is too small."""
    for p in range(99, 0, -1):
        if n - 1 - math.floor((n - 1) * p / 100) >= min_beyond:
            return p
    return None


def children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss(root: int) -> dict[int, int]:
    """Proportional set size of `root` and each of its descendants: the
    driver, the JVM it launched and the JVM's Python workers. PSS splits
    pages shared between processes, so the sum counts a forked worker's
    (or a just-forked, not yet exec'd child's) shared pages once."""
    kids = children_of()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            out[pid] = _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    return out


class MemSampler:
    """Samples the process tree's summed PSS every `interval` seconds on
    a daemon thread; `peak_mb` is the largest sample."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.samples = 0
        self.peak = 0
        self.at_peak: dict[int, int] = {}  # pid -> bytes in the peak sample
        self.busy_s = 0.0  # time spent sampling
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            t = time.perf_counter()
            sample = tree_pss(pid)
            if sum(sample.values()) > self.peak:
                self.peak, self.at_peak = sum(sample.values()), sample
            self.samples += 1
            self.busy_s += time.perf_counter() - t
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


def cpu_times() -> list[int]:
    """Aggregate /proc/stat jiffies: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_snapshot() -> dict:
    return {"t": time.time(), "cpu": cpu_times(), "load": list(os.getloadavg())}


def steal_pct(start: dict, end: dict) -> float:
    d = [b - a for a, b in zip(start["cpu"], end["cpu"])]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total else 0.0
