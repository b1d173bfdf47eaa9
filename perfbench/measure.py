"""Measurement helpers: percentiles, failure counting, host busy
fraction and quiescing, and peak memory of the process tree. No Spark
imports, so the unit tests run without a JVM."""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(values, min_beyond: int = 10):
    """The highest percentile that still has at least `min_beyond`
    samples above it: with n sorted samples that is the sample at
    0-based index n-1-min_beyond, reported as (percentile, value, n).
    None when there are not more than `min_beyond` samples."""
    n = len(values)
    if n <= min_beyond:
        return None
    i = n - 1 - min_beyond
    return 100.0 * (i + 1) / n, sorted(values)[i], n


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    statistics.quantiles(values, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


class Failures:
    """Counts attempted and failed operations; each failure is noted
    and printed to stderr so a failing run says why."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"{name}: {detail}"[:500])
            print(f"CHECK FAILED {name}: {detail}"[:2000], file=sys.stderr)
        return ok

    @property
    def frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def cpu_busy_frac(interval: float = 0.1) -> float:
    """Whole-host busy fraction over `interval`, from /proc/stat: the
    share of CPU time that was neither idle nor iowait."""
    def snap():
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), vals[3] + vals[4]
    t1, i1 = snap()
    time.sleep(interval)
    t2, i2 = snap()
    dt = t2 - t1
    return 1.0 - (i2 - i1) / dt if dt > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def quiesce(bound: float = 0.15, cap: float = 2.0) -> tuple[float, float]:
    """Wait, at most `cap` seconds, until the host busy fraction drops
    below `bound`, so that the tail of the previous op (GC, Spark's
    cleaner) does not overlap the next timed op. Returns the last busy
    fraction and the seconds waited."""
    t0 = time.perf_counter()
    busy = cpu_busy_frac()
    while busy > bound and time.perf_counter() - t0 < cap:
        busy = cpu_busy_frac()
    return busy, time.perf_counter() - t0


def _pss_kb(pid: int) -> int | None:
    """Proportional set size of one process: resident pages, with each
    page shared by n processes counted as 1/n, so the forked Python
    workers' copy-on-write pages are counted once over the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:                 # the process has just exited
        return None
    return None


def tree_pss(root: int) -> dict[str, float]:
    """Current Pss of `root` and each descendant, summed per command
    name, in MB. The driver JVM and the Python workers are descendants
    of this process."""
    kids = _children()
    out: dict[str, float] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        kb = _pss_kb(pid)
        if kb is None:
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0.0) + kb / 1024
    return out


class PeakPss:
    """Samples the summed Pss of a process tree on a daemon thread and
    keeps the largest sum, with its split by command name. A peak
    shorter than `interval` can be missed."""

    def __init__(self, root: int, interval: float = 1.0):
        self.root, self.interval = root, interval
        self.peak_mb = 0.0
        self.peak_by_process: dict[str, float] = {}
        self.samples = 0
        self.sample_s = 0.0         # time spent sampling, its own cost
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-pss")

    def sample(self) -> None:
        t0 = time.perf_counter()
        by_name = tree_pss(self.root)
        total = sum(by_name.values())
        self.samples += 1
        self.sample_s += time.perf_counter() - t0
        if total > self.peak_mb:
            self.peak_mb, self.peak_by_process = total, by_name

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "PeakPss":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
