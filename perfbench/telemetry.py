"""Process-tree, host and Spark-job telemetry read from outside the engine.

Everything here observes the crawl engine without touching it: ``/proc`` for
memory and CPU, the Spark status tracker for job counts, the filesystem for
checkpoint bytes.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path
from typing import Dict, Iterable, List, Optional, Set

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended while we looked
        # the command name may hold spaces and parens: split after the last ')'
        fields = stat[stat.rfind(b")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(entry.name))
    return kids


def tree_pids(root: int) -> List[int]:
    """``root`` and every process descended from it."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background sampler of the whole process tree's resident set size:
    the Python driver, the JVM it launched and the JVM's Python workers."""

    def __init__(self, interval_s: float = 0.25, root: Optional[int] = None):
        self.interval_s = interval_s
        self.root = os.getpid() if root is None else root
        self.peak = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


def cpu_times() -> List[int]:
    """Host-wide jiffies from the first line of /proc/stat:
    user nice system idle iowait irq softirq steal [guest guest_nice]."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_fractions(before: List[int], after: List[int]) -> Dict[str, float]:
    """Busy and steal shares of all host CPU time between two samples.
    Guest time is already counted in user time, so it is left out."""
    d = [a - b for a, b in zip(after[:8], before[:8])]
    total = sum(d) or 1
    idle = d[3] + d[4]
    return {"cpu_busy_frac": (total - idle) / total, "steal_frac": d[7] / total}


def jvm_times(sc) -> Dict[str, float]:
    """The driver JVM's cumulative garbage-collection seconds and count,
    JIT-compilation seconds, classes loaded and Spark whole-stage codegen
    compilations, and its committed heap."""
    jvm = sc._jvm
    mf = jvm.java.lang.management.ManagementFactory
    beans = list(mf.getGarbageCollectorMXBeans())
    gc_ms = sum(max(0, b.getCollectionTime()) for b in beans)
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    return {"gc_s": gc_ms / 1e3,
            "gc_count": float(sum(max(0, b.getCollectionCount()) for b in beans)),
            "heap_committed_mb": heap.getCommitted() / 2 ** 20,
            "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "classes_loaded": float(mf.getClassLoadingMXBean().getTotalLoadedClassCount()),
            "codegen_compiles": float(codegen.METRIC_COMPILATION_TIME().getCount())}


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat", "rb") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rfind(b")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class JobCounter:
    """Exact Spark job counts. Each crawl runs under its own job group; the
    engine's checkpoint writer threads do not inherit the group, so jobs with
    no group that appeared during the crawl are counted too."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def _ungrouped(self) -> Set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def start(self, group: str) -> Set[int]:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)
        return self._ungrouped()

    def stop(self, group: str, before: Set[int]) -> List[int]:
        """Ids of the jobs the crawl ran, ascending."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return sorted(set(self.tracker.getJobIdsForGroup(group)) | (self._ungrouped() - before))


def dir_stats(path: Path) -> Dict[str, int]:
    """Bytes and data files on disk under ``path`` (every file counts
    towards bytes; parquet parts count as data files)."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, name))
            if name.endswith(".parquet"):
                n_files += 1
    return {"bytes": n_bytes, "files": n_files}


def median(values: Iterable[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of nothing")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2
