"""Host sizing, host fingerprint and process-tree RSS sampling.

The Spark session is sized from the machine the benchmark runs on, never
from the package defaults (32 cores, 24g heap), and every record carries
the fingerprint below so that a record from a host with another core
count or memory size is never used as a comparator.
"""
from __future__ import annotations

import os
import threading
import time


def cpu_count() -> int:
    """Cores this process may run on (what `nproc` prints without
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """An eighth of physical memory: the driver JVM and its Python
    workers share the host, and so do other tenants. A heap far above
    what the workloads hold only lets the JVM's footprint drift with GC
    timing."""
    return mem_total_mb() // 8


def size_session_env(env: dict) -> None:
    """Set the session-sizing variables that gdal_spark.session reads."""
    env["SPARK_GRAFT_CPUS"] = str(cpu_count())
    env["GDAL_SPARK_DRIVER_MEM"] = f"{driver_heap_mb()}m"


def calibrate(windows: int = 5, seconds: float = 0.05) -> float:
    """Pure-Python loop iterations per second, the best of a few short
    windows: a coarse single-core speed stamp, so records from a slower
    or busier host can be told apart."""
    best = 0.0
    for _ in range(windows):
        n = 0
        t0 = time.perf_counter()
        while True:
            for _ in range(10_000):
                n += 1
            dt = time.perf_counter() - t0
            if dt >= seconds:
                break
        best = max(best, n / dt)
    return best


def fingerprint() -> dict:
    return {
        "nproc": cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "calib_loops_per_s": round(calibrate()),
    }


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
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """RSS of `root` and all its descendants (the driver JVM, the
    pyspark daemon and its forked Python workers)."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the process tree of `root` on a background thread while
    active; `peak_mb` is the largest sum seen."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
