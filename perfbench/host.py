"""Host record, noise evidence and resource sampling for one benchmark run."""

from __future__ import annotations

import os
import platform
import statistics
import sys
import threading
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def load_avg_1m() -> float:
    return os.getloadavg()[0]


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time since boot from /proc/stat; the steal share
    over an interval is how much of it the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def record(spark) -> dict:
    """nproc, RAM, versions and the session conf in force."""
    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.files.maxPartitionBytes", "spark.local.dir")
    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_mb()),
        "python": sys.version.split()[0],
        "spark": spark.version,
        "platform": platform.platform(),
        "conf": {k: conf.get(k) for k in keep},
        "env": {k: os.environ.get(k) for k in
                ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS")},
    }


def calibrate(spark, reps: int = 3) -> float:
    """Median wall time of a fixed 2M-row modular group-by: it never changes,
    so it measures the host, not the program."""
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, 1, 8).selectExpr("id % 9973 AS k") \
            .groupBy("k").count().count()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def settle_io(max_wait_s: float = 10.0, floor_kb: int = 64 * 1024) -> float:
    """Flush dirty pages and wait until Dirty+Writeback drains under
    ``floor_kb`` (bounded), so an earlier pass's writes cannot stall the
    next timed build. Returns the seconds waited."""
    t0 = time.perf_counter()
    os.sync()
    while time.perf_counter() - t0 < max_wait_s:
        with open("/proc/meminfo") as f:
            backlog = sum(int(line.split()[1]) for line in f
                          if line.startswith(("Dirty:", "Writeback:")))
        if backlog < floor_kb:
            break
        time.sleep(0.1)
    return time.perf_counter() - t0


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed resident memory of this process's descendants (the
    driver JVM and its Python workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in _descendants(me)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def tail_percentile(samples: list[float], beyond: int = 10):
    """The highest nearest-rank percentile with at least ``beyond`` samples
    above it: (percentile, value, n). With fewer than ``beyond`` + 1 samples
    no such percentile exists and the median is returned as (50, median, n)."""
    n = len(samples)
    if n < beyond + 1:
        return 50.0, statistics.median(samples), n
    xs = sorted(samples)
    k = n - beyond - 1                      # 0-based rank; n-1-k samples above
    return 100.0 * (k + 1) / n, xs[k], n
