"""Process environment, Spark session, resource monitor, cache hygiene.

The launcher fits the session to the host: ``local[nproc]``, a driver
heap sized from host RAM, Python workers that can import ``rios_spark``
from the checkout, and Spark local dirs inside the checkout under a
free-space guard that cancels running jobs instead of filling the disk.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

WORK_DIRNAME = ".perfbench_work"
# the guard cancels all jobs when Spark's scratch space passes this, or
# when the file system's free space drops under FREE_FLOOR_B
LOCAL_DIR_CAP_B = 6 * 2**30
FREE_FLOOR_B = 2 * 2**30


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def configure_env(root: str, work: str) -> dict:
    """Set the variables the session factory and its workers read;
    must run before the JVM starts. Returns what was set."""
    cpus = len(os.sched_getaffinity(0))
    # a quarter of host RAM, between 1 and 4 GiB: enough for the largest
    # broadcast here, and leaves room for the Python workers
    mem_gb = max(1, min(4, host_mem_bytes() // 4 // 2**30))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_gb}g",
        "PYTHONPATH": root if not py_path else f"{root}{os.pathsep}{py_path}",
        "SPARK_LOCAL_DIRS": local,
        "PYARROW_IGNORE_TIMEZONE": "1",
    }
    os.environ.update(env)
    return env


def start_spark(work: str):
    from rios_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM
    (and with it the Python workers it forked) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass  # Spark deletes shuffle files while we walk
    return total


def dir_files(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


def _proc_tree_rss(root_pid: int) -> int:
    """RSS bytes of every descendant of root_pid (the JVM and the
    Python workers it forks), not counting root_pid itself."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, list(children.get(root_pid, ()))
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass  # a worker exited between listing and reading
    return total


class Monitor:
    """Background sampler: peak RSS of the JVM plus Python workers, and
    the disk guard over Spark's local dirs."""

    def __init__(self, spark, local_dir: str, period: float = 0.2):
        self.spark = spark
        self.local_dir = local_dir
        self.period = period
        self.peak_rss = 0
        self.tripped: str | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def reset_peak(self) -> None:
        self.peak_rss = 0

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period):
            self.peak_rss = max(self.peak_rss, _proc_tree_rss(me))
            used = dir_bytes(self.local_dir)
            free = shutil.disk_usage(self.local_dir).free
            if used > LOCAL_DIR_CAP_B or free < FREE_FLOOR_B:
                self.tripped = (
                    f"disk guard: {used / 2**30:.1f} GiB in Spark local dirs,"
                    f" {free / 2**30:.1f} GiB free"
                )
                self.spark.sparkContext.cancelAllJobs()


def clean_caches(spark, timeout: float = 10.0) -> None:
    """Release every registered operator cache and Spark's cache
    manager, then wait until the storage status lists no cached RDD —
    so a timed run never reuses a previous run's cached frames."""
    from rios_spark.session import release_caches

    release_caches(spark)
    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()
    deadline = time.monotonic() + timeout
    while True:
        cached = [r for r in sc.getRDDStorageInfo() if r.numCachedPartitions() > 0]
        if not cached:
            return
        if time.monotonic() > deadline:
            raise AssertionError(f"{len(cached)} RDDs still cached after clearCache")
        time.sleep(0.05)
