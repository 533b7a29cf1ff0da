"""Host context and memory sampling for the benchmark.

Everything here reads ``/proc`` or the running Spark session; nothing is
configured. ``psutil`` is not assumed to be installed.
"""

from __future__ import annotations

import gc
import os
import signal
import threading
import time


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited between listdir and open
            continue
        # the command name is parenthesised and may contain spaces
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> set[int]:
    """Every process descended from ``root``."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.update(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(timeout: float = 60.0) -> None:
    """Stop the SparkContext, end the JVM this process launched (it exits
    when its stdin closes) and wait until every process it had started,
    Python workers included, is gone."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    jvm = getattr(SparkContext._gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()
    _wait_gone(pids, timeout)
    if jvm is not None:
        jvm.wait()  # reap it


def _wait_gone(pids: set[int], timeout: float) -> None:
    """Wait until none of ``pids`` runs; kill those still running after
    ``timeout`` and wait for them too."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:  # exited since the check
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def stop_children(timeout: float = 30.0) -> None:
    """Stop multiprocessing's resource tracker if this process started one
    (it would otherwise outlive the process by a moment), then wait until
    every process descended from this one has ended."""
    from multiprocessing import resource_tracker

    gc.collect()  # let finalizers unregister semaphores before it stops
    resource_tracker._resource_tracker._stop()
    _wait_gone(descendants(os.getpid()), timeout)


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and every process descended from it (the
    Spark JVM and its Python workers)."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:  # exited since the scan
            continue
    return total


class PeakRss:
    """Samples the driver's process tree every ``interval`` seconds while
    active; ``peak_mb`` is the largest sum seen. Disabled, it samples
    nothing (its scans of ``/proc`` would compete with the timed work)
    and ``peak_mb`` is 0."""

    def __init__(self, enabled: bool = True, interval: float = 0.1) -> None:
        self.enabled = enabled
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-rss", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if not self.enabled:
            return
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def spark_context(spark) -> dict:
    """Effective settings of the running session, as the JVM sees them."""
    conf = spark.sparkContext.getConf()
    return {
        "spark_version": spark.version,
        "master": spark.sparkContext.master,
        "driver_memory_conf": conf.get("spark.driver.memory", None),
        "driver_heap_max_mb": round(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20, 1
        ),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def mem_bandwidth() -> dict:
    """One small reading of ``tools.mem_ladder`` (aggregate GB/s at 1 and 2
    processes). Context for the timings only, never a gate."""
    from tools.mem_ladder import probe

    try:
        return probe(procs=(1, 2), mb=64, reps=4)
    except RuntimeError as e:  # the probe's own children failed to start
        return {"error": str(e)}
