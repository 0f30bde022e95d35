"""Process environment for a benchmark run: pinned Spark settings,
scratch directories inside the checkout, peak memory of the process
tree read from ``/proc``, and the host facts recorded with a result."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time

def cpu_count() -> int:
    """CPUs this process may run on (``nproc`` without the
    ``OMP_NUM_THREADS`` override)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """Spark driver heap sized to the machine: a quarter of RAM, at
    least 1 GiB and at most 8 GiB (local mode runs every executor
    thread in the driver JVM, and the machine may be shared)."""
    return max(1024, min(8192, mem_total_mb() // 4))


def pin_environment(scratch: str) -> dict:
    """Set the variables the engine and Spark read at start-up, so the
    run uses every CPU it is given, a heap that fits the machine, and
    temporary directories under ``scratch`` only.  Returns what was set."""
    local = os.path.join(scratch, "spark-local")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_DRIVER_MEMORY": f"{driver_memory_mb()}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # java.io.tmpdir for the JVM; no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pinned)
    return pinned


def host_facts() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": cpu_count(),
        "loadavg": list(os.getloadavg()),
        "mem_total_mb": mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "platform": platform.platform(),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kib(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root`` and all its descendants, in
    MiB: resident memory with each shared page split among the
    processes sharing it.  Summing plain RSS would count the pages a
    forked Python worker shares with its parent once per worker."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            total += _pss_kib(pid)
        except OSError:  # the process exited meanwhile
            continue
    return total / 1024


class PeakMemory:
    """Samples the process tree's memory (:func:`tree_pss_mb`) on a
    background thread and keeps the maximum: benchmark process, Spark
    JVM and its Python workers.  Once a second by default: reading the
    JVM's ``smaps_rollup`` takes its memory-map lock, so sampling often
    slows the run it measures."""

    def __init__(self, interval_s: float = 1.0):
        self.peak_mb = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-memory", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(pid))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to
    exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM's gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children(timeout_s: float = 30.0) -> None:
    """Wait until no child process of this one is left."""
    deadline = time.monotonic() + timeout_s
    me = os.getpid()
    while _children_map().get(me) and time.monotonic() < deadline:
        time.sleep(0.1)


def log(msg: str) -> None:
    """Progress goes to stderr: stdout's last line is the result."""
    print(msg, file=sys.stderr, flush=True)
