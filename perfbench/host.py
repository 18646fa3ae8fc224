"""Host-sized Spark session, load canary and memory sampler.

Everything the benchmark writes lives under one work directory inside the
checkout it runs from; the caller removes it when the run ends.
"""

from __future__ import annotations

import os
import threading
import time

#: the driver heap, the same on every run so that peak RSS and GC time
#: depend on the code measured, not on what else the host is running
HEAP_MB = 2048
#: memory a run needs beside the heap: JVM off-heap, one Python worker per
#: core and this driver process
HEADROOM_MB = 2048


def cores() -> int:
    return len(os.sched_getaffinity(0))


def available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def require_memory() -> None:
    """Refuse to run when the host cannot hold HEAP_MB plus HEADROOM_MB:
    a smaller heap would change what is measured."""
    have, need = available_mb(), HEAP_MB + HEADROOM_MB
    if have < need:
        raise RuntimeError(
            "{0} MB available, the benchmark needs {1} MB ({2} MB heap)"
            .format(have, need, HEAP_MB))


def make_session(work: str, event_log: bool = False):
    """``local[<cores>]`` session whose scratch space, warehouse and event
    log all sit under ``work``. The Python workers find the package through
    PYTHONPATH, which they inherit from this process."""
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap starts at its full size: GC work in the first rounds does
    # not depend on how far the JVM has grown the heap so far
    java_opts = "-Djava.io.tmpdir={0} -XX:-UsePerfData -Xms{1}m".format(
        tmp, HEAP_MB)
    b = (
        SparkSession.builder.master("local[{0}]".format(n))
        .appName("warcio_spark-perfbench")
        .config("spark.driver.memory", "{0}m".format(HEAP_MB))
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(max(8, 2 * n)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        logdir = os.path.join(work, "events")
        os.makedirs(logdir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", logdir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spin_seconds(iterations: int = 2_000_000) -> float:
    """A fixed single-thread pure-Python loop: the same work on every run,
    so its time tracks how much CPU this process actually got."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(iterations):
        acc = (acc + i * i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def load_canary() -> dict:
    import pyarrow
    import pyspark

    return {
        "loadavg_1m": os.getloadavg()[0],
        "spin_s": round(spin_seconds(), 4),
        "nproc": cores(),
        "mem_available_mb": available_mb(),
        "heap_mb": HEAP_MB,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _children_map() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open("/proc/{0}/stat".format(pid)) as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list:
    """Pids of every process below ``root`` (not ``root`` itself)."""
    kids = _children_map()
    out, stack = [], list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open("/proc/{0}/stat".format(pid)) as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(timeout: float = 20.0) -> None:
    """Stop every process still running below this one, and wait until
    each has ended: SIGTERM first, SIGKILL for what outlives ``timeout``.
    After a clean session stop there is none; after an interrupted one
    there may be a JVM whose gateway never connected, or its workers."""
    import signal

    pids = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + timeout
        while pids and time.time() < deadline:
            _reap_children()
            pids = [p for p in pids if _alive(p)]
            time.sleep(0.1)
        if not pids:
            return


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (driver, JVM and
    the JVM's Python workers), summed as proportional set size: a page that
    the forked Python workers share is counted once in the sum, not once per
    worker, so the figure does not follow how many workers are alive at the
    moment of a sample."""
    total_kb = 0
    for pid in [root] + descendants(root):
        try:
            with open("/proc/{0}/smaps_rollup".format(pid)) as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Background sampler of this process tree's resident memory; keeps the
    peak. Start with ``start()``, end with ``stop()`` (joins the thread)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb
