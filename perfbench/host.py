"""Host hygiene for the benchmark: core pinning, a Spark session whose
scratch space stays inside the work directory, load-average readings and
the peak-RSS sampler over the benchmark's process tree."""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

# Sized for a 4-core / 15 GB host shared with other jobs. The inputs are a
# few MB; a fixed, pre-touched 1 GB driver heap (so the JVM's resident size
# follows neither GC resizing nor how far allocation has reached into the
# heap) and at most one idle Python worker per core keep the process tree
# near 3 GB.
DRIVER_MEMORY = "1g"


def pin_cores() -> int:
    """Pin this process (and so the JVM and Python workers it starts) to
    the cores it may run on; returns their count, the `nproc` of local[N]."""
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus)
    return len(cpus)


def own_descendants() -> None:
    """Make this process the reaper of every process below it, so that a
    Python daemon or worker orphaned when its parent exits is re-parented
    here rather than to init, and ``stop_all`` can wait for it. A SIGTERM
    becomes SystemExit, so the caller's ``finally`` still runs."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))


def stop_all(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM behind it (its gateway server exits
    when its stdin closes), then wait until every process this one started
    has ended and been reaped. Whatever has not ended by ``timeout_s`` is
    killed."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # e.g. interrupted mid-call; the JVM goes anyway
            traceback.print_exc()
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc = getattr(gateway, "proc", None)
        try:
            gateway.close()
        except Exception:
            pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left, running or unreaped
        if pid:
            continue
        if time.monotonic() > deadline:
            me = os.getpid()
            for child, (ppid, _comm) in _processes().items():
                if ppid == me:
                    try:
                        os.kill(child, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def prepare_env(root: Path, work: Path) -> None:
    """Environment the JVM and Python workers inherit: the program on the
    import path, and every temporary file under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # the short-lived launcher JVM spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(work: Path, cores: int):
    from pyspark.sql import SparkSession

    tmp = work / "tmp"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # -XX:-UsePerfData: no hsperfdata files in the host's /tmp
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .config("spark.python.factory.idleWorkerMaxPoolSize", str(cores))
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) of every process in /proc."""
    procs: dict[int, tuple[int, str]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name sits in parentheses and may hold spaces
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        procs[int(entry.name)] = (int(stat[stat.rindex(")") + 2 :].split()[1]), comm)
    return procs


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of ``root_pid``, the JVM it started and the
    Python daemon and workers below that. Other descendants are helper
    processes the JVM spawns to run file commands; before their exec they
    share the JVM's address space, so counting them would count the JVM
    twice."""
    procs = _processes()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)

    def counted(pid: int) -> bool:
        ppid, comm = procs[pid]
        if pid == root_pid or comm.startswith("python"):
            return True
        return comm == "java" and procs.get(ppid, (0, ""))[1] != "java"

    page = os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        if pid not in procs or not counted(pid):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Background sampler of the process tree's summed RSS. ``reset``
    starts a new window; ``peak_mb`` reads the largest sample since."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self._pid = os.getpid()
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            rss = _tree_rss_bytes(self._pid)
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset(self) -> None:
        rss = _tree_rss_bytes(self._pid)
        with self._lock:
            self._peak = rss

    def peak_mb(self) -> float:
        rss = _tree_rss_bytes(self._pid)
        with self._lock:
            self._peak = max(self._peak, rss)
            return self._peak / 1e6

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
