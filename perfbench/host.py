"""Host sizing, the Spark session, and process-tree memory sampling."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from pathlib import Path


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """An eighth of physical RAM, at most 2 GiB: local mode runs the
    executors inside the driver JVM, the Python workers and Arrow buffers
    need the rest, and the benchmark's inputs are small."""
    return max(1024, min(2048, mem_total_mb() // 8))


# no jvmstat file under /tmp/hsperfdata_<user>: the benchmark writes only
# inside its checkout
JVM_FILE_OPTS = "-XX:-UsePerfData"


def launcher_env(work: Path) -> dict[str, str]:
    """Environment for the spark-submit launcher JVM, which reads no Spark
    conf: keep its temp files and perf data inside the checkout too."""
    return {"SPARK_LAUNCHER_OPTS": f"{JVM_FILE_OPTS} -Djava.io.tmpdir={work / 'tmp'}"}


def session_conf(root: Path, work: Path, trace: bool) -> dict[str, str]:
    cores = cpu_count()
    tmp = work / "tmp"
    heap = driver_memory_mb()
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "sparkkd-perfbench",
        "spark.driver.memory": f"{heap}m",
        # a fixed, pre-touched heap: the JVM's resident set no longer
        # depends on when the collector chose to grow the heap, so the
        # process-tree peak RSS repeats from run to run
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap}m -XX:+AlwaysPreTouch {JVM_FILE_OPTS} -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # workers launched from a directory other than the checkout root
        # cannot import sparkkd unless the root is on their path
        "spark.executorEnv.PYTHONPATH": str(root),
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    for key in ("spark.local.dir", "spark.sql.warehouse.dir"):
        Path(conf[key]).mkdir(parents=True, exist_ok=True)
    if conf.get("spark.eventLog.dir"):
        Path(conf["spark.eventLog.dir"].removeprefix("file://")).mkdir(
            parents=True, exist_ok=True
        )
    builder = SparkSession.builder
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(root_pid: int) -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM it launched, and wait until the JVM and the
    Python workers it forked have all exited (killing any still alive at
    the deadline).  Closing the gateway's stdin is what makes the JVM exit;
    the worker daemon exits when the JVM's end of its pipe closes."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    alive = procs
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests, summed over
    this machine's CPUs since boot (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of root_pid, its live descendants and the
    children they have reaped."""
    kids = _children()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(root_pid: int) -> dict[str, float]:
    """Resident set of root_pid and all its descendants (driver Python,
    the JVM and the Python workers), from /proc, by command name."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    by_comm: dict[str, float] = {}
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page / 2**20
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        by_comm[comm] = by_comm.get(comm, 0.0) + rss
    return by_comm


class RssSampler:
    """Samples the process tree's RSS on a background thread; .peak_mb is
    the largest sample.  Use as a context manager so the thread is joined."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_comm: dict[str, float] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            by_comm = tree_rss_mb(pid)
            self.peak_mb = max(self.peak_mb, sum(by_comm.values()))
            for comm, mb in by_comm.items():
                self.peak_by_comm[comm] = max(self.peak_by_comm.get(comm, 0.0), mb)
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
