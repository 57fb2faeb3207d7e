"""Measurement plumbing shared by the workloads: the Spark session, the
process-tree memory sampler, job-group spans and the event-log reader.

Everything here observes the engine from outside: spans are job groups set
around calls into the library's public entry points, and per-task numbers
come from Spark's own event log, written only in traced runs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import tempfile
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

CPUS = 4
DRIVER_MEMORY = "3g"  # ample for the inputs here; the box is shared, so not more
GROUP_KEY = "spark.jobGroup.id"


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def lower_median_index(values: list[float]) -> int:
    """Index of the sample at the (lower) median — one real run whose
    per-layer numbers add up, rather than a mix of medians."""
    order = sorted(range(len(values)), key=values.__getitem__)
    return order[(len(order) - 1) // 2]


# ------------------------------------------------------------- session


def start_session(work: str, trace: bool):
    """``local[4]`` session from the library's own factory, with every file
    Spark, the JVM and the Python workers write kept under ``work``."""
    from datasketches_rust_spark.plans.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        master=f"local[{CPUS}]", shuffle_partitions=CPUS, app_name="perfbench", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then the JVM it launched, and wait until every process
    this benchmark started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while _children().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def jvm_gc(spark) -> None:
    """Collect garbage on both sides between runs (outside timed windows),
    so the context cleaner frees the previous run's cached blocks."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def jvm_busy_s(spark) -> dict[str, float]:
    """Cumulative JVM garbage-collection and JIT-compilation seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        "gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0,
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
    }


# ------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # process ended while scanning
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of ``root`` (the JVM and its
    Python workers), not counting ``root`` itself."""
    kids = _children()
    total, stack = 0, list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        total += _rss_bytes(pid)
        stack.extend(kids.get(pid, []))
    return total


class PeakRss:
    """Samples the process tree's summed RSS every ``period`` seconds while
    enabled; ``peak_mb`` is the largest sum seen."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            if self._on.is_set():
                self.peak = max(self.peak, tree_rss_bytes(root))
            time.sleep(self.period)

    @contextmanager
    def sampling(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


# ------------------------------------------------------------- spans


@contextmanager
def job_group(spark, name: str):
    """Tag every Spark job started by this thread inside the block with
    ``name``; restores the enclosing tag afterwards."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(GROUP_KEY)
    sc.setLocalProperty(GROUP_KEY, name)
    try:
        yield
    finally:
        sc.setLocalProperty(GROUP_KEY, prev)


def cached_rdd_bytes(spark) -> dict[int, int]:
    """{rdd id: memory + disk bytes} of every cached or locally
    checkpointed RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {int(i.id()): int(i.memSize()) + int(i.diskSize()) for i in infos}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ------------------------------------------------------------- event log


class GroupStats:
    __slots__ = ("jobs", "task_ms", "run_ms", "shuffle_read", "shuffle_write", "spill")

    def __init__(self):
        self.jobs = 0
        self.task_ms: list[int] = []
        self.run_ms = 0
        self.shuffle_read = 0
        self.shuffle_write = 0
        self.spill = 0

    def as_metrics(self, prefix: str) -> dict[str, float]:
        med = median(self.task_ms)
        return {
            f"{prefix}.tasks": len(self.task_ms),
            f"{prefix}.task_time_s": self.run_ms / 1000.0,
            f"{prefix}.task_skew": max(self.task_ms) / med if med > 0 else 0.0,
            f"{prefix}.shuffle_read_bytes": self.shuffle_read,
            f"{prefix}.shuffle_write_bytes": self.shuffle_write,
            f"{prefix}.spill_bytes": self.spill,
        }


def read_event_log(work: str, windows: dict[str, tuple[float, float]] | None = None):
    """Per-job-group task statistics from the (finished) event log.

    Jobs started without a group tag — e.g. from a library-internal worker
    thread — are assigned to the first entry of ``windows``
    ({name: (start_ms, end_ms)}) whose time window holds their submission
    time, else to ``""``.
    """
    (path,) = glob.glob(os.path.join(work, "eventlog", "*"))
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_KEY)
                if group is None:
                    t = ev.get("Submission Time", 0)
                    group = next(
                        (n for n, (a, b) in (windows or {}).items() if a <= t <= b), ""
                    )
                groups[group].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "")]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                g.task_ms.append(info["Finish Time"] - info["Launch Time"])
                g.run_ms += m.get("Executor Run Time", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                g.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g.spill += m.get("Disk Bytes Spilled", 0)
    return groups
