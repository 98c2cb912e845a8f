"""Spark session lifetime, process-tree RSS sampling and timing helpers.

All scratch state (Spark local dirs, JVM temp dir, event logs, outputs)
lives under one work directory inside the checkout, removed at exit.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

def slots() -> int:
    return len(os.sched_getaffinity(0))


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
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and its descendants. Unlike RSS,
    PSS splits pages shared between processes (the Python workers fork
    from one daemon) among them, so the sum does not depend on how many
    idle workers happen to be alive."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakMemory:
    """Samples the memory (PSS) of this process and all its descendants
    (the JVM, the Python workers) in a background thread; ``peak_mb`` is
    the largest sum seen while the sampler was running."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def start_session(work: str, trace: bool):
    """local[slots] session whose every scratch path is under ``work``."""
    from pyspark.sql import SparkSession

    n = slots()
    for sub in ("local", "tmp", "events", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM, including spark-submit's launcher, keeps its temp files
    # and perf data out of the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", "2g")
        # a pre-touched fixed heap: GC-driven heap growth otherwise made
        # the tree's peak RSS swing by ~1.3 GB between identical runs
        .config("spark.driver.extraJavaOptions", "-Xms2g -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(work, "events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until every process this
    run started (JVM, Python worker daemons) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    alive = started
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in alive):
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


class Timer:
    def __enter__(self) -> "Timer":
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.t1 = time.perf_counter()
        self.s = self.t1 - self.t0
