"""Host-aware Spark session, weather probes and process-tree memory."""

from __future__ import annotations

import os
import subprocess
import threading
import time
from pathlib import Path
from typing import Dict, List


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mib() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """A quarter of host RAM, 1-8 GiB: in local mode the Spark driver
    heap is the executor heap, and the host is shared with other
    processes."""
    return f"{max(1, min(8, mem_total_mib() // 4096))}g"


def get_session(app: str, root: Path):
    """local[nproc] session with the repo's own defaults (get_spark) and
    a heap sized from host RAM."""
    from mdscraper_spark.session import get_spark

    cpus = nproc()
    work = root / ".perfbench"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # python workers import mdscraper_spark from the checkout, and every
    # process keeps its scratch files inside it
    path = os.environ.get("PYTHONPATH", "")
    if str(root) not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(root), path) if p)
    os.environ["TMPDIR"] = str(tmp)
    heap = driver_heap()
    spark = get_spark(app, master=f"local[{cpus}]", extra_conf={
        "spark.driver.memory": heap,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-wh"),
        # a fixed-size heap, so GC behaviour does not depend on when the
        # heap happened to grow; and bytecode reflection accessors from
        # the first call, so py4j calls do not speed up over the first
        # timed passes (inflation otherwise switches after 15 calls per
        # method)
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -Dsun.reflect.noInflation=true"
            f" -Djava.io.tmpdir={tmp}"
            f" -Dderby.system.home={work / 'derby'} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cpu_jiffies():
    """(idle + iowait, steal, total) jiffies of all CPUs."""
    vals = [int(x) for x in
            Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return vals[3] + vals[4], vals[7], sum(vals)


class Weather:
    """Host-busy and stolen-CPU fractions (/proc/stat) and the 1-minute
    loadavg around a pass, so a noisy window is visible beside the
    numbers."""

    def __init__(self) -> None:
        self.records: List[dict] = []

    def around(self, label: str, fn):
        idle0, steal0, tot0 = _cpu_jiffies()
        load0 = os.getloadavg()[0]
        t0 = time.monotonic()
        out = fn()
        wall = time.monotonic() - t0
        idle1, steal1, tot1 = _cpu_jiffies()
        total = max(1, tot1 - tot0)
        self.records.append({
            "pass": label,
            "wall_s": wall,
            "host_busy": 1.0 - (idle1 - idle0) / total,
            "steal": (steal1 - steal0) / total,
            "loadavg_before": load0,
            "loadavg_after": os.getloadavg()[0],
        })
        return wall, out


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def _resident_kib(pid: int) -> tuple:
    """(resident KiB, is the JVM).  Proportional set size for the forked
    Python workers, whose shared pages it splits between them; plain RSS
    for the JVM, which shares little and whose page-table walk would make
    sampling slow."""
    proc = Path(f"/proc/{pid}")
    try:
        java = proc.joinpath("comm").read_text().strip() == "java"
        src, key = (("status", "VmRSS:") if java
                    else ("smaps_rollup", "Pss:"))
        for line in proc.joinpath(src).read_text().splitlines():
            if line.startswith(key):
                return int(line.split()[1]), java
    except OSError:
        pass
    return 0, False


def tree_mib(root_pid: int) -> tuple:
    """Resident MiB of root_pid and all its descendants (the benchmark
    process, the Spark driver JVM and the Python workers), and of the
    Python workers alone: the descendants other than the JVM."""
    kids = _children()
    todo, total, workers = [root_pid], 0, 0
    while todo:
        pid = todo.pop()
        kib, java = _resident_kib(pid)
        total += kib
        if pid != root_pid and not java:
            workers += kib
        todo.extend(kids.get(pid, ()))
    return total / 1024, workers / 1024


class PeakRss:
    """Samples process-tree resident memory on a thread while active;
    ``peak`` is the largest sample of the whole tree, ``workers_peak``
    that of the Python workers alone."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0.0
        self.workers_peak = 0.0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            total, workers = tree_mib(pid)
            self.peak = max(self.peak, total)
            self.workers_peak = max(self.workers_peak, workers)
            self._stop.wait(self.interval_s)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def shutdown(spark, timeout_s: float = 30.0) -> None:
    """Stop the session and its JVM and wait for the JVM to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
