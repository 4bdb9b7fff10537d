"""The box a run measures on: sizing, the run's scratch workspace, the
Spark session, and the /proc samplers behind ``peak_rss_mb`` and
``disk_bytes_per_url``.

Everything a run writes (snapshot roots, Spark local dirs, event logs,
Python and JVM temp files) lives under ``<checkout>/.perfbench_run/<pid>``
and is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb_for(total_ram_mb: int) -> int:
    """JVM heap cap: a quarter of RAM, between 1 and 4 GiB. Local mode runs
    the JVM, its task threads and the Python workers in this one box, and
    the workloads' live data is far below 1 GiB."""
    return max(1024, min(4096, total_ram_mb // 4))


class Workspace:
    """Per-run scratch tree; ``close()`` removes it."""

    def __init__(self, checkout: str):
        self.root = os.path.join(checkout, ".perfbench_run", str(os.getpid()))
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("tmp", "local", "evlog", "data"):
            os.makedirs(os.path.join(self.root, sub))
        self.tmp = os.path.join(self.root, "tmp")
        self.local = os.path.join(self.root, "local")
        self.evlog = os.path.join(self.root, "evlog")
        # Python workers and the JVM inherit these; tempfile caches its
        # directory on first use, so pin it here as well
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        # spark-submit's short-lived launcher JVM: no hsperfdata in /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        tempfile.tempdir = self.tmp

    def data_dir(self, name: str) -> str:
        path = os.path.join(self.root, "data", name)
        os.makedirs(path, exist_ok=True)
        return path

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_spark(ws: Workspace, n_cores: int, heap_mb: int, event_log: bool):
    """A fresh local[n_cores] session sized for this box. The app name
    must not contain "bench": the session factory then adds a generic
    warm-up, and each workload runs its own warm-up inside ``setup_s``."""
    from dnscrawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": ws.local,
        "spark.sql.warehouse.dir": os.path.join(ws.root, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata in /tmp; JVM temp files stay in the workspace. The
        # heap is capped, not committed up front. By default G1 sizes its
        # young generation from pause times and grows the heap whenever GC
        # takes over ~8% of the time, both timing-driven: the resident heap
        # of one crawl reached 1.4 GB in one run and 2.3 GB in the next. A
        # fixed young generation (a tenth of the cap) and growth only once
        # GC would take half the time leave heap growth, and so
        # peak_rss_mb, to what the program retains.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={ws.tmp} -XX:-UsePerfData"
            f" -Xmn{heap_mb // 10}m -XX:GCTimeRatio=1"
        ),
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ws.evlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="frontier_perf",
        master=f"local[{n_cores}]",
        shuffle_partitions=2 * n_cores,
        extra_conf=conf,
    )


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
        # the command name may hold spaces and parentheses: fields start
        # after the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _proc_bytes(pid: int) -> int:
    """Resident bytes of one process. Python processes (this one and the
    workers forked from one daemon, sharing most pages) count their
    proportional set size, so a page shared by N workers counts once; the
    JVM, whose heap is private and which reading smaps would stall on its
    memory lock, counts plain RSS."""
    with open(f"/proc/{pid}/comm") as f:
        python = f.read().startswith("python")
    if not python:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and all its descendants."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            total += _proc_bytes(p)
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    JVM and the Python workers), sampled from /proc at a fixed interval."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak / (1 << 20)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                continue
    return total


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the JVM gateway and wait until the JVM
    and every Python worker it started have exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting its reaper
    (state Z) counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"
