"""Run state shared by the workloads: the Spark session's lifetime, the
set-up clock, peak memory, job counts, and the attempted/failed tally."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

import gen
from tracing import NullTracer, Tracer

#: local[k] with k <= nproc; the benchmark's load comes from this one process
CPUS = min(4, os.cpu_count() or 1)
#: driver JVM heap: fits a 15 GiB host with room for the Python side
DRIVER_MEM = "2g"


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and size the driver JVM for the host. The heap is committed
    and touched at start-up: otherwise its resident size follows when the
    collector happened to reach fresh regions (2.55 or 2.82 GB for the same
    run), and peak memory would measure the collector, not the run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # collected timestamps are rendered in the process's zone; the oracles
    # and the session both work in UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false"
        f" --conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
        f" --driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}' pyspark-shell"
    )


def since_process_start() -> float:
    """Seconds since this process was created (interpreter start-up and
    imports included)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and its descendants. A child that reports
    exactly its parent's virtual and resident size is a spawn in progress
    (posix_spawn shares the parent's address space until exec; the JVM
    spawns helpers this way), so its pages are the parent's and count once."""
    kids: dict[int, list[int]] = {}
    mem: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        kids.setdefault(int(f[1]), []).append(pid)
        mem[pid] = (int(f[20]), int(f[21]))
    total, todo = 0, [(root, None)]
    while todo:
        p, parent = todo.pop()
        if p in mem and mem[p] != mem.get(parent):
            total += mem[p][1]
        todo.extend((c, p) for c in kids.get(p, ()))
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Peak of the summed resident memory of this process and all its
    descendants (JVM, Python workers), sampled every ``period`` s."""

    def __init__(self, period: float = 0.1):
        self.peak = 0
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self._period)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


class Bench:
    """One benchmark run: inputs, session, clocks and results."""

    def __init__(self, work: str, workload: str, seed: int, seconds: float, trace: bool, size: str):
        self.work = work
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.size = gen.SIZES[size]
        self.tracer = Tracer() if trace else NullTracer()
        self.trace_extra: dict = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.problems: list[str] = []
        self.spark = None
        self.rss = RssSampler()

    # -- session ---------------------------------------------------------

    def start_spark(self):
        from vectordb_bioinsight_spark.session import get_session

        with self.tracer.span("session.get_session"):
            self.spark = get_session(f"perfbench-{self.workload}", cpus=CPUS)
        return self.spark

    def setup_done(self) -> None:
        self.e2e["setup_s"] = since_process_start()

    def clear_cache(self) -> None:
        self.spark.catalog.clearCache()

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def job_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def job_counts(self, name: str) -> tuple[int, int, int]:
        """(jobs, stages that ran tasks, tasks) of one job group."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(name)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return len(jobs), stages, tasks

    # -- outcomes --------------------------------------------------------

    def attempt(self, fn, *args):
        """Run one operation; an exception counts it failed (the run goes
        on) and returns None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - one failed operation must not end the run
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            self.problems.append(f"operation raised: {traceback.format_exc(limit=1).strip().splitlines()[-1]}")
            return None

    def check(self, problems: list[str]) -> bool:
        """Record a finished operation's check; a failed check counts the
        operation failed and makes the run incorrect."""
        if problems:
            self.failed += 1
            self.wrong += 1
            self.problems.extend(problems[:3])
        return not problems

    # -- teardown --------------------------------------------------------

    def close(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None
        self.e2e["peak_rss_mb"] = self.rss.stop()
        shutil.rmtree(self.work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.close()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
