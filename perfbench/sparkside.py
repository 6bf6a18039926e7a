"""Spark-facing helpers: session start, graph loading, process and
status-store probes.

Everything here talks to the engine through its public entry points
or to Spark's own JVM objects over py4j (the AppStatusStore, the management
MXBeans); no library code is changed.
"""

from __future__ import annotations

import ctypes
import os
import resource
import signal
import subprocess
import tempfile
import time

from metrics import Stage

PR_SET_CHILD_SUBREAPER = 36   # prctl option, <linux/prctl.h>


def start_spark(cores: int, work_dir: str):
    """``local[cores]`` session whose scratch files stay in ``work_dir``."""
    from pyspark.sql import SparkSession
    # processes orphaned by the JVM (the launcher shell that spark-class
    # leaves unreaped under it) come back to this process, which reaps
    # them in stop_spark; without this they outlive the run as zombies
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                            0, 0, 0)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every scratch file in the work dir: an inherited
    # SPARK_LOCAL_DIRS would win over spark.local.dir, and the gateway
    # launch makes a Python temp dir
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # no JVM perf-data file in the system temp dir (launcher and driver)
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"])
    # glibc's per-thread malloc arenas make the JVM's resident size
    # depend on thread scheduling; two arenas keep peak_rss_mb steady
    os.environ["MALLOC_ARENA_MAX"] = "2"
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             # the traced run reads every job and stage of a request
             # back from the status store; keep all of them
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.driver.memory", "1g")
             .config("spark.local.dir", tmp)
             .config("spark.sql.warehouse.dir",
                     os.path.join(work_dir, "warehouse"))
             # a fixed, pre-touched heap: resident heap pages do not
             # depend on when G1 decided to grow the heap
             .config("spark.driver.extraJavaOptions",
                     f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                     f"-Djava.io.tmpdir={tmp} "
                     f"-Dderby.system.home={tmp}")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark=None, timeout_s: float = 60.0) -> None:
    """Stop ``spark`` (if any), then the gateway JVM (``SparkSession.stop``
    leaves that running until Python exits), and wait until the JVM and
    every process it started have ended."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()    # the JVM exits at end of its input
                try:
                    proc.wait(timeout_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            _reap_orphans(timeout_s)


def _start_time(pid: int) -> str | None:
    """Start time of ``pid`` (tells a process from a later reuse of its
    id), or None once it has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if rest[0] in "ZX" else rest[19]


def _descendants(root: int) -> list:
    """(pid, start time) of every live descendant of ``root``."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            children.setdefault(int(rest[1]), []).append((int(name), rest[19]))
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid[0])
    return out


def _end(procs: list, timeout_s: float) -> None:
    """Terminate the (pid, start time) processes that still run and wait
    until each has ended, killing what outlives ``timeout_s``."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + timeout_s
        for pid, t in procs:
            if _start_time(pid) == t:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        while any(_start_time(p) == t for p, t in procs):
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
        else:
            return


def _reap_orphans(timeout_s: float) -> None:
    """End and reap every child of this process: the descendants the
    JVM left behind are reparented here (see ``start_spark``)."""
    _end(_descendants(os.getpid()), timeout_s)
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def copurchase_edges(spark, data_dir: str, copies: int = 1):
    """Undirected co-purchase pairs (src < dst) of ``data_dir``, as
    ``copies`` id-shifted disjoint copies (the mid-scale construction of
    ``bench.py``), plus their seeded-hash orientation; both persisted
    and materialized."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    base = entry._copurchase_edges(spark, data_dir)
    edges = base
    if copies > 1:
        shift = base.agg(F.max(F.greatest("src", "dst"))).collect()[0][0] + 1
        for i in range(1, copies):
            edges = edges.unionByName(base.select(
                (F.col("src") + i * shift).alias("src"),
                (F.col("dst") + i * shift).alias("dst")))
    edges = edges.persist()
    flip = (F.col("src") * 7 + F.col("dst") * 13) % 3 == 0
    directed = edges.select(
        F.when(flip, F.col("dst")).otherwise(F.col("src")).alias("src"),
        F.when(flip, F.col("src")).otherwise(F.col("dst")).alias("dst"),
    ).persist()
    edges.count()
    directed.count()
    return edges, directed


class ProcessProbe:
    """CPU seconds and peak resident memory of Python plus the driver
    JVM (in ``local[N]`` the JVM also runs every task)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._tick = os.sysconf("SC_CLK_TCK")

    def python_cpu_s(self) -> float:
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return ru.ru_utime + ru.ru_stime

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            # fields after the parenthesised command name; utime and
            # stime are fields 14 and 15 of the whole line
            rest = f.read().rsplit(")", 1)[1].split()
        return (int(rest[11]) + int(rest[12])) / self._tick

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


class StatusReader:
    """Jobs and stages from the driver's AppStatusStore, by id."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._mf = spark._jvm.java.lang.management.ManagementFactory

    def drain(self) -> None:
        """Wait until the status listener has seen every posted event."""
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def last_job_id(self) -> int:
        jobs = self._store.jobsList(None)   # newest first
        return jobs.apply(0).jobId() if jobs.nonEmpty() else -1

    def jobs(self, first: int, last: int) -> list:
        """(job id, job group or None, submit ms, stage ids) of the
        jobs with ids in ``first..last``."""
        out = []
        for jid in range(first, last + 1):
            j = self._store.job(jid)
            grp = j.jobGroup()
            sub = j.submissionTime()
            stage_ids = j.stageIds()
            out.append((jid, grp.get() if grp.isDefined() else None,
                        sub.get().getTime() if sub.isDefined() else None,
                        [stage_ids.apply(i)
                         for i in range(stage_ids.size())]))
        return out

    def stage(self, stage_id: int) -> Stage | None:
        """The last attempt of ``stage_id`` if it ran, else None."""
        sd = self._store.lastStageAttempt(stage_id)
        status = sd.status().toString()
        if status not in ("COMPLETE", "FAILED"):
            return None
        sub, done = sd.submissionTime(), sd.completionTime()
        return Stage(
            stage_id=stage_id,
            start_ms=sub.get().getTime() if sub.isDefined() else None,
            end_ms=done.get().getTime() if done.isDefined() else None,
            tasks=sd.numCompleteTasks(),
            cpu_s=sd.executorCpuTime() / 1e9,
            run_s=sd.executorRunTime() / 1e3,
            shuffle_write_b=sd.shuffleWriteBytes(),
            shuffle_read_b=sd.shuffleReadBytes(),
            spill_b=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            peak_mem_b=sd.peakExecutionMemory())

    def gc_ms(self) -> int:
        beans = self._mf.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime()
                   for i in range(beans.size()))

    def jit_ms(self) -> int:
        return self._mf.getCompilationMXBean().getTotalCompilationTime()
