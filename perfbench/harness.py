"""Process plumbing shared by the workloads: the run's work directory
and environment, the Spark session's start and stop, the engine's
memory, machine CPU and steal time, and reads of Spark's own status
stores.

Nothing here imports pyspark at module load: ``configure_env`` must
run before the first pyspark import so the JVM starts with the
environment set here.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(BENCH_DIR)


def box_cpus() -> int:
    return len(os.sched_getaffinity(0))


class WorkDir:
    """Scratch space of one run, under the benchmark's own directory.
    Every file the engine, the JVM and the Python workers write goes
    here, and :meth:`remove` deletes it when the run ends."""

    def __init__(self, workload: str):
        self.path = os.path.join(BENCH_DIR, ".work", f"{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.path, "tmp")
        os.makedirs(self.tmp, exist_ok=True)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:  # another run still works there
            pass


def configure_env(work: WorkDir, cpus: int) -> None:
    """Environment for the engine and the JVM it starts: the core
    count of this box and every temporary directory inside the run's
    work directory.  The heap is left at the engine's own setting."""
    import tempfile

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = work.tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={work.tmp} '
        f'-Dderby.system.home={work.tmp}" '
        f"--conf spark.sql.warehouse.dir={work.sub('warehouse')} pyspark-shell"
    )
    # the engine package must import in the Python workers too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_DIR, os.environ.get("PYTHONPATH")) if p
    )
    if REPO_DIR not in sys.path:
        sys.path.insert(0, REPO_DIR)


def start_spark():
    """The engine's own session factory, quiet logs."""
    from sfs3_kinesis_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM
    process to end (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a hung JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def live_heap_mb() -> float:
    """The JVM heap in use after a full collection: what the engine
    still holds, whatever size the collector let the heap grow to.
    Python drops its dead JVM handles first, and the JVM collects twice:
    Spark's context cleaner frees shuffle and broadcast blocks only
    after a collection has found their owners dead."""
    import gc

    from pyspark import SparkContext

    gc.collect()
    mem = SparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    time.sleep(1.0)
    mem.gc()
    return int(mem.getHeapMemoryUsage().getUsed()) / 2**20


def engine_memory() -> dict[str, float]:
    """Peak resident sizes (VmHWM) of this Python driver and of the JVM
    it started, the JVM heap's peak use summed over its pools and its
    committed size, and the JVM's garbage-collection time so far, for
    the detail line.  On an unpinned heap these follow the collector's
    sizing decisions and swing by a third between runs."""
    from pyspark import SparkContext

    mgmt = SparkContext._jvm.java.lang.management.ManagementFactory
    heap = sum(
        int(p.getPeakUsage().getUsed())
        for p in mgmt.getMemoryPoolMXBeans()
        if str(p.getType()) == "Heap memory"
    )
    return {"python_hwm_mb": _hwm_mb(os.getpid()), "jvm_hwm_mb": _hwm_mb(SparkContext._gateway.proc.pid),
            "jvm_heap_peak_mb": heap / 2**20,
            "jvm_heap_committed_mb": int(mgmt.getMemoryMXBean().getHeapMemoryUsage().getCommitted()) / 2**20,
            "jvm_gc_s": sum(int(g.getCollectionTime()) for g in mgmt.getGarbageCollectorMXBeans()) / 1000.0}


class CpuWindow:
    """Wall and CPU time of the whole machine over a window, from
    ``/proc/stat``: the busy time its processes got and the time the
    hypervisor stole from them (``steal``).  ``steal_share`` is the
    stolen part of the CPU time the machine asked for.  Recorded in
    the detail line to explain slow runs on a shared virtual machine;
    no metric is corrected by it."""

    def __init__(self) -> None:
        self._wall0 = time.time()
        self._t0 = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]

    def stop(self) -> dict:
        d = [b - a for a, b in zip(self._t0, self._read())]
        hz = os.sysconf("SC_CLK_TCK")
        user, nice, system, _idle, _iowait, irq, softirq, steal = d
        busy = (user + nice + system + irq + softirq) / hz
        share = steal / hz / (busy + steal / hz) if busy else 0.0
        return {"wall_s": time.time() - self._wall0, "busy_s": busy, "steal_s": steal / hz,
                "steal_share": share}


class SparkCounters:
    """Reads of the live status stores (they stay live with the UI
    off).  Adds no Spark jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def next_job_id(self) -> int:
        """Jobs submitted so far in this context."""
        return int(self._jsc.dagScheduler().nextJobId())

    def drain_listeners(self, timeout_ms: int = 10_000) -> None:
        """Wait until the status store has seen every finished job."""
        self._jsc.listenerBus().waitUntilEmpty(timeout_ms)

    def group_stats(self, group: str) -> dict:
        """Jobs, stages, tasks, executor time, shuffle and spill of
        every job run under job group ``group``."""
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = dict(jobs=0, stages=0, tasks=0, run_ms=0, cpu_ns=0,
                   shuffle_read=0, shuffle_write=0, spill=0)
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage the store evicted or never saw
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(st.numCompleteTasks())
                out["run_ms"] += int(st.executorRunTime())
                out["cpu_ns"] += int(st.executorCpuTime())
                out["shuffle_read"] += int(st.shuffleReadBytes())
                out["shuffle_write"] += int(st.shuffleWriteBytes())
                out["spill"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        return out


def catalyst_phases_ms(df) -> dict[str, int]:
    """Plan ``df`` to its physical plan and return the Catalyst phase
    times of its query execution (analysis, optimization, planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[str(kv._1())] = int(kv._2().durationMs())
    return phases


class ProgressLog:
    """Every ``StreamingQueryProgress`` of the session, collected by a
    streaming query listener (the listener bus, not a poll)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []
        self._lock = threading.Lock()
        self._cond = threading.Condition(self._lock)

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with log._cond:
                    log.events.append(p)
                    log._cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark = spark
        spark.streams.addListener(self._listener)

    def wait_for(self, pred, timeout_s: float) -> dict | None:
        """Return the first logged progress event, old or new, that
        satisfies ``pred``, waiting for new ones up to ``timeout_s``;
        None if none does in time."""
        deadline = time.time() + timeout_s
        seen = 0
        with self._cond:
            while True:
                for p in self.events[seen:]:
                    if pred(p):
                        return p
                seen = len(self.events)
                left = deadline - time.time()
                if left <= 0:
                    return None
                self._cond.wait(left)

    def since(self, n: int) -> list[dict]:
        with self._lock:
            return list(self.events[n:])

    def count(self) -> int:
        with self._lock:
            return len(self.events)

    def remove(self) -> None:
        self.spark.streams.removeListener(self._listener)
