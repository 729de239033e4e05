"""Read-outs from Spark's own hooks, taken from outside the program.

- Job/stage/task counts, shuffle, spill, output bytes and executor run
  time per job group, from ``statusTracker`` and the status store. They
  are read right after each call (after the listener bus drains), so the
  store's ``spark.ui.retainedJobs``/``retainedStages`` cap (1000) can
  never drop a count during a long run.
- Catalyst phase times from a query's ``QueryPlanningTracker``.
- Persisted-RDD count from ``getPersistentRDDs``.
- Peak RSS of this process and the JVM it launched, from ``/proc``.
"""

from __future__ import annotations

import os
import signal
import time
from dataclasses import dataclass, fields

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Counts:
    """Spark work done under one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    run_ms: int = 0  # Σ executorRunTime over the group's stages

    def __iadd__(self, other: Counts) -> Counts:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self

    def shape(self) -> tuple[int, int, int]:
        return self.jobs, self.stages, self.tasks


def drain(sc: SparkContext) -> None:
    """Wait until the status listener has seen every posted event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_counts(sc: SparkContext, group: str) -> Counts:
    """Counts for every job run under ``group``; call after :func:`drain`.

    Stages skipped because their shuffle output was reused count as
    neither stages nor tasks.
    """
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = Counts()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out.jobs += 1
        for stage_id in info.stageIds:
            attempts = store.stageData(stage_id, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
                out.shuffle_bytes += sd.shuffleWriteBytes()
                out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out.output_bytes += sd.outputBytes()
                out.run_ms += sd.executorRunTime()
    return out


def planning_s(df: DataFrame) -> float:
    """Plan ``df`` and return its Catalyst phase total (analysis,
    optimization and physical planning) from the planning tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    it = phases.iterator()
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


def persistent_rdds(sc: SparkContext) -> int:
    return sc._jsc.getPersistentRDDs().size()


def reset_caches(spark: SparkSession) -> None:
    """Start the next op with an empty cache: drop cached tables and
    unpersist every RDD still marked persistent."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of all CPU time between two :func:`cpu_ticks` readings
    that the hypervisor gave to other guests."""
    return (after[1] - before[1]) / max(after[0] - before[0], 1)


def jvm_pid() -> int | None:
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    return proc.pid if proc is not None else None


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: set[int]) -> float:
    """Σ peak resident set size (VmHWM) of the given processes, in MiB."""
    return sum(_peak_rss_kb(p) for p in pids) / 1024.0


def stop_jvm(spark: SparkSession | None) -> None:
    """Stop the session, shut the py4j gateway down, and wait until the
    JVM and every process under it (the Python workers) has exited."""
    descendants = _descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20.0
    while descendants and time.monotonic() < deadline:
        descendants = {p for p in descendants if _alive(p)}
        time.sleep(0.05)
    for p in descendants:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _descendants(pid: int) -> set[int]:
    out: set[int] = set()
    todo = [pid]
    while todo:
        try:
            with open(f"/proc/{todo[0]}/task/{todo[0]}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            kids = []
        todo = todo[1:] + kids
        out.update(kids)
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
