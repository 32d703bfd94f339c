"""Readers for Spark's own status store and the JVM's management beans,
and the in-memory span log of a traced run.

Everything here reads state the program already keeps: job and stage data
from ``SparkContext.statusStore()`` (kept with the UI disabled), collector
time and heap use from JMX, and storage memory from the block manager's
memory manager.  Nothing is instrumented inside ``qcfractal_spark``; spans
are taken around the calls the benchmark itself makes.
"""

from __future__ import annotations

from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


class Jvm:
    """JMX and memory-manager reads on the driver JVM (``local`` mode: the
    executors are threads of this JVM)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._mf = self._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        """Total collector time since JVM start."""
        return sum(g.getCollectionTime() for g in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def full_gc(self) -> None:
        self._jvm.java.lang.System.gc()

    def heap_used_mb(self) -> float:
        return self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB

    def storage_mb(self) -> float:
        return self._jvm.org.apache.spark.SparkEnv.get().memoryManager().storageMemoryUsed() / MB


def _ints(scala_seq) -> list[int]:
    s = scala_seq.mkString(",")
    return [int(x) for x in s.split(",")] if s else []


@dataclass
class GroupStats:
    """What Spark ran for one job group."""

    jobs: int = 0
    stages: int = 0
    single_task_stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    intervals: list = field(default_factory=list)  # (start, end) epoch seconds


class StatusStore:
    """Per-job-group counts read from the status store after an op."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def group(self, group: str) -> GroupStats:
        # listener events arrive asynchronously; drain them before reading
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        out = GroupStats()
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(job_id)
            out.jobs += 1
            start = jd.submissionTime()
            end = jd.completionTime()
            if start.isDefined() and end.isDefined():
                out.intervals.append((start.get().getTime() / 1e3, end.get().getTime() / 1e3))
            for stage_id in _ints(jd.stageIds()):
                sd = self._store.lastStageAttempt(stage_id)
                if sd.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += sd.numTasks()
                out.single_task_stages += sd.numTasks() == 1
                out.executor_run_s += sd.executorRunTime() / 1e3
                out.executor_cpu_s += sd.executorCpuTime() / 1e9
                out.shuffle_read_mb += sd.shuffleReadBytes() / MB
                out.shuffle_write_mb += sd.shuffleWriteBytes() / MB
                out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return out


def covered_s(intervals: list, start: float, end: float) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Spans:
    """Spans kept in memory and written out once, when the run ends."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, op_id: int, name: str, start: float, end: float, parent: str | None):
        self.items.append(
            {"op": op_id, "name": name, "start": start, "end": end, "parent": parent}
        )
