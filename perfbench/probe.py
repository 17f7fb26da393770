"""Measurement taken from outside logflow: the Spark status store, the
``load_table`` timing wrapper, memory from ``/proc`` and the JVM's GC log,
and host steal.

Nothing here changes what logflow computes.  The status store reads
happen after an operation has returned, outside its timed region.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import sys
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class SparkCounters:
    """Spark work attributed to one or more phases, summed."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    unattributed_jobs: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_ms: list[int] = field(default_factory=list)

    def add(self, other: SparkCounters) -> None:
        for name in self.__dataclass_fields__:
            if name == "task_ms":
                self.task_ms.extend(other.task_ms)
            else:
                setattr(self, name, getattr(self, name) + getattr(other, name))


class StatusStore:
    """Reads job and stage data for id ranges from the SparkContext's
    status store, which exists even with the UI disabled.

    Job and stage ids are handed out in submission order, so the ids
    created between two marks belong to the work run between them when
    the benchmark runs one operation at a time.
    """

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id)."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def read(self, start: tuple[int, int], end: tuple[int, int]) -> SparkCounters:
        """Counters for the jobs and stages created between two marks.

        A job the store no longer holds, or whose stages it dropped, is
        counted in ``unattributed_jobs`` instead of silently adding zeros.
        """
        # Listener events arrive asynchronously; drain them first.
        self._bus.waitUntilEmpty(30_000)
        c = SparkCounters()
        for job_id in range(start[0], end[0]):
            c.jobs += 1
            try:
                job = self._store.job(job_id)
                ids = job.stageIds()
                for i in range(ids.size()):
                    self._store.lastStageAttempt(ids.apply(i))
            except Exception:  # py4j wraps NoSuchElementException
                c.unattributed_jobs += 1
        for stage_id in range(start[1], end[1]):
            try:
                sd = self._store.lastStageAttempt(stage_id)
            except Exception:
                continue  # counted through its job above
            done = sd.numCompleteTasks()
            if done == 0 and sd.numFailedTasks() == 0:
                continue  # skipped stage: its shuffle output was reused
            c.stages += 1
            c.tasks += done
            c.failed_tasks += sd.numFailedTasks()
            c.executor_run_ms += sd.executorRunTime()
            c.executor_cpu_ns += sd.executorCpuTime()
            c.input_bytes += sd.inputBytes()
            c.shuffle_read_bytes += sd.shuffleReadBytes()
            c.shuffle_write_bytes += sd.shuffleWriteBytes()
            c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tasks = self._store.taskList(stage_id, sd.attemptId(), 1 << 20)
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    c.task_ms.append(int(d.get()))
        return c

    def job_tags(self, start: tuple[int, int], end: tuple[int, int]) -> list[tuple[str | None, str | None]]:
        """(job group, description) of each job created between two marks."""
        self._bus.waitUntilEmpty(30_000)
        out = []
        for job_id in range(start[0], end[0]):
            try:
                job = self._store.job(job_id)
            except Exception:
                continue
            group, desc = job.jobGroup(), job.description()
            out.append((group.get() if group.isDefined() else None, desc.get() if desc.isDefined() else None))
        return out


@dataclass
class SourceCalls:
    calls: int = 0
    seconds: float = 0.0
    jobs: int = 0


class LoadTableWrapper:
    """Times every ``load_table`` call while installed.

    Query modules bind ``load_table`` at import, so the wrapper replaces
    the name in every loaded ``logflow`` module that holds the original.
    """

    def __init__(self, store: StatusStore) -> None:
        self._store = store
        self.totals = SourceCalls()
        self._patched: list[tuple[object, object]] = []

    def install(self) -> None:
        from logflow.sources import tables

        original = tables.load_table
        store, totals = self._store, self.totals

        def timed_load_table(*args, **kwargs):
            j0 = store.mark()[0]
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                totals.seconds += time.perf_counter() - t0
                totals.calls += 1
                totals.jobs += store.mark()[0] - j0

        for name, mod in list(sys.modules.items()):
            if name.startswith("logflow") and getattr(mod, "load_table", None) is original:
                setattr(mod, "load_table", timed_load_table)
                self._patched.append((mod, original))

    def uninstall(self) -> None:
        for mod, original in self._patched:
            setattr(mod, "load_table", original)
        self._patched.clear()

    @contextmanager
    def installed(self) -> Iterator[None]:
        self.install()
        try:
            yield
        finally:
            self.uninstall()


def _status_kib(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
    except OSError:
        pass
    return out


def spark_jvm_pid() -> int | None:
    """The Spark JVM this process launched (a direct child running java)."""
    for pid in _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def peak_rss_mb(jvm_pid: int | None) -> tuple[float, float]:
    """Peak resident memory (VmHWM) of this process and of its Spark JVM, MiB."""
    jvm = _status_kib(jvm_pid, "VmHWM") if jvm_pid is not None else 0
    return _status_kib("self", "VmHWM") / 1024.0, jvm / 1024.0


_GC_LINE = re.compile(r"\d+([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
_MIB = {"K": 1 / 1024, "M": 1, "G": 1024}


def heap_after_gc_peak_mb(gc_log: str) -> float:
    """Largest heap occupancy left after any collection, MiB, from the
    JVM's ``-Xlog:gc`` file: the memory the program holds on to, which
    resident memory hides once the heap has been touched."""
    peak = 0.0
    try:
        with open(gc_log) as fh:
            for line in fh:
                m = _GC_LINE.search(line)
                if m:
                    peak = max(peak, int(m.group(2)) * _MIB[m.group(3)])
    except OSError:
        pass
    return peak


def host_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class StealGauge:
    """Share of the host's CPU time stolen by other tenants over a window:
    the context needed to read a slow run."""

    def __init__(self) -> None:
        self._start = host_cpu_jiffies()

    def stop(self) -> dict:
        steal, total = host_cpu_jiffies()
        s0, t0 = self._start
        return {"host.steal_ratio": ((steal - s0) / max(total - t0, 1), "ratio")}


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = min(len(s), max(1, math.ceil(q / 100 * len(s))))
    return float(s[k - 1])


def spark_layers(c: SparkCounters, n_ops: int, wall_s: float, cpus: int) -> dict:
    """Spark execution counters per operation (query or micro-batch)."""
    n = max(n_ops, 1)
    return {
        "spark.jobs": (c.jobs / n, "count"),
        "spark.stages": (c.stages / n, "count"),
        "spark.tasks": (c.tasks / n, "count"),
        "spark.task_p50_ms": (median([float(x) for x in c.task_ms]), "ms"),
        "spark.core_busy_ratio": (c.executor_run_ms / 1000.0 / (wall_s * cpus) if wall_s else 0.0, "ratio"),
        "spark.executor_cpu_s": (c.executor_cpu_ns / 1e9 / n, "s"),
        "spark.input_bytes": (c.input_bytes / n, "bytes"),
        "spark.shuffle_read_bytes": (c.shuffle_read_bytes / n, "bytes"),
        "spark.shuffle_write_bytes": (c.shuffle_write_bytes / n, "bytes"),
        "spark.spill_bytes": (c.spill_bytes / n, "bytes"),
        "spark.failed_tasks": (c.failed_tasks, "count"),
        "spark.unattributed_jobs": (c.unattributed_jobs, "count"),
    }
