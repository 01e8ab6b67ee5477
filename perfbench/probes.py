"""Readings taken outside the timed region: the JVM's management beans,
Spark's status store, and /proc counters for the JVM, its Python
workers and the host.

Nothing here runs a Spark job. Every reading is a delta or a snapshot
that the benchmark takes between passes.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_cpu_ticks(pid: int) -> tuple[int, int, int]:
    """(ppid, own cpu ticks, reaped-children cpu ticks) of one process."""
    with open(f"/proc/{pid}/stat") as f:
        rest = f.read().rsplit(")", 1)[1].split()
    # Fields after the comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    return int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = _proc_cpu_ticks(int(name))[0]
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


def workers_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's descendants (the Python worker daemons
    and their forked workers), live plus reaped. A worker that exits
    between two readings moves its count into its parent's reaped
    total, so deltas stay right."""
    total = 0
    for pid in descendants(jvm_pid):
        try:
            _, own, reaped = _proc_cpu_ticks(pid)
        except (OSError, IndexError, ValueError):
            continue
        total += own + reaped
    return total / _TICK


def process_cpu_s(pid: int) -> float:
    return _proc_cpu_ticks(pid)[1] / _TICK


def rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


class JvmProbe:
    """Per-pass JVM, worker and host counters. ``start()`` before a
    pass, ``stop()`` after it; ``heap_live_mb()`` forces a full GC and
    belongs after ``stop()``."""

    def __init__(self, spark):
        self.spark = spark
        self.pid = spark.sparkContext._gateway.proc.pid
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._compile = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._memory = mf.getMemoryMXBean()
        self._start: dict[str, float] = {}

    def _read(self) -> dict[str, float]:
        return {
            "jvm.cpu_s": process_cpu_s(self.pid),
            "jvm.jit_cpu_s": self._compile.getTotalCompilationTime() / 1000,
            "jvm.gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1000,
            "python.cpu_s": workers_cpu_s(self.pid),
            "host.steal_s": host_steal_s(),
        }

    def start(self) -> None:
        self._start = self._read()

    def stop(self) -> dict[str, float]:
        end = self._read()
        out = {k: end[k] - self._start[k] for k in end}
        out["jvm.rss_peak_mb"] = rss_peak_mb(self.pid)
        return out

    def heap_live_mb(self) -> float:
        self.spark._jvm.java.lang.System.gc()
        return self._memory.getHeapMemoryUsage().getUsed() / 2**20


def versions(spark) -> dict[str, str]:
    system = spark._jvm.java.lang.System
    return {"spark": spark.version, "java": system.getProperty("java.version")}


class JobGroups:
    """Attributes Spark jobs to named layers through job groups. One
    group id per (pass, layer); ``collect`` reads the status store
    after the pass and sums jobs, tasks, executor run time and shuffle
    writes per layer."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.labels: set[str] = set()

    def enter(self, label: str) -> None:
        self.labels.add(label)
        self.sc.setJobGroup(f"{self.tag}|{label}", label, False)

    def leave(self) -> None:
        self.enter("untracked")

    def close(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def collect(self) -> dict[str, dict[str, float]]:
        store = self.sc._jsc.sc().statusStore()
        gateway = self.sc._gateway
        stages = store.stageList(
            None, False, False, gateway.new_array(gateway.jvm.double, 0), None
        )
        by_stage: dict[int, list] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            by_stage.setdefault(s.stageId(), []).append(s)
        out: dict[str, dict[str, float]] = {
            label: {"jobs": 0, "tasks": 0, "busy_s": 0.0, "shuffle_mb": 0.0}
            for label in self.labels
        }
        jobs = store.jobsList(None)
        prefix = f"{self.tag}|"
        mine = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if group.isDefined() and group.get().startswith(prefix):
                mine.append((job.jobId(), group.get()[len(prefix) :], job))
        # A stage shared by several jobs counts once, for the first job
        # that lists it.
        seen: set[int] = set()
        for _, label, job in sorted(mine, key=lambda t: t[0]):
            acc = out[label]
            acc["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                for s in by_stage.get(sid, []):
                    acc["tasks"] += s.numCompleteTasks()
                    acc["busy_s"] += s.executorRunTime() / 1000
                    acc["shuffle_mb"] += s.shuffleWriteBytes() / 1e6
        return out


def host_info() -> dict[str, float]:
    return {"nproc": len(os.sched_getaffinity(0)), "load1": os.getloadavg()[0]}
