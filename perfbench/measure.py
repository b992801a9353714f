"""Percentiles, spans and counters read from outside the program.

Nothing here touches engine internals: process memory comes from
``/proc``, GC time from the JVM's ``GarbageCollectorMXBean``s, job/stage/
task counts from PySpark's ``StatusTracker`` (one job group per traced
layer call), and cached bytes from Spark's RDD storage info.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: a tail percentile is supported once this many samples lie beyond it
MIN_BEYOND = 10


def percentile(samples: list[float], q: int) -> float:
    """Percentile ``q`` (an integer 1..99), interpolated between the two
    nearest samples (``statistics.quantiles``' inclusive method): a tail
    estimate from a few dozen samples jumps less than a nearest-rank one."""
    if not samples:
        raise ValueError("percentile of no samples")
    if len(samples) == 1:
        return samples[0]
    return statistics.quantiles(samples, n=100, method="inclusive")[q - 1]


def tail(samples: list[float], q: int = 90) -> tuple[float, int, bool]:
    """(percentile, samples strictly beyond it, supported).  ``supported``
    is true only when at least MIN_BEYOND samples lie beyond the value, the
    rule for quoting a tail percentile as such."""
    v = percentile(samples, q)
    beyond = sum(1 for x in samples if x > v)
    return v, beyond, beyond >= MIN_BEYOND


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Kernel high-water mark of resident memory (``VmHWM``) of a process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def process_age_s() -> float:
    """Seconds since this process started, from its kernel start time."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def cached_mb(spark) -> float:
    """Memory plus disk bytes of every persisted RDD (the cached triples
    and dictionary on the store workloads)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``.  Skipped
    stages (shuffle reuse) have no stage info and add no tasks."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None and sinfo.numTasks > 0:
                stages += 1
                tasks += sinfo.numTasks
    return jobs, stages, tasks


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    parent: str | None
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


class NullTracer:
    """Tracing off: spans cost one context-manager entry and nothing else."""

    @contextmanager
    def span(self, name: str, op: int, parent: str | None = None, count_jobs: bool = False):
        yield


@dataclass
class Tracer:
    """Spans kept in memory and written out at run end.  With
    ``count_jobs`` a span runs under a job group of its own, so its Spark
    jobs, stages and tasks can be counted through the StatusTracker; the
    counting waits for ``resolve_job_counts`` after the measured ops, so its
    calls into the JVM stay out of the spans."""

    sc: object
    spans: list[Span] = field(default_factory=list)

    def __post_init__(self):
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int, parent: str | None = None, count_jobs: bool = False):
        group = None
        if count_jobs:
            group = f"perfbench-{op}-{name}"
            self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(Span(name, op, t0, t1, parent, group))

    def resolve_job_counts(self) -> None:
        """Fill in jobs, stages and tasks of every span that ran under a
        job group and is not counted yet (Spark keeps the last 1,000 jobs'
        info, far more than a run launches).  Needs the live session."""
        for s in self.spans:
            if s.group is not None:
                s.jobs, s.stages, s.tasks = group_counts(self.sc, s.group)
                s.group = None

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        covered by child spans of the same op."""
        children: dict[tuple[int, str], list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault((s.op, s.parent), []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _covered(s, children.get((s.op, s.name), []))
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def coverage(self, root: str = "op") -> list[float]:
        """Per root span: the share of it that child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent == root:
                kids.setdefault(s.op, []).append(s)
        return [
            _covered(s, kids.get(s.op, [])) / max(s.end - s.start, 1e-9)
            for s in self.spans
            if s.name == root
        ]

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _covered(parent: Span, kids: list[Span]) -> float:
    """Length of the union of ``kids``' intervals clipped to ``parent``."""
    total, cur_s, cur_e = 0.0, None, None
    for k in sorted(kids, key=lambda k: k.start):
        s, e = max(k.start, parent.start), min(k.end, parent.end)
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
