"""Measurement helpers: order statistics, spans, and the Spark counters
read back from the Spark driver's in-process status store.

Nothing here changes what the engine does. A traced run tags each
construction call and each action with its own Spark job group, keeps
the spans in memory, and after the op (outside its wall time) reads the
jobs, stages and tasks of those groups from ``AppStatusStore``.
"""

from __future__ import annotations

import math
import time
from collections.abc import Iterator, Sequence
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1] (numpy's default
    method): the value at rank ``q * (n - 1)`` of the sorted sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q={q} outside [0, 1]")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the rank of the
    ``q``-th percentile; a percentile is only reported as meaningful
    when this is at least ten."""
    if n <= 0:
        return 0
    return n - 1 - math.floor(q * (n - 1))


def self_times(prefix_s: Sequence[tuple[str, float]]) -> dict[str, float]:
    """Self time of each layer of a chain from the wall times of its
    cumulative prefixes: layer k costs prefix k minus prefix k-1 (the
    first layer costs its whole prefix)."""
    out: dict[str, float] = {}
    prev = 0.0
    for name, t in prefix_s:
        out[name] = t - prev
        prev = t
    return out


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    group: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_records: int = 0
    skew: float = 0.0


class Tracer:
    """Records spans; when ``enabled`` also tags each span's Spark jobs
    with a job group so their counters can be read afterwards."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, op: int) -> Iterator[Span]:
        group = None
        sc = self.spark.sparkContext
        if self.enabled:
            self._seq += 1
            group = f"bench-{op}-{name}-{self._seq}"
            sc.setJobGroup(group, name)
        sp = Span(name, op, time.perf_counter(), group=group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def stage_totals(self, spans: Sequence[Span]) -> StageTotals:
        """Sum job, stage and task counters over the spans' job groups.
        Skipped stages (shuffle output reused) are not counted."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = sc._gateway
        quant = gw.new_array(gw.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        tot = StageTotals()
        for sp in spans:
            if sp.group is None:
                continue
            job_ids = sc.statusTracker().getJobIdsForGroup(sp.group)
            tot.jobs += len(job_ids)
            for j in job_ids:
                info = sc.statusTracker().getJobInfo(j)
                for sid in info.stageIds if info else []:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:
                        # a stage reused from an older job (its shuffle
                        # output kept) that the store has since evicted:
                        # skipped here, so not counted
                        continue
                    if sd.status().toString() != "COMPLETE":
                        continue
                    tot.stages += 1
                    tot.tasks += sd.numCompleteTasks()
                    tot.run_s += sd.executorRunTime() / 1e3
                    tot.cpu_s += sd.executorCpuTime() / 1e9
                    tot.gc_s += sd.jvmGcTime() / 1e3
                    tot.shuffle_read += sd.shuffleReadBytes()
                    tot.shuffle_write += sd.shuffleWriteBytes()
                    tot.spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    tot.input_records += sd.inputRecords()
                    if sd.numCompleteTasks() > 1:
                        summ = store.taskSummary(sid, sd.attemptId(), quant)
                        if summ.isDefined():
                            run = summ.get().executorRunTime()
                            med, mx = run.apply(0), run.apply(1)
                            if med > 0:
                                tot.skew = max(tot.skew, mx / med)
        return tot

    def cache_state(self) -> tuple[int, int]:
        """(frames the session's CacheManager holds, bytes held by
        persisted RDDs in memory and on disk). The frame count is read
        from the manager's private list, which no public API exposes; the
        RDD count would also include checkpoint RDDs the context cleaner
        drops whenever the JVM collects garbage."""
        jsess = self.spark._jsparkSession
        manager = jsess.sharedState().cacheManager()
        entries = manager.getClass().getDeclaredField("cachedData")
        entries.setAccessible(True)
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return entries.get(manager).size(), sum(i.memSize() + i.diskSize() for i in infos)

    def heap_used_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getUsed() / 2**20
