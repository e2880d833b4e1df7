"""Measurement helpers for the benchmark process: Spark job groups and
stage metrics around calls into a layer, driver-side timing shims,
process-tree CPU time, and the host canary.

All of it wraps the program's public functions from outside; nothing
here changes what the program computes.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    """One call into a layer: wall time plus the Spark work it
    launched (zero for driver-only calls)."""

    layer: str
    wall_s: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    #: wall time during which at least one of the call's jobs ran
    job_busy_s: float = 0.0


@dataclass
class JobMeter:
    """Tags Spark jobs with a job group per call and reads their stage
    metrics back from the status store right after the call (the store
    keeps only the most recent jobs, so reading at the end would lose
    them on long runs). Works with the Spark UI disabled."""

    spark: object
    enabled: bool = True
    spans: "list[Span]" = field(default_factory=list)
    _n: int = 0

    def rebind(self, spark) -> None:
        self.spark = spark

    def _drain(self) -> None:
        # the status store is fed by the listener bus asynchronously
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)

    def job_ids(self, group: str) -> "list[int]":
        self._drain()
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def group(self, name: str):
        """Run the body under job group ``name``; no stage harvest."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield name
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, layer: str):
        """Time the body; when enabled, also tag its jobs and harvest
        their stage metrics into a :class:`Span` (yielded, filled in on
        exit)."""
        sp = Span(layer, 0.0)
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield sp
            finally:
                sp.wall_s = time.perf_counter() - t0
            return
        self._n += 1
        name = f"perfbench-{self._n}-{layer}"
        with self.group(name):
            t0 = time.perf_counter()
            try:
                yield sp
            finally:
                sp.wall_s = time.perf_counter() - t0
        self._harvest(name, sp)
        self.spans.append(sp)

    def _harvest(self, group: str, sp: Span) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        intervals = []
        seen = set()
        for jid in self.job_ids(group):
            sp.jobs += 1
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                sp.stages += 1
                sp.tasks += st.numTasks()
                sp.run_ms += st.executorRunTime()
                sp.cpu_ms += st.executorCpuTime() / 1e6
                sp.shuffle_read_b += st.shuffleReadBytes()
                sp.shuffle_write_b += st.shuffleWriteBytes()
        sp.job_busy_s = _union_ms(intervals) / 1e3

    def of(self, layer: str) -> "list[Span]":
        return [s for s in self.spans if s.layer == layer]


def _union_ms(intervals: "list[tuple[int, int]]") -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)


class DriverShims:
    """Timing wrappers around the scorer functions that
    ``operators.search`` calls (``parse_query``, ``dense_topk``,
    ``wand_topk``, ``decode_block``), installed on that module for the
    traced run only and removed by :meth:`close`."""

    NAMES = ("parse_query", "dense_topk", "wand_topk", "decode_block")

    def __init__(self, module) -> None:
        self.module = module
        self.orig = {n: getattr(module, n) for n in self.NAMES}
        self.reset()
        for n in self.NAMES:
            setattr(module, n, self._wrap(n, self.orig[n]))

    def reset(self) -> None:
        self.seconds = {n: 0.0 for n in self.NAMES}
        self.calls = {n: 0 for n in self.NAMES}
        self.postings = 0
        self.terms = 0

    def _wrap(self, name, fn):
        def timed(*args, **kwargs):
            if name in ("dense_topk", "wand_topk"):
                self.postings += sum(int(t.doc_ids.size) for t in args[0])
                self.terms += len(args[0])
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[name] += time.perf_counter() - t0
                self.calls[name] += 1

        return timed

    def close(self) -> None:
        for n, fn in self.orig.items():
            setattr(self.module, n, fn)


def tree_cpu_s() -> float:
    """User + system CPU seconds of every live process in this process's
    session (the driver, the JVM and the Python workers), including the
    reaped children each has waited for."""
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def host_canary_s() -> float:
    """A fixed single-threaded numpy workload (no Spark): context for
    reading run-to-run drift of the host, never a gate."""
    import numpy as np

    arr = np.random.default_rng(0).random(1_000_000)
    t0 = time.perf_counter()
    for _ in range(20):
        order = np.argsort(arr)
        float(arr[order[:1000]].sum())
    return time.perf_counter() - t0


def percentile(values: "list[float]", q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of ``values``."""
    s = sorted(values)
    i = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[i]


def median(values: "list[float]") -> float:
    return statistics.median(values)
