"""Measurement helpers: CPU counters, interval arithmetic, spans, and the
Spark status-store reader.

The pure functions at the top take plain numbers, so they are unit-tested
without Spark (``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import os
import statistics
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------- pure helpers


@dataclass(frozen=True)
class CpuSample:
    """Cumulative /proc/stat ticks of the whole machine."""

    busy: int
    steal: int
    total: int


def parse_proc_stat(text: str) -> CpuSample:
    """Parse the aggregate ``cpu`` line of /proc/stat. Busy time is user,
    nice, system, irq and softirq (guest time is already inside user);
    idle, iowait and steal are not busy."""
    for line in text.splitlines():
        fields = line.split()
        if fields and fields[0] == "cpu":
            user, nice, system, idle, iowait, irq, softirq, steal = (
                int(v) for v in (fields[1:9] + ["0"] * 8)[:8]
            )
            busy = user + nice + system + irq + softirq
            return CpuSample(busy, steal, busy + idle + iowait + steal)
    raise ValueError("no aggregate cpu line in /proc/stat")


def cpu_delta(before: CpuSample, after: CpuSample, ticks_per_s: float) -> tuple[float, float]:
    """(busy CPU seconds, steal share of all ticks) between two samples."""
    total = after.total - before.total
    busy_s = (after.busy - before.busy) / ticks_per_s
    steal = (after.steal - before.steal) / total if total > 0 else 0.0
    return busy_s, steal


def merged(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """The union of ``intervals`` as sorted, disjoint, non-empty intervals."""
    out: list[tuple[float, float]] = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    return sum(b - a for a, b in merged((max(a, lo), min(b, hi)) for a, b in intervals))


def sched_gap(lo: float, hi: float, stage_intervals: Iterable[tuple[float, float]]) -> float:
    """Time inside the action [lo, hi] during which no stage was running."""
    return (hi - lo) - covered(stage_intervals, lo, hi)


def core_util(task_s: float, wall_s: float, cpus: int) -> float:
    """Share of ``cpus`` cores kept busy by tasks over ``wall_s``."""
    return task_s / (wall_s * cpus) if wall_s > 0 else 0.0


def median(values: Iterable[float]) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    op: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of it that
    its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        kids = children.get(i, [])
        own = s.dur - covered(((k.start, k.end) for k in kids), s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


@dataclass
class Tracer:
    """In-memory span recorder. Spans of one operation share ``op``; a
    span opened inside another becomes its child. A span opened with
    ``job_group=True`` runs its Spark jobs under a job group of its own
    (such spans are never nested). When ``enabled`` is false,
    :meth:`span` records nothing and sets no job group. ``overhead_s``
    sums the time spent inside the recorder itself."""

    sc: object | None
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    op: int = 0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str, job_group: bool = False) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        group = f"op{self.op}:{name}:{len(self.spans)}" if job_group else None
        s = Span(self.op, name, layer, time.time(), parent=parent, group=group)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        if group:
            self.sc.setJobGroup(group, name, False)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t1

    def add_spark_jobs(self) -> dict[int, GroupStats]:
        """Read the Spark jobs of every job-group span from the status
        store and record the time jobs were running as child spans of
        layer ``spark`` (jobs that overlap form one span, so concurrent
        jobs are not counted twice). Returns the stats by span index."""
        stats = {}
        for i, s in enumerate(list(self.spans)):
            if s.group:
                stats[i] = g = read_group(self.sc, s.group)
                for start, end in merged(g.jobs):
                    self.spans.append(Span(s.op, "jobs", "spark", start, end, parent=i))
        return stats


# ---------------------------------------------------------------- Spark status store


@dataclass
class StageStats:
    tasks: int
    run_s: float
    gc_s: float
    input_bytes: int
    input_records: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    start: float
    end: float


@dataclass
class GroupStats:
    """Jobs and completed stages that ran under one job group."""

    jobs: list[tuple[float, float]]
    stages: list[StageStats]

    @property
    def task_s(self) -> float:
        return sum(s.run_s for s in self.stages)

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages)


def _epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_group(sc, group: str) -> GroupStats:
    """Read every job of ``group`` and its completed stages from Spark's
    live status store (works with ``spark.ui.enabled=false``)."""
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs, stages, seen = [], [], set()
    for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(job_id)
        start, end = _epoch_s(jd.submissionTime()), _epoch_s(jd.completionTime())
        if start is not None and end is not None:
            jobs.append((start, end))
        ids = jd.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() != "COMPLETE":
                    continue
                s0, s1 = _epoch_s(sd.submissionTime()), _epoch_s(sd.completionTime())
                stages.append(
                    StageStats(
                        tasks=sd.numCompleteTasks(),
                        run_s=sd.executorRunTime() / 1000.0,
                        gc_s=sd.jvmGcTime() / 1000.0,
                        input_bytes=sd.inputBytes(),
                        input_records=sd.inputRecords(),
                        shuffle_read=sd.shuffleReadBytes(),
                        shuffle_write=sd.shuffleWriteBytes(),
                        spill=sd.diskBytesSpilled(),
                        start=s0 if s0 is not None else 0.0,
                        end=s1 if s1 is not None else 0.0,
                    )
                )
    return GroupStats(jobs, stages)


def read_cpu() -> CpuSample:
    with open("/proc/stat") as fh:
        return parse_proc_stat(fh.read())


TICKS_PER_S = float(os.sysconf("SC_CLK_TCK"))


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
