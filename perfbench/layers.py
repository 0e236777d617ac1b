"""Measurement primitives: medians, spans, Spark job counters.

Everything here observes the program from outside. Spans wrap the
benchmark's own calls into a layer (or a module attribute it swaps
for a timing wrapper); Spark counters come from the status store for
the job-id window a call ran in. The arithmetic (median, span
self time, job attribution, write amplification) is pure and
covered by ``test_layers.py``.
"""

from __future__ import annotations

import contextlib
import gc
import math
import os
import time
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2.0


# ----------------------------------------------------------------------
# Spans
# ----------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    trace: str
    name: str
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory spans. ``trace`` groups the spans of one pass,
    request or increment; the parent is whichever span is open."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    trace_id: str = ""

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self.trace_id, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the part of each span's
    interval that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(children.get(s.id, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def total_times(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


# ----------------------------------------------------------------------
# Spark job counters by job-id window
# ----------------------------------------------------------------------

COUNTER_KEYS = (
    "jobs",
    "untagged_jobs",
    "stages",
    "skipped_stages",
    "tasks",
    "executor_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "output_bytes",
)


@dataclass
class JobInfo:
    id: int
    group: str | None
    stage_ids: list[int]


@dataclass
class StageInfo:
    status: str
    tasks: int
    run_ms: int
    shuffle_read: int
    shuffle_write: int
    input: int
    output: int


def attribute(
    jobs: list[JobInfo], stages: dict[int, StageInfo], group: str
) -> dict[str, float]:
    """Counters for the jobs of one job-id window. A job counts even
    when its group is not ``group`` (jobs submitted from driver threads
    carry no group); those are also counted as ``untagged_jobs``. A
    stage shared by several jobs counts once; SKIPPED stages (shuffle
    output reused) count only as ``skipped_stages``."""
    out = dict.fromkeys(COUNTER_KEYS, 0)
    out["executor_run_s"] = 0.0
    seen: set[int] = set()
    for j in jobs:
        out["jobs"] += 1
        if j.group != group:
            out["untagged_jobs"] += 1
        for sid in j.stage_ids:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            st = stages[sid]
            if st.status == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += st.tasks
            out["executor_run_s"] += st.run_ms / 1000.0
            out["shuffle_read_bytes"] += st.shuffle_read
            out["shuffle_write_bytes"] += st.shuffle_write
            out["input_bytes"] += st.input
            out["output_bytes"] += st.output
    return out


def add_counters(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b.get(k, 0) for k in COUNTER_KEYS}


class StatusStore:
    """Reads job and stage data for a job-id window from the Spark
    status store; works with ``spark.ui.enabled=false``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        """Id the next submitted job will get (ids are sequential)."""
        return self._sc.dagScheduler().numTotalJobs()

    def window(self, first: int, end: int, group: str) -> dict[str, float]:
        """Counters for jobs ``first`` .. ``end - 1``."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs, stages = [], {}
        for jid in range(first, end):
            j = store.job(jid)
            g = j.jobGroup()
            ids = j.stageIds()
            info = JobInfo(
                jid,
                g.get() if g.isDefined() else None,
                [ids.apply(i) for i in range(ids.size())],
            )
            jobs.append(info)
            for sid in info.stage_ids:
                if sid in stages:
                    continue
                sd = store.lastStageAttempt(sid)
                stages[sid] = StageInfo(
                    sd.status().toString(),
                    sd.numTasks(),
                    sd.executorRunTime(),
                    sd.shuffleReadBytes(),
                    sd.shuffleWriteBytes(),
                    sd.inputBytes(),
                    sd.outputBytes(),
                )
        return attribute(jobs, stages, group)

    def cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self._sc.getRDDStorageInfo())


def heap_live_mb(spark, rounds: int = 6, pause_s: float = 0.5) -> float:
    """Driver JVM heap in use once garbage is gone: the least heap in
    use after each of ``rounds`` full GCs, ``pause_s`` apart. Before
    each GC the Python side drops its dead references to JVM objects;
    between them Spark's ContextCleaner releases unreferenced RDDs,
    broadcasts and shuffles, which takes more than one round (after
    ``iterative_driver`` about 400 MB of garbage goes only after
    1.5-2 s)."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    least = math.inf
    for _ in range(rounds):
        gc.collect()
        jvm.java.lang.System.gc()
        least = min(least, bean.getHeapMemoryUsage().getUsed())
        time.sleep(pause_s)
    return least / 2**20


# ----------------------------------------------------------------------
# Write amplification
# ----------------------------------------------------------------------


def write_amp(bytes_written: float, new_bytes: float) -> float:
    """Bytes a write wrote per byte of the rows it added."""
    if new_bytes <= 0:
        raise ValueError("write amplification needs new bytes > 0")
    return bytes_written / new_bytes


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ----------------------------------------------------------------------
# Host guard
# ----------------------------------------------------------------------


def _java_pids() -> list[int]:
    """Live (non-zombie) processes named java."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        state = stat[stat.rindex(")") + 2 :].split()[0]
        if name == "java" and state not in ("Z", "X"):
            pids.append(int(entry))
    return pids


def cpu_jiffies() -> list[int]:
    """Machine-wide CPU time so far from /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_jiffies`` readings that the
    hypervisor gave to other guests (steal)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def host_state(own_pids: set[int] = frozenset()) -> dict:
    """nproc, load average, CPU time counters and stray JVMs; a stray
    JVM makes the run invalid because it competes for the same cores."""
    stray = [p for p in _java_pids() if p not in own_pids]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "cpu_jiffies": cpu_jiffies(),
        "stray_java_pids": stray,
        "valid": not stray,
    }
