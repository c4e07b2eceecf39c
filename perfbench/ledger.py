"""Spans and the per-layer ledger, measured from outside the program.

Every timed call into a layer runs inside ``Ledger.span``. A span always
records its wall time, which the end-to-end metrics use. With tracing on,
a span also

- sets a Spark job group named after the span, so the jobs it launches
  carry its name;
- notes the scheduler's job-id counter at entry and exit. The benchmark
  drives Spark from one client thread, so the jobs submitted between the
  two marks belong to the span, including jobs that a streaming query runs
  on its own thread under its own job group;
- keeps the DataFrames it forced, whose QueryExecution tracker holds the
  Catalyst phase times once the action has run.

Spans stay in memory. ``Ledger.collect`` waits for Spark's listener bus,
reads each span's jobs and stages from the application status store,
computes self times (a span's duration minus the time its children
cover) and writes one JSON line per span.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import resource
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SETTLE_ROUNDS = 10
CATALYST_PHASES = ("analysis", "optimization", "planning")
EXECUTOR_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "wall_ms",
    "task_busy_ms",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "failed_tasks",
)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    request_id: str
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    frames: list = field(default_factory=list)
    catalyst_ms: dict[str, float] = field(default_factory=dict)
    executor: dict[str, float] = field(default_factory=dict)
    self_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def counter(self, name: str) -> float:
        return self.executor.get(name, 0)


class Ledger:
    """Span recorder for one benchmark run (tracing on or off)."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._spark = None
        self.instrument_s = 0.0  # time spent inside the tracer itself

    def attach(self, spark) -> None:
        """Bind the session once it exists (the session-start span precedes it)."""
        self._spark = spark

    def _job_counter(self) -> int:
        return self._spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def _set_group(self, span: Span | None) -> None:
        sc = self._spark.sparkContext
        if span is None:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        else:
            sc.setJobGroup(f"{span.request_id}/{span.span_id}", span.name)

    @contextmanager
    def span(self, name: str, request_id: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.span_id if parent else None, request_id, 0.0)
        live = self.traced and self._spark is not None
        if live:
            s.job_lo = self._job_counter()
            self._set_group(s)
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        self.instrument_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if live:
                s.job_hi = self._job_counter()
                self._set_group(parent)
            self.instrument_s += time.perf_counter() - s.end

    def forced(self, span: Span, df) -> None:
        """Remember a DataFrame whose action ran inside ``span``."""
        if self.traced:
            span.frames.append(df)

    # -- read-out -----------------------------------------------------------

    def collect(self) -> None:
        """Attribute jobs, stages and Catalyst phases to spans (after the run)."""
        self._self_times()
        if not self.traced or self._spark is None:
            return
        t0 = time.perf_counter()
        jsc = self._spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_cache: dict[int, dict[str, float]] = {}
        for s in self.spans:
            for df in s.frames:
                phases = df._jdf.queryExecution().tracker().phases()
                for p in CATALYST_PHASES:
                    opt = phases.get(p)
                    if opt.isDefined():
                        s.catalyst_ms[p] = s.catalyst_ms.get(p, 0.0) + opt.get().durationMs()
            s.frames = []
            total = dict.fromkeys(EXECUTOR_FIELDS, 0)
            for jid in range(s.job_lo, s.job_hi):
                if jid not in job_cache:
                    job_cache[jid] = _job_counters(store, jid)
                for k, v in job_cache[jid].items():
                    total[k] += v
            s.executor = total
        self.instrument_s += time.perf_counter() - t0

    def _self_times(self) -> None:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        for s in self.spans:
            covered = _union_length([(c.start, c.end) for c in children.get(s.span_id, [])])
            s.self_s = s.seconds - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "span_id": s.span_id,
                            "parent": s.parent,
                            "request_id": s.request_id,
                            "name": s.name,
                            "start_s": round(s.start, 6),
                            "end_s": round(s.end, 6),
                            "self_s": round(s.self_s, 6),
                            "jobs": [s.job_lo, s.job_hi],
                            "catalyst_ms": s.catalyst_ms,
                            "executor": s.executor,
                        }
                    )
                    + "\n"
                )

    # -- queries over spans -------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, spans: list[Span], counter: str) -> float:
        return sum(s.counter(counter) for s in spans)


def _job_counters(store, jid: int) -> dict[str, float]:
    job = store.job(jid)
    out = dict.fromkeys(EXECUTOR_FIELDS, 0)
    out["jobs"] = 1
    sub, comp = job.submissionTime(), job.completionTime()
    if sub.isDefined() and comp.isDefined():
        out["wall_ms"] = comp.get().getTime() - sub.get().getTime()
    ids = job.stageIds()
    for i in range(ids.size()):
        st = store.lastStageAttempt(ids.apply(i))
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["task_busy_ms"] += st.executorRunTime()
        out["input_bytes"] += st.inputBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def retained_heap_mb(spark) -> float:
    """JVM heap (MB) still live once the program is idle: what it keeps
    alive, such as cached plans and data, broadcasts and the fit cache.

    Spark's cleaner thread releases shuffle and broadcast state only after a
    collection has freed the objects that owned it, so the first full
    collections read high (by 50-75 MB after ``paper_pipeline``). Collect
    until two collections a second apart agree within 1 MB."""
    jvm = spark._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    prev = None
    for _ in range(SETTLE_ROUNDS):
        gc.collect()  # drop Python proxies of JVM objects that only cycles still hold
        jvm.java.lang.System.gc()  # a full, stop-the-world collection on G1
        # each heap pool's usage right after that collection, which leaves
        # out what threads allocated since
        used = 0
        for i in range(pools.size()):
            after_gc = pools.get(i).getCollectionUsage()
            if after_gc is not None:
                used += after_gc.getUsed()
        if prev is not None and abs(used - prev) < 2**20:
            break
        prev = used
        time.sleep(1.0)
    return used / 2**20


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of this Python process and of the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0
