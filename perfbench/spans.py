"""Spans around engine calls, with per-span Spark counters.

A span wraps one public engine call made by the benchmark. With
tracing on, entering a span sets a Spark job group named after the
span; leaving it drains the listener bus and reads, from the
SparkContext status store (py4j), every job submitted while the span
was open: job intervals, stage and task counts, executor run and CPU
time, input rows, shuffle bytes and spill. The persistent-RDD count is
read on both sides.

Jobs are attributed by job id, not by job group: ``build_index`` runs
its per-bucket jobs on a thread pool, and those threads do not inherit
the caller's job group. With one client and no concurrent callers,
every job whose id is above the highest id seen at span entry was
submitted inside the span; an enclosing span counts its children's
jobs too.

With tracing off a span only times the call, so the end-to-end numbers
are measured without status-store reads.

Spans are kept in memory and written once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    op_id: int
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    jobs_busy_s: float = 0.0
    rdds_before: int = 0
    rdds_after: int = 0
    error: str = ""
    extra: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def driver_gap_s(self) -> float:
        """Wall time inside the span with no Spark job running."""
        return max(0.0, self.wall_s - self.jobs_busy_s)

    @property
    def rdds_leaked(self) -> int:
        return self.rdds_after - self.rdds_before


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


class StatusStore:
    """Thin py4j reader over the driver's AppStatusStore."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has applied every pending event."""
        self._bus.waitUntilEmpty(30_000)

    def max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def read_jobs_after(self, job_id: int, span: Span) -> None:
        """Add the counters of every job with id > job_id into ``span``."""
        jobs = self._store.jobsList(None)
        intervals = []
        seen_stages: set[int] = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_id:
                continue
            span.jobs += 1
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                )
            stage_ids = j.stageIds()
            for k in range(stage_ids.size()):
                seen_stages.add(int(stage_ids.apply(k)))
        for sid in sorted(seen_stages):
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.status().toString() == "SKIPPED":
                    continue
                span.stages += 1
                span.tasks += st.numCompleteTasks() + st.numFailedTasks()
                span.executor_run_s += st.executorRunTime() / 1e3
                span.executor_cpu_s += st.executorCpuTime() / 1e9
                span.input_rows += st.inputRecords()
                span.shuffle_read_bytes += st.shuffleReadBytes()
                span.shuffle_write_bytes += st.shuffleWriteBytes()
                span.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        # clip job intervals to the span: the job clock has ms
        # resolution and can stick out of the span edges by a tick
        span.jobs_busy_s = _union_length(
            [(max(lo, span.start), min(hi, span.end)) for lo, hi in intervals
             if min(hi, span.end) > max(lo, span.start)]
        )


class Tracer:
    """Records one Span per engine call; counters only when enabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._store: StatusStore | None = None

    def attach(self, spark) -> None:
        if self.enabled:
            self._store = StatusStore(spark)

    @contextmanager
    def span(self, name: str, op_id: int = 0):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            op_id=op_id,
            span_id=len(self.spans),
            parent=parent.span_id if parent else None,
            start=0.0,
        )
        self.spans.append(sp)
        store = self._store
        before_job = -1
        if store is not None:
            store.drain()
            before_job = store.max_job_id()
            sp.rdds_before = store.persistent_rdds()
            sp.group = f"{name}#{sp.span_id}"
            store.sc.setJobGroup(sp.group, sp.group)
        self._stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        except BaseException as ex:
            sp.error = f"{type(ex).__name__}: {ex}"[:500]
            raise
        finally:
            sp.end = time.time()
            self._stack.pop()
            if store is not None:
                store.drain()
                # an enclosing span counts its children's jobs too
                store.read_jobs_after(before_job, sp)
                sp.rdds_after = store.persistent_rdds()
                if parent is not None:
                    store.sc.setJobGroup(parent.group, parent.group)
                else:
                    store.sc.setLocalProperty("spark.jobGroup.id", None)
                    store.sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["wall_s"] = s.wall_s
                rec["driver_gap_s"] = s.driver_gap_s
                f.write(json.dumps(rec) + "\n")
