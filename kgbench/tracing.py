"""Per-layer tracing from outside the package.

A ``Tracer`` records one span per call into a layer, made from the
benchmark's own code. Each span sets a Spark job group; after the
traced iteration the tracer reads Spark's status store (it works with
the UI disabled) and attributes every job to a span: by its job group,
or, for jobs submitted from threads that do not inherit the group, by
submission time. Stage metrics then sum per span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from sifr_project_java_ontology_processing_spark.sources.stage_store import StageStore


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class StageStats:
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    skew: float = 0.0  # max / median task run time of the busiest stage
    _busiest: float = -1.0

    def add(self, other: "StageStats") -> None:
        self.tasks += other.tasks
        self.task_s += other.task_s
        self.cpu_s += other.cpu_s
        self.gc_s += other.gc_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        if other._busiest > self._busiest:
            self._busiest, self.skew = other._busiest, other.skew


class Tracer:
    """Spans, plus every ``StageStore.materialize`` call made while the
    tracer is open, as (stage directory, stage, committed_now, seconds):
    the tracer wraps the public method for its lifetime."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.store_calls: list[tuple[str, str, bool, float]] = []
        self.start = time.time()
        self.end = 0.0
        self._orig = StageStore.materialize
        calls, orig = self.store_calls, self._orig

        def timed(store, stage, df_or_thunk, partition_by=None):
            fresh = not store.exists(stage)
            t0 = time.perf_counter()
            try:
                return orig(store, stage, df_or_thunk, partition_by)
            finally:
                calls.append((f"{store.root}/{store.run_id}/{stage}", stage, fresh,
                              time.perf_counter() - t0))

        StageStore.materialize = timed

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time())
        self.sc.setJobGroup(name, f"kgbench {name}")
        try:
            yield s
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            s.end = time.time()
            self.spans.append(s)

    def close(self) -> None:
        self.end = time.time()
        StageStore.materialize = self._orig
        self._attribute()

    # -- status store -------------------------------------------------------

    def _jobs(self) -> list[tuple]:
        """(job_id, group, submit_s, complete_s, stage_ids) for every job
        submitted inside the traced window."""
        store = self.sc._jsc.sc().statusStore()
        seq = store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            t0 = sub.get().getTime() / 1000.0
            if t0 < self.start - 0.001:
                continue
            done = j.completionTime()
            t1 = done.get().getTime() / 1000.0 if done.isDefined() else self.end
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            sids = j.stageIds()
            out.append((j.jobId(), group, t0, t1, [sids.apply(k) for k in range(sids.size())]))
        return sorted(out)

    def stage_stats(self, stage_ids) -> StageStats:
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        agg = StageStats()
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # never attempted: nothing ran
                continue
            if sd.numCompleteTasks() == 0:
                continue  # skipped stage (its output was reused)
            one = StageStats(
                tasks=sd.numCompleteTasks(),
                task_s=sd.executorRunTime() / 1e3,
                cpu_s=sd.executorCpuTime() / 1e9,
                gc_s=sd.jvmGcTime() / 1e3,
                shuffle_write_bytes=sd.shuffleWriteBytes(),
                spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            )
            qs = self.sc._gateway.new_array(jvm.double, 2)
            qs[0], qs[1] = 0.5, 1.0
            summ = store.taskSummary(sid, sd.attemptId(), qs)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                one.skew = mx / med if med > 0 else 1.0
            one._busiest = one.task_s
            agg.add(one)
        return agg

    def _attribute(self) -> None:
        self.all_jobs = self._jobs()
        by_name = {s.name: s for s in self.spans}
        for job in self.all_jobs:
            _jid, group, t0, _t1, _sids = job
            span = by_name.get(group)
            if span is None:
                span = next((s for s in self.spans if s.start <= t0 <= s.end), None)
            if span is not None:
                span.jobs.append(job)

    # -- derived --------------------------------------------------------------

    def get(self, name: str) -> Span | None:
        return next((s for s in self.spans if s.name == name), None)

    def span_stats(self, name: str) -> StageStats:
        s = self.get(name)
        return self.stage_stats([sid for job in s.jobs for sid in job[4]]) if s else StageStats()

    def whole(self) -> tuple[StageStats, float, int]:
        """Stage totals over every job in the window, the driver-only
        time (window wall time with no job running) and the job count."""
        stats = self.stage_stats(sorted({sid for job in self.all_jobs for sid in job[4]}))
        intervals = sorted((max(t0, self.start), min(t1, self.end)) for _j, _g, t0, t1, _s in self.all_jobs)
        busy, cur_s, cur_e = 0.0, None, None
        for a, b in intervals:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            busy += cur_e - cur_s
        return stats, (self.end - self.start) - busy, len(self.all_jobs)

