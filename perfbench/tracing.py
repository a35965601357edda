"""Spans around the benchmark's calls into de_spark, and Spark work
counters read back from the driver's status store.

Spans are kept in memory and written once, at the end of a traced run.
Each span sets a Spark job group on the benchmark's thread, so jobs it
submits are attributed to it.  Jobs submitted from threads the program
starts itself (``pipeline.build`` runs stage writes on a thread pool,
and pinned-thread mode does not pass local properties to new threads)
carry no group; they are attributed to the innermost span open at their
submission time.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    op: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class JobWork:
    """Work of one Spark job, summed over the stages it ran."""

    job_id: int
    span: int | None
    submitted: float
    jobs: int = 1
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


def _summed(jobs: list[JobWork]) -> JobWork:
    """Work of ``jobs`` added up."""
    acc = JobWork(-1, None, 0.0, jobs=len(jobs))
    for j in jobs:
        for f in ("tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            setattr(acc, f, getattr(acc, f) + getattr(j, f))
    return acc


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # set once the session is up; job groups need it
        self.spans: list[Span] = []
        self.jobs: list[JobWork] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, new_op: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        op = next(self._ops) if new_op or parent is None else parent.op
        s = Span(next(self._ids), op, name, parent.id if parent else None, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group()

    def _set_group(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{top.id}", top.name, False)
        else:
            self.sc._jsc.clearJobGroup()

    # -- read-back -------------------------------------------------------

    def collect_jobs(self) -> None:
        """Read every job and stage of the session from the status store
        and attribute each job to a span."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        jvm = self.sc._jvm
        empty = jvm.java.util.ArrayList()
        stages = store.stageList(empty, False, False, self.sc._gateway.new_array(jvm.double, 0), empty)
        by_stage = {}
        for i in range(stages.size()):
            st = stages.apply(i)
            by_stage.setdefault(st.stageId(), []).append(st)
        jobs = store.jobsList(None)
        owner: dict[int, int] = {}
        raw = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            ids = [j.stageIds().apply(k) for k in range(j.stageIds().size())]
            for sid in ids:
                owner[sid] = min(owner.get(sid, j.jobId()), j.jobId())
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            sub = j.submissionTime().get().getTime() / 1000.0 if j.submissionTime().isDefined() else 0.0
            raw.append((j.jobId(), group, sub, ids))
        for job_id, group, sub, ids in sorted(raw):
            w = JobWork(job_id, self._attribute(group, sub), sub)
            for sid in ids:
                if owner.get(sid) != job_id:
                    continue
                for st in by_stage.get(sid, []):
                    w.tasks += st.numTasks() if st.status().toString() != "SKIPPED" else 0
                    w.task_s += st.executorRunTime() / 1e3
                    w.cpu_s += st.executorCpuTime() / 1e9
                    w.gc_s += st.jvmGcTime() / 1e3
                    w.shuffle_read_mb += st.shuffleReadBytes() / 1e6
                    w.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
                    w.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
            self.jobs.append(w)

    def _attribute(self, group: str | None, submitted: float) -> int | None:
        if group and group.startswith(GROUP_PREFIX):
            return int(group[len(GROUP_PREFIX):])
        best = None
        for s in self.spans:
            if s.start <= submitted <= (s.end or float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        return best.id if best else None

    # -- aggregation -----------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def self_time(self, name: str) -> float:
        """Span time minus the time its child spans cover (children run
        on the same thread, so they never overlap each other)."""
        ids = {s.id for s in self.named(name)}
        child = sum(s.dur for s in self.spans if s.parent in ids)
        return self.total(name) - child

    def subtree(self, roots: set[int]) -> set[int]:
        out = set(roots)
        grew = True
        while grew:
            more = {s.id for s in self.spans if s.parent in out} - out
            out |= more
            grew = bool(more)
        return out

    def work_in(self, span_ids: set[int]) -> JobWork:
        return _summed([j for j in self.jobs if j.span in span_ids])

    def jobs_between(self, t0: float, t1: float) -> JobWork:
        return _summed([j for j in self.jobs if t0 <= j.submitted <= t1])

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "self_time_s": {n: self.self_time(n) for n in sorted({s.name for s in self.spans})},
                    "spans": [asdict(s) for s in self.spans],
                    "jobs": [asdict(j) for j in self.jobs],
                    **extra,
                },
                f,
                indent=1,
            )
