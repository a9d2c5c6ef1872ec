"""Spans around the program's public layer functions, joined to Spark's
per-stage metrics by job group.

Only the traced run uses this.  A span records (name, start, end,
parent) in memory; while it is open, every Spark job the driver thread
starts carries the span's job group, so at the end each stage's
executor metrics can be charged to the span that caused it.  Stage
metrics come from the application status store, which Spark fills even
with the UI disabled.

Most layer functions are lazy: they return a DataFrame whose work runs
inside whichever later action consumes it.  ``wrap(..., materialize=
True)`` therefore persists the returned DataFrame and counts it inside
the layer's span, so the layer's own stages run under its job group and
downstream consumers read the cached result.  That moves work across
boundaries compared with the untraced run; the difference is reported
as tracing overhead.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_GROUP_KEY = "spark.jobGroup.id"
_STAGE_FIELDS = (
    "executorRunTime", "jvmGcTime", "shuffleWriteBytes", "outputBytes", "diskBytesSpilled",
    "numCompleteTasks", "numFailedTasks", "inputRecords",
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"


def _materialize(sp: Span, out):
    """Persist a DataFrame (or each DataFrame of a tuple) and count the
    first one, so its work runs now, under the span's job group."""
    frames = out if isinstance(out, tuple) else (out,)
    if not all(isinstance(f, DataFrame) for f in frames):
        return out
    frames = tuple(f.persist(StorageLevel.MEMORY_AND_DISK) for f in frames)
    sp.attrs["rows"] = frames[0].count()
    return frames if isinstance(out, tuple) else frames[0]


@contextmanager
def maybe_span(tracer: "Tracer | None", name: str):
    """A span when tracing, else nothing."""
    if tracer is None:
        yield None
    else:
        with tracer.span(name) as sp:
            yield sp


class Tracer:
    """Records spans and rebinds layer functions to traced wrappers."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.sid)
        prev = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, prev)

    def wrap(self, module, attr: str, name: str, materialize: bool = False, on_result=None) -> None:
        """Rebind ``module.attr`` so each call runs inside a span named
        ``name``; ``on_result(span, args, kwargs, result)`` may record
        counts at the boundary."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if materialize:
                    out = _materialize(sp, out)
                if on_result is not None:
                    on_result(sp, args, kwargs, out)
                return out

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # --- analysis ------------------------------------------------------
    def stage_metrics(self, first_job: int = 0) -> dict[str | None, dict]:
        """Per job group, the summed metrics of the stages its jobs
        (from ``first_job`` on) ran, and its job count.  A stage shared
        by several jobs is charged once, to the lowest job that ran it."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        owner: dict[int, str | None] = {}
        n_jobs: dict[str | None, int] = {}
        for job in sorted((jobs.apply(i) for i in range(jobs.length())), key=lambda j: j.jobId()):
            if job.jobId() < first_job:
                continue
            g = job.jobGroup()
            group = g.get() if g.isDefined() else None
            n_jobs[group] = n_jobs.get(group, 0) + 1
            for sid in str(job.stageIds().mkString(",")).split(","):
                if sid:
                    owner.setdefault(int(sid), group)
        per_group = {g: {**dict.fromkeys(_STAGE_FIELDS, 0), "stages": 0, "jobs": n} for g, n in n_jobs.items()}
        for sid, group in owner.items():
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            acc = per_group[group]
            for f in _STAGE_FIELDS:
                acc[f] += getattr(st, f)()
            acc["stages"] += 1
        return per_group

    def last_job_id(self) -> int:
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.length())), default=-1)

    def descendants(self, sp: Span) -> list[Span]:
        out, frontier = [], [sp.sid]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out += kids
            frontier = [k.sid for k in kids]
        return out

    def self_time(self, sp: Span) -> float:
        """Span duration minus the union of its direct children's intervals."""
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == sp.sid)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{"id": s.sid, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end,
                        "self_s": self.self_time(s), "attrs": s.attrs} for s in self.spans], fh)
