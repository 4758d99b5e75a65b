"""Spans around engine calls, with Spark's own job and stage metrics.

A span records name, start, end, parent and the id of the run it
belongs to. Each span runs its Spark jobs under a job group of its own
(``setJobGroup``); once a top-level span ends, the tracer waits for
the listener bus to drain and reads the new jobs and their stages
from the application status store (``jobsList``/``lastStageAttempt``).
It reads after every top-level span because the store keeps only the
last 1000 jobs and stages. Spans stay in memory until ``dump``.

Engine functions are wrapped under the name their caller looks them
up by (``ulh_etl_spark.pipeline.append_log`` is the name
``stage_precheck`` calls), so the engine itself is not changed.
"""

from __future__ import annotations

import importlib
import json
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

STAGE_FIELDS = ("tasks", "input_rows", "shuffle_bytes", "spill_bytes", "executor_run_s")


@dataclass
class Span:
    id: int
    name: str
    run: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    jobs: int = 0
    tasks: int = 0
    input_rows: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.run = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._local.stack = self._main_stack
        self._patches: list[tuple[object, str, object]] = []
        self._last_job = self._newest_job()
        self._seen_stages: set[int] = set()

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        """Time the body as span ``name``; yields the span so the
        caller can add counters. Spark jobs are read after each span at
        depth 0 or 1 of the main thread."""
        stack = self._stack()
        # Pool threads (the archive movers) have no stack of their own;
        # their spans hang under whatever the main thread has open.
        parent = (stack or self._main_stack or [None])[-1]
        with self._lock:
            sp = Span(len(self.spans), name, self.run,
                      parent.id if parent else None, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        self.sc.setJobGroup(f"pb-{self.run}-{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"pb-{self.run}-{stack[-1].id}", stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            if stack is self._main_stack and len(stack) <= 1:
                self.collect()

    def wrap(self, target: str, name: str, counters=None) -> None:
        """Replace ``module.attr`` (``target``) with a traced wrapper
        until ``unwrap``. ``counters(result)`` turns the return value
        into span counters."""
        mod_name, attr = target.rsplit(".", 1)
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if counters is not None:
                    sp.counters.update(counters(out))
                return out

        setattr(mod, attr, traced)
        self._patches.append((mod, attr, fn))

    def unwrap(self) -> None:
        for mod, attr, fn in reversed(self._patches):
            setattr(mod, attr, fn)
        self._patches.clear()

    # ------------------------------------------------- Spark status store

    def _newest_job(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def collect(self) -> None:
        """Attribute every job finished since the last call to the
        span whose job group ran it."""
        self.bus.waitUntilEmpty()
        jobs = self.store.jobsList(None)  # newest first
        by_group = {f"pb-{self.run}-{s.id}": s for s in self.spans}
        newest = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            group = job.jobGroup()
            sp = by_group.get(group.get()) if group.isDefined() else None
            if sp is None:
                continue
            sp.jobs += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # a stage the job skipped never ran
                    continue
                sp.tasks += st.numCompleteTasks()
                sp.input_rows += st.inputRecords()
                sp.shuffle_bytes += st.shuffleWriteBytes()
                sp.spill_bytes += st.diskBytesSpilled()
                sp.executor_run_s += st.executorRunTime() / 1000.0
        self._last_job = newest

    # ---------------------------------------------------------- reduction

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def inclusive(self) -> dict[int, dict]:
        """Per span: its own Spark totals plus its descendants'."""
        tot = {s.id: {"jobs": s.jobs, **{f: getattr(s, f) for f in STAGE_FIELDS}}
               for s in self.spans}
        for s in reversed(self.spans):  # children always follow parents
            if s.parent is not None:
                for k, v in tot[s.id].items():
                    tot[s.parent][k] += v
        return tot

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(asdict(s)) for s in self.spans) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def reduce_spans(tracer: Tracer) -> dict[str, dict]:
    """Per span name: calls, total and self seconds, counters and
    inclusive Spark totals, summed over every span of that name.

    Self time is the span's duration minus the part of it that its
    children cover."""
    kids = tracer.children()
    inc = tracer.inclusive()
    out: dict[str, dict] = {}
    for s in tracer.spans:
        agg = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0})
        dur = s.end - s.start
        agg["calls"] += 1
        agg["s"] += dur
        agg["self_s"] += dur - covered([(c.start, c.end) for c in kids.get(s.id, [])])
        for k, v in list(inc[s.id].items()) + list(s.counters.items()):
            agg[k] = agg.get(k, 0) + v
    return out
