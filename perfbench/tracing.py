"""Traced-run instrumentation: spans around the engine's public layer
functions, and Spark work attributed to one operation by job group.

Spans are kept in memory (``Tracer.spans``) and written out once, at
the end of the run (``Tracer.dump``). Wrapping happens at the bindings
the engine itself calls, in this process only, and is undone by
``Tracer.restore``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name_fn=None) -> None:
        """Replace ``owner.attr`` with a version that records a span per
        call, named ``attr`` or ``name_fn(*args)`` (e.g. the layer of a
        warehouse path)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name_fn(*args) if name_fn else attr):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **asdict(s)}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name

    def __enter__(self) -> int:
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        t.spans.append(Span(self.name, time.perf_counter(), 0.0, parent, t.run_id))
        self.idx = len(t.spans) - 1
        t._stack.append(self.idx)
        return self.idx

    def __exit__(self, *exc) -> None:
        self.tracer.spans[self.idx].end = time.perf_counter()
        self.tracer._stack.pop()


class JobGroups:
    """Spark work of one operation, read from the application status
    store under the job group the operation ran in (every job the
    operation started, including driver-side jobs during construction,
    carries the group)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def stats(self, group: str) -> dict:
        # the status store is fed asynchronously by the listener bus:
        # drain it so the group's last stages are all recorded
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        task_ms = shuffle = spill = 0
        for sid in stage_ids:
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            task_ms += s.executorRunTime()
            shuffle += s.shuffleWriteBytes()
            spill += s.diskBytesSpilled()
        return {
            "jobs": len(jobs),
            "task_s": task_ms / 1000.0,
            "shuffle_mb": shuffle / 1e6,
            "spill_mb": spill / 1e6,
        }

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())
