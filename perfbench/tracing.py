"""Spans, counts and Spark engine metrics for the traced run.

Public functions of the program are wrapped (module attributes swapped
for timing shims) only inside :meth:`Tracer.patch`, which only the
traced run enters, and restored on exit.

A span is ``{run_id, span_id, parent, name, start, end}``; spans of one
run share ``run_id``. Spans stay in memory and are written once, with the
counts, by :meth:`Tracer.write_sidecar`.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import time
import uuid


def force(df) -> None:
    """Run a lazy frame to Spark's ``noop`` sink (full evaluation, no
    output) so that its cost lands inside the span that times it."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = {}
        self.counts: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    # -- spans and samples --------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        rec = {
            "run_id": self.run_id,
            "span_id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
        }
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def bump(self, name: str) -> None:
        self.counts[name] = self.counts.get(name, 0) + 1

    def timed(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` in a span; record its duration (s) under ``name``."""
        with self.span(name) as rec:
            out = fn(*args, **kwargs)
        self.add(name, rec["end"] - rec["start"])
        return out

    def median(self, name: str) -> float | None:
        vals = self.samples.get(name)
        return statistics.median(vals) if vals else None

    # -- wrapping public functions ------------------------------------
    @contextlib.contextmanager
    def patch(self, *targets):
        """Swap ``(owner, attr, wrapper_factory)`` targets for the duration
        of the block. ``wrapper_factory(original)`` returns the shim."""
        saved = []
        try:
            for owner, attr, factory in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, functools.wraps(orig)(factory(orig)))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def write_sidecar(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": self.spans,
                    "samples": self.samples,
                    "counts": self.counts,
                    **extra,
                },
                f,
                indent=1,
            )


class SparkActions:
    """Engine metrics per timed action, read from Spark's status store:
    every action runs under its own job group, and the stages of that
    group's jobs are summed afterwards."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._n = itertools.count()
        self.group = self.name = None

    @contextlib.contextmanager
    def action(self, name: str, record: bool = True):
        self.group, self.name = f"perfbench-{name}-{next(self._n)}", name
        self.sc.setJobGroup(self.group, name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
        if record:
            self.record(self.group)

    def aside(self, fn, *args):
        """Call ``fn`` under a job group of its own: jobs that a timing
        shim starts (forcing a lazy frame) are not counted as the
        program's in ``jobs()`` or in the action's engine metrics."""
        self.sc.setJobGroup(f"{self.group}-shim", "shim")
        try:
            return fn(*args)
        finally:
            self.sc.setJobGroup(self.group, self.name)

    def jobs(self, group: str | None = None) -> list[int]:
        """Job ids of ``group`` (default: the current action's)."""
        return list(self.sc.statusTracker().getJobIdsForGroup(group or self.group))

    def record(self, group: str) -> None:
        store = self.sc._jsc.sc().statusStore()
        run_ms = tasks = shuffle = spill = 0
        slowest, skew = -1, 1.0
        for job in self.jobs(group):
            info = self.sc.statusTracker().getJobInfo(job)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j: stage skipped (reused shuffle output)
                    continue
                run_ms += sd.executorRunTime()
                tasks += sd.numTasks()
                shuffle += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if sd.executorRunTime() > slowest:
                    slowest = sd.executorRunTime()
                    skew = _task_skew(store, sid, sd.attemptId())
        t = self.tracer
        t.add("spark.executor_run_s", run_ms / 1000.0)
        t.add("spark.tasks", tasks)
        t.add("spark.shuffle_write_bytes", shuffle)
        t.add("spark.spill_bytes", spill)
        t.add("spark.task_skew", skew)


def _task_skew(store, sid: int, attempt: int) -> float:
    """max ÷ median task run time of one stage attempt."""
    durs = []
    it = store.taskList(sid, attempt, 100000).iterator()
    while it.hasNext():
        m = it.next().taskMetrics()
        if m.isDefined():
            durs.append(m.get().executorRunTime())
    med = statistics.median(durs) if durs else 0
    return max(durs) / med if med > 0 else 1.0
