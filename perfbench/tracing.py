"""Timing, Spark job accounting and span tracing for the benchmark.

Every step (one catalog query, one lifecycle phase, one scoring request)
runs under its own Spark job group. After the step's clock stops, the
listener bus is drained and ``SparkContext.statusTracker()`` reports the
step's jobs, stages and tasks, including failed tasks, which count the step
as failed. This accounting runs in both modes.

In a traced step, each call into a package layer is also a span: name,
start, end, parent, and the step it belongs to. A span that runs Spark jobs
gets a job group of its own, so its job/stage/task counts are exact. Spans
are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Counts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    def add(self, other: "Counts") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.failed_tasks += other.failed_tasks


@dataclass
class Span:
    name: str
    step_id: int
    parent: str | None
    start: float
    end: float
    counts: Counts
    children_s: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - self.children_s


@dataclass
class Step:
    """One timed unit of work. ``wall_s`` excludes all accounting done after
    the step returns; ``error`` holds the traceback of a raised exception."""

    kind: str
    step_id: int
    traced: bool
    wall_s: float = 0.0
    counts: Counts = field(default_factory=Counts)
    error: str | None = None
    result: object = None

    @property
    def failed(self) -> bool:
        return self.error is not None or self.counts.failed_tasks > 0


class Tracer:
    """Job-group accounting for every step; spans for traced steps."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.steps: list[Step] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # ------------------------------------------------------------ accounting
    def _new_group(self) -> str:
        with self._lock:
            return f"perfbench-{next(self._ids)}"

    def _counts(self, group: str) -> Counts:
        # Status events reach the tracker through the asynchronous listener
        # bus; drain it so the counts of a finished action are complete.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = Counts()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out.jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                # Skipped stages (shuffle output reused) ran no task.
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue
                out.stages += 1
                out.tasks += stage.numCompletedTasks + stage.numFailedTasks
                out.failed_tasks += stage.numFailedTasks
        return out

    def run_step(self, kind: str, fn, traced: bool = False) -> Step:
        """Time ``fn()`` under a fresh job group; exceptions are recorded,
        never raised."""
        with self._lock:
            step_id = next(self._ids)
        step = Step(kind, step_id, traced and self.enabled)
        group = f"perfbench-step-{step_id}"
        self.sc.setJobGroup(group, kind)
        self._local.step = step
        self._local.group = group
        self._local.stack = []
        t0 = time.perf_counter()
        try:
            step.result = fn()
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            step.error = traceback.format_exc()
        step.wall_s = time.perf_counter() - t0
        self._local.step = None
        step.counts = self._counts(group)
        with self._lock:
            span_counts = [s.counts for s in self.spans if s.step_id == step_id]
            self.steps.append(step)
        for c in span_counts:
            step.counts.add(c)
        return step

    # ----------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        """Record a span around a layer call when the current step is traced;
        otherwise cost nothing beyond one attribute lookup."""
        step = getattr(self._local, "step", None)
        if step is None or not step.traced:
            yield
            return
        stack = self._local.stack
        parent = stack[-1] if stack else None
        group = self._new_group()
        span = Span(name, step.step_id, parent[0].name if parent else None, 0.0, 0.0, Counts())
        stack.append((span, group))
        self.sc.setJobGroup(group, name)
        span.start = time.perf_counter()
        try:
            yield
        finally:
            span.end = time.perf_counter()
            stack.pop()
            self.sc.setJobGroup(parent[1] if parent else self._local.group, name)
            if parent:
                parent[0].children_s += span.seconds
            span.counts = self._counts(group)
            with self._lock:
                self.spans.append(span)

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call (used to wrap a package
        function at its module attribute)."""

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "steps": [
                        {
                            "kind": s.kind,
                            "step_id": s.step_id,
                            "traced": s.traced,
                            "wall_s": s.wall_s,
                            "counts": asdict(s.counts),
                            "error": s.error,
                        }
                        for s in self.steps
                    ],
                },
                f,
            )


# ----------------------------------------------------------------- statistics

def median(values) -> float:
    return statistics.median(values)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    k = max(0, math.ceil(p / 100.0 * len(ordered)) - 1)
    return ordered[k]


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
