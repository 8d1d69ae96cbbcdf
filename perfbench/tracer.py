"""Outside tracer: spans around the benchmark's calls into the library.

A span records its name, start, end, parent span and run id, and keeps
counts taken at the same boundary:

* Spark executor-summary deltas (GC time, shuffle bytes, failed tasks),
  read through ``statusStore().executorList(true)`` after the listener bus
  drains, so they need no Spark UI;
* the Spark jobs run under the span's own job group, and their task time
  (the stages' executor run time: a local-mode executor summary reports
  its uptime, not task time, as ``totalDuration``);
* whatever the caller adds, such as ``rows_out``.

Spans stay in memory and are written out once, when the run ends. A
disabled tracer hands out throwaway spans and touches no Spark state, so the
timed runs go through the same code with tracing off.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# (metric, ExecutorSummary getter, scale to the metric's unit)
_EXECUTOR_FIELDS = (
    ("gc_s", "totalGCTime", 1e-3),
    ("shuffle_read_bytes", "totalShuffleRead", 1),
    ("shuffle_write_bytes", "totalShuffleWrite", 1),
    ("failed_tasks", "failedTasks", 1),
)
LAYER_FIELDS = ("wall_s", "task_s", *(f for f, _, _ in _EXECUTOR_FIELDS),
                "rows_out")


@dataclass
class Span:
    name: str
    run_id: str
    span_id: int
    parent: int | None
    round: int
    start: float
    end: float = 0.0
    jobs: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.round = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._spark = None
        self._t0 = time.perf_counter()

    def bind(self, spark) -> None:
        """Read executor summaries from ``spark`` (None while no session
        is running)."""
        self._spark = spark

    def _executors(self) -> dict[str, float] | None:
        if self._spark is None:
            return None
        jsc = self._spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        summaries = jsc.statusStore().executorList(True)
        total = {name: 0.0 for name, _, _ in _EXECUTOR_FIELDS}
        for i in range(summaries.size()):
            e = summaries.apply(i)
            for name, getter, scale in _EXECUTOR_FIELDS:
                total[name] += getattr(e, getter)() * scale
        return total

    def group_work(self, group: str) -> tuple[int, float]:
        """(jobs, task seconds) of the jobs run under ``group``."""
        tracker = self._spark.sparkContext.statusTracker()
        store = self._spark.sparkContext._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        run_ms = 0
        for sid in stages:
            if tracker.getStageInfo(sid) is not None:  # None: never ran
                run_ms += store.lastStageAttempt(sid).executorRunTime()
        return len(job_ids), run_ms * 1e-3

    def _set_group(self, group: str | None) -> None:
        if self._spark is not None:
            self._spark.sparkContext.setLocalProperty(
                "spark.jobGroup.id", group)

    @staticmethod
    def _group(span: Span) -> str:
        return f"{span.run_id}/{span.span_id}/{span.name}"

    @contextmanager
    def span(self, name: str):
        """Time the body as span ``name``; yields the span so the caller
        can add counts."""
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, self.run_id, len(self.spans),
                   parent.span_id if parent else None, self.round,
                   time.perf_counter() - self._t0)
        if not self.enabled:
            yield rec
            return
        self.spans.append(rec)
        self._stack.append(rec)
        before = self._executors()
        self._set_group(self._group(rec))
        rec.start = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec.end = time.perf_counter() - self._t0
            self._stack.pop()
            self._set_group(self._group(parent) if parent else None)
            after = self._executors()
            if before is not None and after is not None:
                for k, v in after.items():
                    rec.counts[k] = v - before[k]
                rec.jobs, rec.counts["task_s"] = self.group_work(
                    self._group(rec))

    @contextmanager
    def patched(self, module, attr: str, name: str, on_result=None):
        """Replace ``module.attr`` for the duration of the block with a
        wrapper that runs each call in span ``name`` and passes the result
        to ``on_result``. Reaches calls the library makes internally."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    # ---- aggregation -----------------------------------------------------
    def _top(self, name: str) -> list[Span]:
        """Spans called ``name`` that are not nested in another one."""
        by_id = {s.span_id: s for s in self.spans}

        def nested(s: Span) -> bool:
            p = s.parent
            while p is not None:
                if by_id[p].name == name:
                    return True
                p = by_id[p].parent
            return False

        return [s for s in self.spans if s.name == name and not nested(s)]

    def layer(self, name: str) -> dict[str, float]:
        """Per-round sums of the layer's span fields, median over rounds;
        zeros when the layer never ran."""
        rounds: dict[int, dict[str, float]] = {}
        for s in self._top(name):
            acc = rounds.setdefault(s.round, dict.fromkeys(LAYER_FIELDS, 0.0))
            acc["wall_s"] += s.wall_s
            for k in LAYER_FIELDS[1:]:
                acc[k] += s.counts.get(k, 0.0)
        if not rounds:
            return dict.fromkeys(LAYER_FIELDS, 0.0)
        return {k: statistics.median(r[k] for r in rounds.values())
                for k in LAYER_FIELDS}

    def per_call_s(self, name: str) -> float:
        """Median wall seconds of one span called ``name`` (0 if none)."""
        walls = [s.wall_s for s in self.spans if s.name == name]
        return statistics.median(walls) if walls else 0.0

    def jobs(self, name: str) -> float:
        """Median Spark jobs per span called ``name`` (0 if none)."""
        jobs = [s.jobs for s in self.spans if s.name == name]
        return statistics.median(jobs) if jobs else 0.0

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run_id": self.run_id, **extra,
                       "spans": [asdict(s) for s in self.spans]}, f)
