"""Spans around calls into the engine, recorded from the benchmark side.

A :class:`Tracer` keeps spans (name, start, end, parent) in memory.
Each span runs under a Spark job group named after it, so the jobs it
started are found with ``statusTracker().getJobIdsForGroup``. Their
stage metrics are read from the status store, which works with the UI
off, when the outermost span ends: outside every measured interval, and
before the store drops them (it keeps the newest 1000 jobs and stages).
Wrappers patch public functions where the caller looks them up and are
removed by :meth:`Tracer.restore`.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# v1.StageData getters -> metric name and scale to the reported unit
STAGE_FIELDS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "inputBytes": ("spark.input_bytes", 1),
    "outputBytes": ("spark.output_bytes", 1),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spark.spill_bytes", 1),
    "diskBytesSpilled": ("spark.spill_bytes", 1),
    "numTasks": ("spark.tasks", 1),
}
SPARK_METRICS = ("spark.jobs", "spark.stages") + tuple(
    dict.fromkeys(name for name, _ in STAGE_FIELDS.values())
)


@dataclass
class Span:
    name: str
    idx: int
    start: float
    parent: int | None
    group: str = ""
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def spark_job_metrics(spark, job_ids) -> dict[str, float]:
    """Sum stage metrics over ``job_ids`` from the driver's status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    gateway = sc._gateway  # noqa: SLF001
    no_quantiles = gateway.new_array(gateway.jvm.double, 0)
    no_status = gateway.jvm.java.util.ArrayList()
    out = dict.fromkeys(SPARK_METRICS, 0.0)
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out["spark.jobs"] = float(len(job_ids))
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        for i in range(attempts.size()):
            data = attempts.apply(i)
            out["spark.stages"] += 1
            for getter, (name, scale) in STAGE_FIELDS.items():
                out[name] += getattr(data, getter)() * scale
    return out


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, idx, 0.0, parent, group=f"{name}#{idx}")
        self.spans.append(span)
        sc = self.spark.sparkContext
        prev = (sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"))
        sc.setJobGroup(span.group, name)
        self._stack.append(idx)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev[0])
            sc.setLocalProperty("spark.job.description", prev[1])
            if parent is None:
                tracker = sc.statusTracker()
                for s in self.spans[idx:]:
                    jobs = tracker.getJobIdsForGroup(s.group)
                    s.counts.update(spark_job_metrics(self.spark, jobs))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a call that runs in a span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, spanned)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_seconds(self, idx: int) -> float:
        """Duration minus the union of the intervals its children cover."""
        span = self.spans[idx]
        covered, cursor = 0.0, span.start
        for s in sorted((self.spans[c] for c in self.children(idx)), key=lambda s: s.start):
            lo, hi = max(s.start, cursor), min(s.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.seconds - covered

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], self.children(idx)
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children(i))
        return out

    def layer_totals(self, idx: int) -> dict[str, dict[str, float]]:
        """Per span name under ``idx`` (itself included): summed duration,
        self time and counts."""
        out: dict[str, dict[str, float]] = {}
        for i in [idx] + self.descendants(idx):
            s = self.spans[i]
            agg = out.setdefault(s.name, {"calls": 0.0, "s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["s"] += s.seconds
            agg["self_s"] += self.self_seconds(i)
            for k, v in s.counts.items():
                agg[k] = agg.get(k, 0.0) + v
        return out

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "counts": s.counts}
            for s in self.spans
        ]
