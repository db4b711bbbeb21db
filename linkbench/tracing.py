"""Spans and Spark counters recorded from outside the engine.

The benchmark wraps each public call it makes into an engine layer in a
span (name, start, end, parent, run id).  Spans stay in memory and are
written out once, when the benchmark ends.  A layer's self time is its
span's duration minus the part of that interval its child spans cover.

Nothing here imports Spark, so the arithmetic is testable without a JVM;
``SparkCounters`` only talks to the ``SparkContext`` it is handed.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name: str) -> bool:
    """Names start with a letter or digit and use only ``[A-Za-z0-9_.-]``."""
    return METRIC_NAME.fullmatch(name) is not None


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: duration minus the union of its children's
    intervals inside it (children may overlap each other or spill out)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Self time summed over all spans that share a name."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.span_id]
    return out


def self_time_metrics(spans: list[Span]) -> dict[str, float]:
    """``<layer>.self_s`` for every span name except the ``setup`` root."""
    return {f"{layer_short(name)}.self_s": own
            for name, own in self_time_by_name(spans).items() if name != "setup"}


class Tracer:
    """In-memory span recorder.  ``enabled=False`` records nothing, so the
    untraced run pays one attribute test per call site."""

    def __init__(self, run_id: str, enabled: bool = True, clock=time.monotonic):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._clock = clock
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        span = Span(
            span_id=len(self.spans),
            name=name,
            start=self._clock(),
            end=float("nan"),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            attrs=dict(attrs),
        )
        self.spans.append(span)
        self._stack.append(span.span_id)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = self._clock()

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def layer_short(layer: str) -> str:
    """Metric prefix of a layer: the last part of its module name."""
    return layer.rsplit(".", 1)[-1]


class Probe:
    """Per-pass collector of per-layer values.

    ``call(layer, op)`` wraps one public call into ``layer``: when tracing,
    it records a span, the call's wall time as ``<short>.<op>_s`` and the
    Spark jobs, tasks and failed tasks it ran, summed per layer.  ``put``
    stores any other value a layer's result reports.
    """

    def __init__(self, tracer: Tracer, counters: "SparkCounters | None" = None):
        self.tracer = tracer
        self.counters = counters
        self.values: dict[str, float] = {}
        self.calls = 0
        self.calls_with_failed_tasks = 0

    def put(self, name: str, value: float) -> None:
        self.values[name] = value

    def get(self, name: str):
        return self.values.get(name)

    @contextmanager
    def call(self, layer: str, op: str = "call"):
        if not self.tracer.enabled:
            yield
            return
        short = layer_short(layer)
        rec: dict = {}
        with self.counters.track(rec):
            with self.tracer.span(layer, op=op) as span:
                yield
        self.calls += 1
        self.values[f"{short}.{op}_s"] = span.duration
        for key, val in rec.items():
            name = f"{short}.{key}"
            self.values[name] = self.values.get(name, 0) + val
        if rec.get("tasks_failed"):
            self.calls_with_failed_tasks += 1


class SparkCounters:
    """Spark jobs / tasks / failed tasks of the work done inside ``track``,
    read through ``setJobGroup`` and the status tracker."""

    def __init__(self, sc):
        self._sc = sc
        self._n = 0

    @contextmanager
    def track(self, out: dict):
        self._n += 1
        group = f"linkbench-{self._n}"
        self._sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self._sc._jsc.clearJobGroup()
        # status events arrive on the listener bus asynchronously
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = failed = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        out["spark_jobs"] = len(jobs)
        out["tasks"] = tasks
        out["tasks_failed"] = failed
