"""Metric assembly for one benchmark run: from pass timings, check results
and per-layer values to the printed metrics and the result line."""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

from tracing import valid_metric_name

# Every per-layer metric the benchmark reports, with its unit.  A workload
# that bypasses a layer reports 0 for it: the layer did no work.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "sources.generate_s": "s",
    "sources.rows": "count",
    "edges.derive_s": "s",
    "edges.n_edges": "count",
    "edges.n_vertices": "count",
    "superstep.count.connected_components": "count",
    "superstep.ms_p50.connected_components": "ms",
    "superstep.ms_max.connected_components": "ms",
    "superstep.checkpoint_bytes": "bytes",
    "components.call_s": "s",
    "components.prep_s": "s",
    "betweenness.prepare_csr_s": "s",
    "betweenness.csr_sweep_s": "s",
    "betweenness.csr_teps": "edges/s",
    "betweenness.bsp_s": "s",
    "betweenness.bsp_supersteps": "count",
    "betweenness.bsp_teps": "edges/s",
    **{f"{layer}.{counter}": "count"
       for layer in ("sources", "edges", "components", "betweenness")
       for counter in ("spark_jobs", "tasks", "tasks_failed")},
    **{f"{layer}.self_s": "s"
       for layer in ("session", "sources", "edges", "components", "betweenness", "pass")},
    "trace.overhead_s": "s",
}

END_TO_END_UNITS = {"job_s": "s", "setup_s": "s", "supersteps_per_s": "1/s"}
# Workload-specific throughput, printed but not in the result line: every
# result-line metric must exist, and be non-zero, on every workload.
WORK_METRICS = {"files": ("files_per_s", "files/s"), "edges": ("teps", "edges/s")}


@dataclass
class RunRecord:
    """Everything one run measured."""

    setup_s: list[float] = field(default_factory=list)
    job_s: list[float] = field(default_factory=list)
    traced_job_s: list[float] = field(default_factory=list)
    supersteps_per_s: list[float] = field(default_factory=list)
    work_per_s: dict[str, list[float]] = field(default_factory=dict)
    layer_values: list[dict] = field(default_factory=list)  # one dict per traced pass
    setup_values: list[dict] = field(default_factory=list)  # one dict per set-up
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record_checks(self, checks: list[tuple[str, bool]]) -> None:
        for name, ok in checks:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(name)

    def record_calls(self, calls: int, calls_with_failed_tasks: int) -> None:
        """Traced engine calls count as operations; one whose Spark tasks
        failed counts as failed even if a retry saved it."""
        self.attempted += calls
        self.failed += calls_with_failed_tasks
        if calls_with_failed_tasks:
            self.failures.append(f"{calls_with_failed_tasks} call(s) with failed tasks")

    def record_failure(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(what)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def end_to_end(rec: RunRecord) -> dict[str, float]:
    return {
        "job_s": median(rec.job_s),
        "setup_s": median(rec.setup_s),
        "supersteps_per_s": median(rec.supersteps_per_s),
    }


def per_layer(rec: RunRecord) -> dict[str, float]:
    """Median over set-ups / traced passes of every per-layer metric;
    layers the workload never called read 0."""
    out = {name: 0.0 for name in PER_LAYER_UNITS}
    for source in (rec.setup_values, rec.layer_values):
        names = {k for d in source for k in d}
        for name in names:
            out[name] = median([d[name] for d in source if name in d])
    if rec.traced_job_s and rec.job_s:
        out["trace.overhead_s"] = median(rec.traced_job_s) - median(rec.job_s)
    return out


def summary_lines(workload: str, rec: RunRecord, trace: bool) -> list[str]:
    """Every metric by name with its unit, one per line."""
    rows = [(n, v, END_TO_END_UNITS[n]) for n, v in end_to_end(rec).items()]
    for key, values in rec.work_per_s.items():
        name, unit = WORK_METRICS[key]
        rows.append((name, median(values), unit))
    rows.append(("failed_ratio", rec.failed_ratio, "ratio"))
    if trace:
        rows += [(n, v, PER_LAYER_UNITS[n]) for n, v in per_layer(rec).items()]
    return [f"{workload} {name} {value:.6g} {unit}" for name, value, unit in rows]


def metric_block(values: dict[str, float], units: dict[str, str]) -> dict:
    bad = [n for n in values if not valid_metric_name(n) or n not in units]
    if bad:
        raise ValueError(f"unknown or malformed metric names: {bad}")
    return {n: {"value": float(v), "unit": units[n]} for n, v in values.items()}


def result_line(rec: RunRecord, trace: bool) -> str:
    if trace:
        metrics = metric_block(per_layer(rec), PER_LAYER_UNITS)
    else:
        metrics = metric_block(end_to_end(rec), END_TO_END_UNITS)
    return json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": metrics,
    })
