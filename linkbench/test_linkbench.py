"""Tests for the benchmark's own logic; no Spark session is started.

    python3 -m pytest linkbench -q
"""

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from report import (  # noqa: E402
    END_TO_END_UNITS,
    PER_LAYER_UNITS,
    RunRecord,
    metric_block,
    per_layer,
    result_line,
    summary_lines,
)
from tracing import (  # noqa: E402
    Probe,
    Span,
    Tracer,
    self_time_by_name,
    self_time_metrics,
    self_times,
    valid_metric_name,
)
from workloads import WORKLOADS, hashmin_reference, scores_close, superstep_values  # noqa: E402


def span(i, name, start, end, parent=None):
    return Span(span_id=i, name=name, start=start, end=end, parent=parent, run_id="r")


class FakeClock:
    def __init__(self, ticks):
        self._ticks = iter(ticks)

    def __call__(self):
        return next(self._ticks)


# ---- span self time ----

def test_self_time_without_children_is_duration():
    assert self_times([span(0, "a", 1.0, 4.0)]) == {0: 3.0}


def test_self_time_subtracts_children():
    spans = [span(0, "pass", 0.0, 10.0), span(1, "edges", 1.0, 3.0, 0),
             span(2, "components", 4.0, 9.0, 0)]
    own = self_times(spans)
    assert own[0] == pytest.approx(3.0)
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(5.0)


def test_self_time_counts_overlapping_children_once():
    spans = [span(0, "p", 0.0, 10.0), span(1, "a", 1.0, 5.0, 0), span(2, "b", 3.0, 7.0, 0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    spans = [span(0, "p", 2.0, 6.0), span(1, "a", 0.0, 3.0, 0), span(2, "b", 5.0, 9.0, 0)]
    assert self_times(spans)[0] == pytest.approx(2.0)


def test_self_time_only_direct_children_count():
    spans = [span(0, "p", 0.0, 10.0), span(1, "c", 2.0, 8.0, 0), span(2, "g", 3.0, 5.0, 1)]
    own = self_times(spans)
    assert own[0] == pytest.approx(4.0)
    assert own[1] == pytest.approx(4.0)
    assert own[2] == pytest.approx(2.0)


def test_self_time_by_name_sums_repeated_layers():
    spans = [span(0, "pass", 0.0, 10.0), span(1, "betweenness", 0.0, 2.0, 0),
             span(2, "betweenness", 5.0, 6.0, 0)]
    assert self_time_by_name(spans) == pytest.approx({"pass": 7.0, "betweenness": 3.0})


def test_self_time_metrics_name_layers_by_module_and_skip_setup():
    spans = [span(0, "setup", 0.0, 10.0), span(1, "session", 0.0, 4.0, 0),
             span(2, "pass", 10.0, 20.0), span(3, "operators.components", 11.0, 19.0, 2)]
    assert self_time_metrics(spans) == pytest.approx(
        {"session.self_s": 4.0, "pass.self_s": 2.0, "components.self_s": 8.0}
    )


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    tr = Tracer("run", clock=FakeClock([0.0, 1.0, 3.0, 4.0]))
    with tr.span("pass"):
        with tr.span("operators.edges", op="derive"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert (outer.start, outer.end, inner.start, inner.end) == (0.0, 4.0, 1.0, 3.0)
    assert inner.attrs == {"op": "derive"} and inner.run_id == "run"

    off = Tracer("run", enabled=False)
    with off.span("pass"):
        pass
    assert off.spans == []


def test_untraced_probe_keeps_put_values_but_times_nothing():
    probe = Probe(Tracer("run", enabled=False))
    with probe.call("operators.components"):
        probe.put("edges.n_edges", 3)
    assert probe.values == {"edges.n_edges": 3}
    assert probe.calls == 0


# ---- prep_s ----

class FakeRun:
    def __init__(self, walls_ms):
        self.metrics = [{"wall_ms": w} for w in walls_ms]
        self.supersteps = len(walls_ms)

    @property
    def wall_ms_total(self):
        return sum(m["wall_ms"] for m in self.metrics)


def test_prep_s_is_call_time_minus_superstep_walls():
    probe = Probe(Tracer("run", enabled=False))
    probe.put("components.call_s", 5.0)
    superstep_values(probe, "connected_components", FakeRun([1000.0, 1500.0, 500.0]), "components")
    assert probe.get("components.prep_s") == pytest.approx(2.0)
    assert probe.get("superstep.count.connected_components") == 3
    assert probe.get("superstep.ms_p50.connected_components") == pytest.approx(1000.0)
    assert probe.get("superstep.ms_max.connected_components") == pytest.approx(1500.0)


def test_prep_s_absent_when_call_untimed():
    probe = Probe(Tracer("run", enabled=False))
    superstep_values(probe, "connected_components", FakeRun([10.0]), "components")
    assert probe.get("components.prep_s") is None


# ---- metric names ----

@pytest.mark.parametrize("name", ["job_s", "superstep.ms_p50.connected_components",
                                  "edges.n-edges", "0x"])
def test_valid_metric_names(name):
    assert valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_lead", ".lead", "has space", "a/b", "ünï", "x" * 65])
def test_invalid_metric_names(name):
    assert not valid_metric_name(name)


def test_every_reported_metric_name_is_valid():
    assert all(valid_metric_name(n) for n in {**PER_LAYER_UNITS, **END_TO_END_UNITS})


def test_metric_block_rejects_unknown_names():
    with pytest.raises(ValueError):
        metric_block({"job_s": 1.0, "bogus": 2.0}, END_TO_END_UNITS)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: cls.why for name, cls in WORKLOADS.items()
    }


# ---- failures ----

def passing_record():
    rec = RunRecord(setup_s=[30.0, 10.0], job_s=[6.0], supersteps_per_s=[0.5])
    rec.record_checks([("edges_match_generator", True), ("cc_matches_hashmin_reference", True)])
    return rec


def test_failed_check_raises_failed_ratio_and_clears_correct():
    ok = passing_record()
    assert ok.failed_ratio == 0.0
    assert json.loads(result_line(ok, trace=False))["correct"] is True

    bad = passing_record()
    bad.record_checks([("bsp_matches_networkx", False)])
    assert bad.failed_ratio == pytest.approx(1 / 3)
    line = json.loads(result_line(bad, trace=False))
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 3, 1)
    assert "repo-ingest failed_ratio 0.333333 ratio" in summary_lines("repo-ingest", bad, False)


def test_exception_and_failed_tasks_count_as_failures():
    rec = passing_record()
    rec.record_failure("pass 0: RuntimeError: boom")
    rec.record_calls(calls=3, calls_with_failed_tasks=1)
    assert (rec.attempted, rec.failed) == (6, 2)


def test_result_line_carries_exactly_the_declared_metrics():
    rec = passing_record()
    line = json.loads(result_line(rec, trace=False))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(END_TO_END_UNITS)
    assert line["metrics"]["setup_s"] == {"value": 20.0, "unit": "s"}

    rec.traced_job_s = [6.5]
    rec.layer_values = [{"edges.derive_s": 2.0}]
    traced = json.loads(result_line(rec, trace=True))["metrics"]
    assert set(traced) == set(PER_LAYER_UNITS)
    assert traced["edges.derive_s"]["value"] == 2.0
    assert traced["betweenness.bsp_s"]["value"] == 0.0
    assert per_layer(rec)["trace.overhead_s"] == pytest.approx(0.5)


# ---- oracles ----

def test_hashmin_reference_moves_one_hop_per_round():
    src, dst = np.array([0, 1, 2]), np.array([1, 2, 3])  # path 0-1-2-3
    assert hashmin_reference(src, dst, 1) == {0: 0, 1: 0, 2: 1, 3: 2}
    assert hashmin_reference(src, dst, 3) == {0: 0, 1: 0, 2: 0, 3: 0}


def test_scores_close_treats_missing_vertices_as_zero():
    assert scores_close({0: 1.0, 1: 0.0}, {0: 1.0 + 1e-9})
    assert not scores_close({0: 1.0}, {0: 1.0, 1: 1e-3})
