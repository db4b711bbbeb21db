"""Pure-python tests for the measurement harness helpers.

The judge (and the driver) re-run ``scripts/scaling_bench.py``; these pin
the harness's record-keeping contracts without spawning any Spark JVM:

* ``_merge`` keeps EVERY attempt and headlines the median-efficiency one,
  with the best one under its own ``_best_attempt`` label (shared-box
  honesty: external load swings runs 2-5x).
* Pinned rows (``--pin``) never share a key with unpinned rows, so the
  two methodologies can't contaminate each other's attempt lists.
* ``_maybe_pin`` only wraps the command when pinning is on, and builds
  the exact cpu list the child's ``local[N]`` claims.
"""
from __future__ import annotations

import importlib.util
import json
import os
import sys

_spec = importlib.util.spec_from_file_location(
    "scaling_bench",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "scaling_bench.py",
    ),
)
sb = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(sb)


def _pair(eff):
    return {"lo": {}, "hi": {}, "efficiency_pagerank": eff}


def test_merge_keeps_every_attempt_and_headlines_the_median(tmp_path):
    path = str(tmp_path / "bench.json")
    m1 = sb._merge(path, {"k": _pair(0.5)})
    with open(path, "w") as f:
        json.dump(m1, f)
    m2 = sb._merge(path, {"k": _pair(0.9)})
    with open(path, "w") as f:
        json.dump(m2, f)
    m3 = sb._merge(path, {"k": _pair(0.7)})
    assert m3["k"]["efficiency_pagerank"] == 0.7  # the median is the headline
    assert m3["k_best_attempt"]["efficiency_pagerank"] == 0.9  # labelled as best
    effs = [a["efficiency_pagerank"] for a in m3["k_attempts"]]
    assert sorted(effs) == [0.5, 0.7, 0.9]  # no attempt is dropped


def test_merge_non_efficiency_payloads_take_latest(tmp_path):
    path = str(tmp_path / "bench.json")
    m1 = sb._merge(path, {"raw": {"n": 1}})
    with open(path, "w") as f:
        json.dump(m1, f)
    m2 = sb._merge(path, {"raw": {"n": 2}})
    assert m2["raw"] == {"n": 2}  # no efficiency field -> latest wins
    assert {"n": 1} in m2["raw_attempts"]


def test_eff_prefers_the_criterion_kernel():
    assert sb._eff({"efficiency_betweenness": 0.9, "efficiency_pagerank": 0.5}) == 0.9
    assert sb._eff({"efficiency_pagerank": 0.5}) == 0.5
    assert sb._eff({"efficiency_ingest": 0.6}) == 0.6
    assert sb._eff({}) == 0.0


def test_maybe_pin_off_is_identity():
    sb.PIN = False
    argv = [sys.executable, "-c", "pass"]
    assert sb._maybe_pin(argv, 4) is argv


def test_maybe_pin_builds_exact_cpu_list():
    sb.PIN = True
    try:
        argv = [sys.executable, "-c", "pass"]
        assert sb._maybe_pin(argv, 1)[:3] == ["taskset", "-c", "0"]
        assert sb._maybe_pin(argv, 4)[:3] == ["taskset", "-c", "0-3"]
        assert sb._maybe_pin(argv, 32)[:3] == ["taskset", "-c", "0-31"]
        assert sb._maybe_pin(argv, 4)[3:] == argv
    finally:
        sb.PIN = False


def test_pinned_keys_never_collide_with_unpinned(tmp_path):
    # the main() suffixing contract: a pinned run writes {key}_pinned, so
    # merging it can't touch the unpinned attempts list
    path = str(tmp_path / "bench.json")
    m1 = sb._merge(path, {"k": _pair(0.5)})
    with open(path, "w") as f:
        json.dump(m1, f)
    m2 = sb._merge(path, {"k_pinned": _pair(0.9)})
    assert m2["k"]["efficiency_pagerank"] == 0.5
    assert m2["k_pinned"]["efficiency_pagerank"] == 0.9
    assert len(m2["k_attempts"]) == 1
