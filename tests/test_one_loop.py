"""Every iterative kernel runs on ``plans/superstep.py::superstep_loop``.

A round loop of its own shows in the source as a ``for`` or ``while`` whose
body materializes state: it calls ``localCheckpoint``, ``checkpoint`` or
betweenness' ``_checkpoint``.  The scan finds every such loop in the
package, named by its module and the top-level function that holds it.

``HAND_ROLLED`` names the functions that keep their own loop today: only
the one source-batch driver of both BSP Brandes, which folds its score
accumulator once per source batch (each batch's phases run on the loop).
The list may only shrink.
"""
from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "parallel_betweenness_centrality_using_bsp_spark")
MATERIALIZE = {"localCheckpoint", "checkpoint", "_checkpoint"}

HAND_ROLLED = {"betweenness._brandes_over_batches"}


def _called_name(call: ast.Call) -> str | None:
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    if isinstance(call.func, ast.Name):
        return call.func.id
    return None


def _materializes(loop: ast.For | ast.While) -> bool:
    return any(
        isinstance(node, ast.Call) and _called_name(node) in MATERIALIZE
        for stmt in loop.body + loop.orelse
        for node in ast.walk(stmt)
    )


def _hand_rolled_loops() -> set[str]:
    found = set()
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(PACKAGE) for f in files if f.endswith(".py")
    )
    for path in paths:
        fname = os.path.basename(path)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for top in tree.body:
            if not isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if any(
                isinstance(node, (ast.For, ast.While)) and _materializes(node)
                for node in ast.walk(top)
            ):
                found.add(f"{fname[: -len('.py')]}.{top.name}")
    return found


def test_no_new_hand_rolled_round_loops():
    new = _hand_rolled_loops() - HAND_ROLLED
    assert new == set(), f"run these on superstep_loop: {sorted(new)}"


def test_hand_rolled_list_names_only_remaining_loops():
    gone = HAND_ROLLED - _hand_rolled_loops()
    assert gone == set(), f"no loop of their own now, drop from HAND_ROLLED: {sorted(gone)}"
