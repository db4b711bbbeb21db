"""Every package module must be reachable from a program outside ``tests/``.

The roots are the driver contract (``__spark_entry__.py``) and the scripts
under ``jobs/``, ``scripts/`` and ``linkbench/``.  From them the scan follows
every ``import`` statement (module level or inside functions) into the
package, transitively; importing ``a.b.c`` also runs ``a/__init__`` and
``a/b/__init__``.  A module no root reaches is only kept alive by its own
tests: delete it together with them.

``TEST_ONLY`` names the modules that are still unreachable today.  Each one
is covered by tests that must keep passing until the module and its tests
are deleted together, so the list may only shrink.
"""
from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "parallel_betweenness_centrality_using_bsp_spark"
ROOT_DIRS = ("jobs", "scripts", "linkbench")

TEST_ONLY = {
    f"{PKG}.plans.messages",
    f"{PKG}.sources.catalog",
    f"{PKG}.sources.edgelist",
    f"{PKG}.sources.formats",
    f"{PKG}.streaming.curation",
    f"{PKG}.streaming.dedup",
    f"{PKG}.streaming.enrich",
}


def _package_modules() -> dict[str, str]:
    mods = {}
    for d, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                name = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
                mods[name.removesuffix(".__init__")] = path
    return mods


def _imported_names(path: str) -> set[str]:
    names = set()
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def _root_files() -> list[str]:
    roots = [os.path.join(ROOT, "__spark_entry__.py")]
    for sub in ROOT_DIRS:
        for d, _, files in os.walk(os.path.join(ROOT, sub)):
            roots += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return roots


def _reachable(mods: dict[str, str]) -> set[str]:
    seen: set[str] = set()
    todo = list(_root_files())
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # the module itself plus every enclosing package's __init__
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in mods and mod not in seen:
                    seen.add(mod)
                    todo.append(mods[mod])
    return seen


def test_every_package_module_is_reachable_outside_tests():
    mods = _package_modules()
    dead = set(mods) - _reachable(mods)
    assert dead - TEST_ONLY == set(), f"modules only tests import: {sorted(dead - TEST_ONLY)}"


def test_test_only_list_names_only_unreachable_modules():
    mods = _package_modules()
    assert TEST_ONLY <= set(mods), f"no such module: {sorted(TEST_ONLY - set(mods))}"
    revived = TEST_ONLY & _reachable(mods)
    assert revived == set(), f"reachable now, drop from TEST_ONLY: {sorted(revived)}"
