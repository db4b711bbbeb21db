from collections import defaultdict

from parallel_betweenness_centrality_using_bsp_spark.operators.coloring import (
    jones_plassmann_coloring,
)
from tests.oracles import ba_graph, er_graph, jones_plassmann_replay


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["vertex"]: (r["color"], r["round"])
        for r in jones_plassmann_coloring(spark, df, **kw).collect()
    }


def test_proper_coloring_at_fixpoint(spark):
    """Every vertex colored, no monochromatic edge, palette ≤ Δ+1 — on both
    an ER and a hub-heavy BA fixture."""
    for edges in (er_graph(150, 0.06, seed=3), ba_graph(200, 3, seed=3)):
        res = _run(spark, edges)
        deg = defaultdict(int)
        verts = set()
        for u, v in edges:
            deg[u] += 1
            deg[v] += 1
            verts |= {u, v}
        assert set(res) == verts
        assert all(c >= 0 for c, _ in res.values())
        assert all(res[u][0] != res[v][0] for u, v in edges)
        assert len({c for c, _ in res.values()}) <= max(deg.values()) + 1


def test_fixpoint_matches_round_replay(spark):
    """Every vertex's color AND round equal the pure-python replay's."""
    for edges in (er_graph(150, 0.06, seed=3), ba_graph(200, 3, seed=3)):
        assert _run(spark, edges) == jones_plassmann_replay(edges)


def test_deterministic_across_runs(spark):
    edges = er_graph(100, 0.08, seed=11)
    assert _run(spark, edges) == _run(spark, edges)


def test_round_cap_surfaces_uncolored(spark):
    """A 1-round cap colors exactly the priority-local-minima and marks the
    rest (-1, -1) — partial progress is explicit, never silent."""
    edges = er_graph(150, 0.06, seed=3)
    res = _run(spark, edges, rounds=1)
    colored = {v for v, (c, _) in res.items() if c >= 0}
    uncolored = {v for v, (c, r) in res.items() if c == -1 and r == -1}
    assert colored and uncolored
    assert colored | uncolored == set(res)
    # round-1 winners form an independent set and all take color 0
    assert all(res[v] == (0, 1) for v in colored)
    adj = {(u, v) for u, v in edges} | {(v, u) for u, v in edges}
    assert all((u, v) not in adj for u in colored for v in colored if u != v)


def test_triangle_uses_three_colors(spark):
    res = _run(spark, [(0, 1), (1, 2), (0, 2)])
    assert sorted(c for c, _ in res.values()) == [0, 1, 2]
