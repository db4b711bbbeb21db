import hashlib

import networkx as nx

from parallel_betweenness_centrality_using_bsp_spark.operators.mst import boruvka_forest


def _wedges(edges):
    """Canonical (u, v, w) with unique deterministic md5-derived weights —
    unique weights make the MSF unique, so edge sets compare exactly."""
    out = []
    for u, v in sorted({(min(a, b), max(a, b)) for a, b in edges if a != b}):
        w = int(hashlib.md5(f"w:{u}:{v}".encode()).hexdigest()[:12], 16)
        out.append((u, v, w))
    return out

def _df(spark, wedges):
    return spark.createDataFrame(wedges, "src long, dst long, w long")


def _nx_msf(wedges):
    g = nx.Graph()
    for u, v, w in wedges:
        g.add_edge(u, v, weight=w)
    return {
        (min(u, v), max(u, v))
        for u, v in nx.minimum_spanning_edges(g, algorithm="boruvka", data=False)
    }


def test_boruvka_matches_networkx_unique_weights(spark):
    from tests.oracles import ba_graph, er_graph

    for edges in (er_graph(n=90, p=0.06, seed=31), ba_graph(n=80, m=3, seed=33)):
        we = _wedges(edges)
        got = {
            (r["src"], r["dst"])
            for r in boruvka_forest(spark, _df(spark, we)).collect()
        }
        assert got == _nx_msf(we)


def test_boruvka_spans_disconnected_forest(spark):
    # two separate components -> a forest: n - #components edges, all valid
    comp_a = [(i, i + 1) for i in range(10)]
    comp_b = [(100 + i, 100 + i + 1) for i in range(7)]
    we = _wedges(comp_a + comp_b)
    rows = boruvka_forest(spark, _df(spark, we)).collect()
    assert len(rows) == 10 + 7  # (11-1) + (8-1)
    g = nx.Graph()
    g.add_edges_from((r["src"], r["dst"]) for r in rows)
    assert not list(nx.cycle_basis(g))


def test_boruvka_total_weight_with_ties(spark):
    # uniform weights: edge SET may differ from networkx but total weight
    # (and edge count) of any MSF is determined
    from tests.oracles import er_graph

    edges = sorted({(min(a, b), max(a, b)) for a, b in er_graph(n=60, p=0.08, seed=35)})
    we = [(u, v, 1 + (u + v) % 3) for u, v in edges]
    rows = boruvka_forest(spark, _df(spark, we)).collect()
    g = nx.Graph()
    for u, v, w in we:
        g.add_edge(u, v, weight=w)
    t = nx.minimum_spanning_tree(g)
    assert len(rows) == t.number_of_edges()
    assert sum(r["w"] for r in rows) == int(t.size(weight="weight"))
    # still a spanning forest: acyclic + touches every vertex
    f = nx.Graph()
    f.add_edges_from((r["src"], r["dst"]) for r in rows)
    assert set(f.nodes()) == set(g.nodes()) and not list(nx.cycle_basis(f))


def test_boruvka_round_cap_is_prefix_of_full_run(spark):
    from tests.oracles import ba_graph

    we = _wedges(ba_graph(n=70, m=3, seed=37))
    full = {
        (r["src"], r["dst"]): r["round"]
        for r in boruvka_forest(spark, _df(spark, we)).collect()
    }
    part = {
        (r["src"], r["dst"]): r["round"]
        for r in boruvka_forest(spark, _df(spark, we), rounds=1).collect()
    }
    assert part == {e: k for e, k in full.items() if k == 1}
    assert max(full.values()) >= 2  # the cap actually cut something


def test_boruvka_job_budget(spark):
    """One barrier job wave per round plus the round's CC, with no label
    table and no per-round emptiness job: the pinned graph stays within its
    measured job count (135-137 with the hand-rolled loop)."""
    from tests.oracles import _jobs_run, ba_graph

    we = _wedges(ba_graph(n=70, m=3, seed=37))
    rows, jobs = _jobs_run(spark, lambda: boruvka_forest(spark, _df(spark, we)).collect())
    assert {(r["src"], r["dst"]) for r in rows} == _nx_msf(we)
    assert jobs <= 96, jobs


def test_boruvka_empty_input(spark):
    from tests.oracles import _jobs_run

    out, call_jobs = _jobs_run(spark, lambda: boruvka_forest(spark, _df(spark, [])))
    rows, collect_jobs = _jobs_run(spark, out.collect)
    assert rows == []
    assert call_jobs + collect_jobs <= 6, (call_jobs, collect_jobs)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("src", "bigint"), ("dst", "bigint"), ("w", "bigint"), ("round", "int"),
    ]
