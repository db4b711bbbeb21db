import networkx as nx
import numpy as np

from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import closeness_sampled
from parallel_betweenness_centrality_using_bsp_spark.operators.mis import luby_mis
from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import edge_df

from tests.oracles import ba_graph, er_graph, luby_mis_replay


def test_closeness_full_sources_matches_networkx(spark):
    edges = er_graph(n=50, p=0.1, seed=3)
    g = nx.Graph(edges)
    sources = sorted(g.nodes())
    got = {
        r["vertex"]: r["closeness"]
        for r in closeness_sampled(spark, edge_df(spark, edges), sources).collect()
    }
    want = nx.closeness_centrality(g)  # wf_improved=True is the nx default
    for v, c in want.items():
        if c == 0.0:
            assert v not in got  # isolated-in-sample vertices are absent
        else:
            assert np.isclose(got[v], c, atol=1e-9), v


def test_closeness_disconnected_wf_correction(spark):
    # two components: K3 ∪ path(3) — the WF factor scales by reached/(n-1)
    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12)]
    g = nx.Graph(edges)
    got = {
        r["vertex"]: r["closeness"]
        for r in closeness_sampled(
            spark, edge_df(spark, edges), sorted(g.nodes())
        ).collect()
    }
    want = nx.closeness_centrality(g)
    for v in got:
        assert np.isclose(got[v], want[v], atol=1e-9), v


def test_closeness_sampled_partial_sums(spark):
    # the sampled estimator: only distances from the sample count
    edges = [(0, 1), (1, 2), (2, 3)]
    got = {
        r["vertex"]: (r["reached"], r["closeness"])
        for r in closeness_sampled(
            spark, edge_df(spark, edges), [0], wf_improved=False
        ).collect()
    }
    # vertex 0 itself unreached (dist 0 excluded); 1,2,3 at dist 1,2,3
    assert got == {1: (1, 1.0), 2: (1, 0.5), 3: (1, 1.0 / 3.0)}


def _mis_assert_valid(edges, rows, *, expect_complete):
    status = {r["vertex"]: r["status"] for r in rows}
    in_set = {v for v, s in status.items() if s == "in"}
    und = {v for v, s in status.items() if s == "undecided"}
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    # independence: no two MIS members adjacent
    for v in in_set:
        assert not (adj.get(v, set()) & in_set), v
    if expect_complete:
        assert not und
        # maximality: every non-member has a member neighbor
        for v, s in status.items():
            if s == "out":
                assert adj.get(v, set()) & in_set, v
    else:
        # every decided 'out' vertex still needs a member neighbor
        for v, s in status.items():
            if s == "out":
                assert adj.get(v, set()) & in_set, v


def test_luby_mis_fixpoint_is_maximal_independent(spark):
    edges = er_graph(n=120, p=0.06, seed=21)
    rows = luby_mis(spark, edge_df(spark, edges)).collect()
    _mis_assert_valid(edges, rows, expect_complete=True)
    # every vertex decided with a positive round
    assert all(r["round"] >= 1 for r in rows)


def test_luby_mis_round_capped_prefix_is_consistent(spark):
    # a 1-round run must agree with the fixpoint run on round-1 decisions
    edges = er_graph(n=80, p=0.08, seed=33)
    e = edge_df(spark, edges)
    one_rows = luby_mis(spark, e, rounds=1).collect()
    one = {r["vertex"]: (r["status"], r["round"]) for r in one_rows}
    full = {r["vertex"]: (r["status"], r["round"]) for r in luby_mis(spark, e).collect()}
    _mis_assert_valid(edges, one_rows, expect_complete=False)
    for v, (st, rd) in one.items():
        if rd == 1:
            assert full[v] == (st, 1), v
        else:
            assert st == "undecided" and full[v][1] > 1, v


def test_luby_mis_path_deterministic(spark):
    # fixed md5 priorities → identical output across runs
    edges = [(i, i + 1) for i in range(30)]
    e = edge_df(spark, edges)
    a = sorted(map(tuple, luby_mis(spark, e).collect()))
    b = sorted(map(tuple, luby_mis(spark, e).collect()))
    assert a == b
    _mis_assert_valid(edges, luby_mis(spark, e).collect(), expect_complete=True)


def test_luby_mis_fixpoint_matches_round_replay(spark):
    # every vertex's status AND round equal the pure-python replay's
    for edges in (er_graph(150, 0.06, seed=3), ba_graph(200, 3, seed=3)):
        rows = luby_mis(spark, edge_df(spark, edges)).collect()
        got = {r["vertex"]: (r["status"], r["round"]) for r in rows}
        assert got == luby_mis_replay(edges)
