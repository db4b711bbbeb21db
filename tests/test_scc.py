import networkx as nx

from parallel_betweenness_centrality_using_bsp_spark.operators.scc import strongly_connected_components
from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import edge_df

from tests.oracles import _jobs_run, er_graph


def _want(directed_edges):
    g = nx.DiGraph(directed_edges)
    want = {}
    for comp in nx.strongly_connected_components(g):
        m = min(comp)
        for v in comp:
            want[v] = m
    return want


def _got(spark, directed_edges):
    return {
        r["vertex"]: r["scc"]
        for r in strongly_connected_components(
            spark, edge_df(spark, directed_edges)
        ).collect()
    }


def test_scc_two_cycles_and_bridge(spark):
    # cycle {0,1,2} -> cycle {3,4}, plus a dead-end 5
    e = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (4, 5)]
    assert _got(spark, e) == _want(e)


def _er_digraph():
    # one orientation of an ER graph plus back-edges to force nontrivial SCCs
    base = er_graph(n=50, p=0.06, seed=19)
    return list(base) + [(v, u) for u, v in base if (u + v) % 3 == 0]


def test_scc_er_digraph(spark):
    e = _er_digraph()
    got, want = _got(spark, e), _want(e)
    assert got == want
    assert len(set(want.values())) > 1  # the fixture has multiple SCCs


def test_scc_job_budget(spark):
    """Each superstep of the outer peel loop and of its two inner loops is
    one barrier job wave, with no per-round emptiness job: the ER fixture
    stays within its measured job count (390-391 with hand-rolled loops)."""
    e = _er_digraph()
    edf = edge_df(spark, e)
    rows, jobs = _jobs_run(
        spark, lambda: strongly_connected_components(spark, edf).collect()
    )
    assert {r["vertex"]: r["scc"] for r in rows} == _want(e)
    assert jobs <= 228, jobs


def test_scc_empty_input(spark):
    edf = spark.createDataFrame([], "src long, dst long")
    out = strongly_connected_components(spark, edf)
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("vertex", "bigint"), ("scc", "bigint"),
    ]


def test_scc_decreasing_chain_worst_case(spark):
    # 5 <- 4 <- ... the coloring algorithm's O(n) worst case still correct
    e = [(i + 1, i) for i in range(6)]
    assert _got(spark, e) == {v: v for v in range(7)}


def test_condensation_and_layers_match_networkx(spark):
    from parallel_betweenness_centrality_using_bsp_spark.operators.scc import (
        condense,
        dag_longest_path_layers,
    )
    from pyspark.sql import functions as F

    base = er_graph(n=40, p=0.08, seed=23)
    e = list(base) + [(v, u) for u, v in base if (u + v) % 4 == 0]
    edf = edge_df(spark, e)
    labels = strongly_connected_components(spark, edf).localCheckpoint(eager=True)
    cond = condense(spark, edf, labels)
    sccs = labels.select(F.col("scc").alias("vertex")).distinct()
    got = {
        r["vertex"]: r["layer"]
        for r in dag_longest_path_layers(spark, cond, vertices=sccs).collect()
    }

    g = nx.DiGraph(e)
    comp_min = {}
    comps = list(nx.strongly_connected_components(g))
    for comp in comps:
        m = min(comp)
        for v in comp:
            comp_min[v] = m
    cg = nx.DiGraph()
    cg.add_nodes_from({comp_min[v] for v in g})
    for u, v in g.edges():
        if comp_min[u] != comp_min[v]:
            cg.add_edge(comp_min[u], comp_min[v])
    want = {}
    for v in nx.topological_sort(cg):
        want[v] = max((want[u] + 1 for u in cg.predecessors(v)), default=0)
    assert got == want


def test_dag_layers_rejects_cycles(spark):
    import pytest

    from parallel_betweenness_centrality_using_bsp_spark.operators.scc import (
        dag_longest_path_layers,
    )

    e = edge_df(spark, [(0, 1), (1, 2), (2, 0)])
    with pytest.raises(ValueError, match="acyclic"):
        dag_longest_path_layers(spark, e, max_rounds=10)


def test_scc_decreasing_id_chain_converges_in_few_rounds(spark):
    """The documented adversarial case: a chain whose ids DECREASE along the
    edges.  Vertex-id colors elect exactly one pivot per outer round (O(n)
    rounds); the hash-permuted colors make pivot order hash-random, so the
    same chain finishes in O(log n)-ish rounds — enforced here by a hard
    round cap far below n (overrunning now raises instead of returning
    partial labels)."""
    from tests.oracles import df_to_dict

    n = 64
    e = edge_df(spark, [(i, i - 1) for i in range(n, 1, -1)])
    got = df_to_dict(
        strongly_connected_components(spark, e, max_outer_rounds=16), "vertex", "scc"
    )
    # a chain is all singleton SCCs
    assert got == {v: v for v in range(1, n + 1)}


def test_scc_raises_on_round_cap_overrun(spark):
    import pytest

    e = edge_df(spark, [(i, i - 1) for i in range(40, 1, -1)])
    with pytest.raises(ValueError, match="did not assign"):
        strongly_connected_components(spark, e, max_outer_rounds=1)
