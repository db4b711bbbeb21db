import networkx as nx

from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import bfs_distances
from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import (
    edge_df,
    path_graph_edges,
)

from tests.oracles import er_graph


def test_path_graph_distances(spark):
    got = {
        (r.source, r.vertex): r.dist
        for r in bfs_distances(spark, edge_df(spark, path_graph_edges(6)), [0, 3]).collect()
    }
    assert got[(0, 5)] == 5 and got[(0, 0)] == 0
    assert got[(3, 0)] == 3 and got[(3, 5)] == 2
    # an empty start frontier is never expanded
    assert bfs_distances(spark, edge_df(spark, path_graph_edges(6)), []).count() == 0


def test_er_graph_matches_networkx(spark):
    edges = er_graph(n=120, p=0.03, seed=11)
    g = nx.Graph()
    g.add_edges_from(edges)
    sources = [0, 7, 23]
    got = {
        (r.source, r.vertex): r.dist
        for r in bfs_distances(spark, edge_df(spark, edges), sources).collect()
    }
    want = {}
    for s in sources:
        for v, d in nx.single_source_shortest_path_length(g, s).items():
            want[(s, v)] = d
    assert got == want


def test_directed_and_max_depth(spark):
    edges = [(0, 1), (1, 2), (2, 3)]
    got = {
        (r.source, r.vertex): r.dist
        for r in bfs_distances(spark, edge_df(spark, edges), [0], directed=True, max_depth=2).collect()
    }
    assert got == {(0, 0): 0, (0, 1): 1, (0, 2): 2}


def test_long_diameter_path_graph(spark):
    """P48 single-source BFS: 47 supersteps — exercises the incremental
    visited set (plan depth must stay O(1) per level; the old re-union of
    all levels was O(depth²) and would crawl here)."""
    n = 48
    got = {
        (r.source, r.vertex): r.dist
        for r in bfs_distances(spark, edge_df(spark, path_graph_edges(n)), [0]).collect()
    }
    assert got == {(0, v): v for v in range(n)}


def test_double_sweep_diameter_exact_on_tree_and_bounded_on_er(spark):
    import networkx as nx

    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import double_sweep_diameter
    from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import edge_df

    from tests.oracles import er_graph

    # tree (path with branches): double sweep is EXACT on trees
    tree = [(0, 1), (1, 2), (2, 3), (3, 4), (2, 5), (5, 6), (1, 7)]
    row = double_sweep_diameter(spark, edge_df(spark, tree)).first()
    g = nx.Graph(tree)
    assert row["ecc_lb"] == nx.diameter(g)
    assert row["n_reached"] == g.number_of_nodes()

    # general graph: a valid lower bound, tight or not
    edges = er_graph(n=80, p=0.06, seed=31)
    g2 = nx.Graph(edges)
    comp = max(nx.connected_components(g2), key=len)
    row2 = double_sweep_diameter(spark, edge_df(spark, edges)).first()
    # start = min vertex; its component's diameter bounds the sweep result
    start_comp = nx.node_connected_component(g2, min(g2.nodes()))
    diam = nx.diameter(g2.subgraph(start_comp))
    assert 1 <= row2["ecc_lb"] <= diam
    assert row2["n_reached"] == len(start_comp)


def test_shortest_path_extraction_vs_networkx(spark):
    """The extracted path is a real path of exactly the shortest length,
    with the canonical min-parent determinism (two runs identical)."""
    import networkx as nx

    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import shortest_path
    from tests.oracles import er_graph

    edges = er_graph(120, 0.04, seed=5)
    g = nx.Graph()
    g.add_edges_from(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    comp = max(nx.connected_components(g), key=len)
    src = min(comp)
    dst = max(comp)
    rows = sorted(
        (r["pos"], r["vertex"]) for r in shortest_path(spark, df, src, dst).collect()
    )
    path = [v for _, v in rows]
    assert path[0] == src and path[-1] == dst
    assert [p for p, _ in rows] == list(range(len(path)))
    assert all(g.has_edge(a, b) for a, b in zip(path, path[1:]))
    assert len(path) - 1 == nx.shortest_path_length(g, src, dst)
    rows2 = sorted(
        (r["pos"], r["vertex"]) for r in shortest_path(spark, df, src, dst).collect()
    )
    assert rows == rows2

    # unreachable pair -> empty result, not an error
    iso = max(g.nodes) + 1
    df2 = spark.createDataFrame(edges + [(iso, iso + 1)], "src long, dst long")
    assert shortest_path(spark, df2, src, iso).count() == 0


def test_ego_network_matches_networkx(spark):
    """members == single-source shortest-path lengths cutoff 2; induced
    edges == both orientations of nx.ego_graph(radius=2)'s edge set."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import ego_network

    edges = er_graph(n=70, p=0.05, seed=17)
    g = nx.Graph(edges)
    seed = sorted(g.nodes)[0]
    df = spark.createDataFrame(edges, "src long, dst long")
    members, induced = ego_network(spark, df, seed, radius=2)

    want_m = nx.single_source_shortest_path_length(g, seed, cutoff=2)
    got_m = {r["vertex"]: r["dist"] for r in members.collect()}
    assert got_m == dict(want_m)

    ego = nx.ego_graph(g, seed, radius=2)
    want_e = {(u, v) for u, v in ego.edges} | {(v, u) for u, v in ego.edges}
    got_e = {(r["src"], r["dst"]) for r in induced.collect()}
    assert got_e == want_e


def test_weighted_closeness_matches_networkx(spark):
    """sources = ALL vertices on an undirected weighted graph makes the
    sampled estimator exact: scores == networkx.closeness_centrality(
    distance='w') at 1e-9."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import (
        closeness_weighted_sampled,
    )

    edges = er_graph(n=40, p=0.12, seed=8)
    wedges = [(u, v, (u + v) % 4 + 1) for u, v in edges]
    g = nx.Graph()
    for u, v, w in wedges:
        g.add_edge(u, v, w=w)
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    nodes = sorted(g.nodes)
    got = {
        r["vertex"]: r["closeness"]
        for r in closeness_weighted_sampled(spark, df, nodes, max_hops=50).collect()
    }
    want = nx.closeness_centrality(g, distance="w")
    assert all(abs(got[v] - want[v]) < 1e-9 for v in nodes if v in got)
    # every non-isolated vertex is reached
    assert set(got) == {v for v in nodes if g.degree(v) > 0}
