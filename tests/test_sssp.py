import networkx as nx
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.sssp import sssp, sssp_run
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import latest_checkpoint

from tests.oracles import er_graph


def _weighted(spark, edges):
    rows = [(u, v, (u + v) % 5 + 1) for u, v in edges]
    return spark.createDataFrame(rows, "src long, dst long, w long"), rows


def test_sssp_matches_dijkstra(spark):
    edges = er_graph(n=70, p=0.07, seed=6)
    e, rows = _weighted(spark, edges)
    got = {
        (r["source"], r["vertex"]): r["dist"]
        for r in sssp(spark, e, [0, 5], max_hops=100).collect()
    }
    g = nx.Graph()
    for u, v, w in rows:
        g.add_edge(u, v, weight=w)
    for s in (0, 5):
        want = nx.single_source_dijkstra_path_length(g, s)
        assert {v: d for (src, v), d in got.items() if src == s} == want


def test_sssp_bounded_hops(spark):
    # path 0-1-2 with heavy shortcut 0-2: within 1 hop the shortcut wins,
    # with 2 hops the cheaper 2-hop route takes over
    e = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (0, 2, 10)], "src long, dst long, w long"
    )
    one = {r["vertex"]: r["dist"]
           for r in sssp(spark, e, [0], max_hops=1, early_stop=False).collect()}
    two = {r["vertex"]: r["dist"]
           for r in sssp(spark, e, [0], max_hops=2, early_stop=False).collect()}
    assert one[2] == 10 and two[2] == 2


def test_sssp_long_chain_frontier_stays_sparse(spark):
    # P200: 0-1-2-…-199, unit weights.  Dense Bellman-Ford re-aggregates all
    # 200 state rows every round; the frontier form must touch exactly ONE
    # improved row per round regardless of how much state has accumulated —
    # the flat-per-round-cost property that makes long diameters affordable.
    n = 200
    e = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(n - 1)], "src long, dst long, w long"
    )
    sizes: list[int] = []
    run = sssp_run(
        spark, e, [0], max_hops=n + 20, early_stop=True,
        frontier_sizes=sizes,
    )
    assert run.converged
    got = {r["vertex"]: r["dist"] for r in run.state.collect()}
    assert got == {v: v for v in range(n)}
    # 199 propagating rounds + 1 empty-improvement round to detect the fixpoint
    assert run.supersteps == n
    assert sizes == [1] * n


def test_sssp_resume_mid_iteration(spark, tmp_path):
    edges = er_graph(n=60, p=0.08, seed=11)
    e, _ = _weighted(spark, edges)
    ckpt = str(tmp_path / "ck")

    full = sssp(spark, e, [0, 3], max_hops=6, early_stop=False)
    want = {(r["source"], r["vertex"]): r["dist"] for r in full.collect()}

    # crash after 3 rounds, then resume from the newest complete checkpoint
    sssp_run(
        spark, e, [0, 3], max_hops=3, early_stop=False,
        checkpoint_dir=ckpt, run_id="r",
    )
    step, state = latest_checkpoint(spark, ckpt, "sssp", "r")
    assert step == 3
    resumed = sssp_run(
        spark, e, [0, 3], max_hops=3, early_stop=False,
        checkpoint_dir=ckpt, run_id="r",
        resume_state=state, start_step=step,
    )
    got = {
        (r["source"], r["vertex"]): r["dist"]
        for r in resumed.state.select("source", "vertex", "dist").collect()
    }
    assert got == want


def test_sssp_bucketed_state_matches_plain(spark, tmp_path):
    edges = er_graph(n=60, p=0.08, seed=14)
    e, _ = _weighted(spark, edges)
    want = {
        (r["source"], r["vertex"]): r["dist"]
        for r in sssp(spark, e, [0, 2], max_hops=6, early_stop=False).collect()
    }
    run = sssp_run(
        spark, e, [0, 2], max_hops=6, early_stop=False,
        checkpoint_dir=str(tmp_path / "ck"), run_id="bkt", bucket_state=True,
    )
    got = {
        (r["source"], r["vertex"]): r["dist"]
        for r in run.state.select("source", "vertex", "dist").collect()
    }
    assert got == want
    for k in range(7):
        spark.sql(f"DROP TABLE IF EXISTS ss_sssp_bkt_{k}")


def test_sssp_delta_stepping_matches_plain_and_dijkstra(spark):
    """Delta-stepping reaches the identical fixpoint for several bucket
    widths, including Δ=1 (Dijkstra order) and Δ beyond the weighted
    diameter (degenerates to frontier Bellman-Ford)."""
    edges = er_graph(n=70, p=0.07, seed=6)
    e, rows = _weighted(spark, edges)
    plain = {
        (r["source"], r["vertex"]): r["dist"]
        for r in sssp(spark, e, [0, 5], max_hops=100).collect()
    }
    g = nx.Graph()
    for u, v, w in rows:
        g.add_edge(u, v, weight=w)
    for width in (1, 3, 10_000):
        got = {
            (r["source"], r["vertex"]): r["dist"]
            for r in sssp(
                spark, e, [0, 5], max_hops=300, delta_width=width
            ).collect()
        }
        assert got == plain, f"delta_width={width}"
    for s in (0, 5):
        want = nx.single_source_dijkstra_path_length(g, s)
        assert {v: d for (src, v), d in plain.items() if src == s} == want


def test_sssp_delta_stepping_cuts_wasted_relaxations(spark):
    """On a wide-weight graph (heavy shortcut reached first, corrected by a
    long light path), bucketing relaxes each vertex near its FINAL distance:
    total frontier rows processed must be strictly below plain frontier
    Bellman-Ford's, which relaxes early with non-final distances and
    re-sends corrections."""
    # star of heavy spokes from 0 + a light chain that undercuts every spoke
    n = 40
    rows = [(0, i, 50) for i in range(1, n)]          # heavy direct spokes
    rows += [(i, i + 1, 1) for i in range(0, n - 1)]  # light chain 0-1-2-…
    e = spark.createDataFrame(rows, "src long, dst long, w long")

    plain_sizes: list[int] = []
    sssp_run(spark, e, [0], max_hops=300, frontier_sizes=plain_sizes)
    delta_sizes: list[int] = []
    run = sssp_run(
        spark, e, [0], max_hops=300, frontier_sizes=delta_sizes, delta_width=1
    )
    # identical answer: chain distance i for vertex i (undirected graph)
    got = {r["vertex"]: r["dist"] for r in run.state.collect()}
    assert got == {i: min(i, 50 + 0 if i == 0 else min(i, 50)) if i else 0
                   for i in range(n)} or got == {i: min(i, 50) if i else 0
                                                 for i in range(n)}
    assert sum(delta_sizes) < sum(plain_sizes)
