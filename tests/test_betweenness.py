import numpy as np

from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness import (
    betweenness_bsp,
    betweenness_csr,
)
from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import (
    cycle_graph_edges,
    edge_df,
    path_graph_edges,
    star_graph_edges,
)

from tests.oracles import (
    _job_ids,
    _jobs_run,
    assert_scores_close,
    ba_graph,
    df_to_dict,
    er_graph,
    oracle_betweenness,
    oracle_brandes_state,
)


def test_path_graph_closed_form(spark):
    # P5: bc = [0, 3, 4, 3, 0]
    res = betweenness_bsp(spark, edge_df(spark, path_graph_edges(5)))
    got = df_to_dict(res.bc, "vertex", "bc")
    assert_scores_close(got, {0: 0.0, 1: 3.0, 2: 4.0, 3: 3.0, 4: 0.0})


def test_star_graph(spark):
    # S8 center: (8 choose 2) pairs routed through center = 21
    res = betweenness_bsp(spark, edge_df(spark, star_graph_edges(7)))
    got = df_to_dict(res.bc, "vertex", "bc")
    want = oracle_betweenness(star_graph_edges(7))
    assert_scores_close(got, want)


def test_cycle_graph_both_impls(spark):
    edges = cycle_graph_edges(6)
    want = oracle_betweenness(edges)
    got_bsp = df_to_dict(betweenness_bsp(spark, edge_df(spark, edges)).bc, "vertex", "bc")
    got_csr = df_to_dict(betweenness_csr(spark, edge_df(spark, edges)).bc, "vertex", "bc")
    assert_scores_close(got_bsp, want)
    assert_scores_close(got_csr, want)


def test_er_graph_bsp(spark):
    edges = er_graph(n=60, p=0.08, seed=42)
    want = oracle_betweenness(edges)
    res = betweenness_bsp(spark, edge_df(spark, edges), batch_size=64)
    assert_scores_close(df_to_dict(res.bc, "vertex", "bc"), want)
    assert res.supersteps > 0 and res.edges_traversed > 0


def test_bsp_traversal_counters(spark):
    """supersteps = forward levels (the final empty one included) plus
    backward levels; edges_traversed = one message per out-edge of every
    expanded (source, vertex) row."""
    # two components, eccentricity 4 at most: 5 forward + 4 backward levels;
    # each of the 8 sources expands every vertex of its component once
    res = betweenness_bsp(spark, edge_df(spark, path_graph_edges(5) + [(10, 11), (11, 12)]))
    assert res.supersteps == 9
    assert res.edges_traversed == 52
    # directed, the same levels; each edge is sent from its tail only
    res = betweenness_bsp(
        spark, edge_df(spark, path_graph_edges(5) + [(10, 11), (11, 12)]), directed=True
    )
    assert res.supersteps == 9
    assert res.edges_traversed == 13

    # connected: every source expands every vertex, so both implementations
    # traverse |sources| x the symmetrized edge count
    edges = er_graph(n=40, p=0.1, seed=5)
    sources = [0, 5, 17]
    bsp = betweenness_bsp(spark, edge_df(spark, edges), sources=sources)
    csr = betweenness_csr(spark, edge_df(spark, edges), sources=sources)
    assert bsp.edges_traversed == csr.edges_traversed == len(sources) * 2 * len(edges)


def test_bsp_deeper_than_the_visited_fold(spark):
    """P20 runs 19 levels deep, past two folds of the BFS visited set:
    distances stay exact, bc(i) = i * (19 - i), and the counters cover 20
    forward expansions plus 19 backward levels, each of the 20 sources
    sending one message per out-edge (38) of every vertex."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import (
        _FOLD_EVERY,
        bfs_distances,
    )

    n = 20
    assert n - 1 > 2 * _FOLD_EVERY
    edges = edge_df(spark, path_graph_edges(n))
    got = {r.vertex: r.dist for r in bfs_distances(spark, edges, [0]).collect()}
    assert got == {v: v for v in range(n)}
    res = betweenness_bsp(spark, edges)
    want = {i: float(i * (n - 1 - i)) for i in range(n)}
    assert_scores_close(df_to_dict(res.bc, "vertex", "bc"), want)
    assert res.supersteps == 39
    assert res.edges_traversed == 760


def _stage_tasks(spark, job_ids) -> list[int]:
    """Tasks each stage of the given jobs ran (skipped stages run 0)."""
    tracker = spark.sparkContext.statusTracker()
    return [
        tracker.getStageInfo(sid).numCompletedTasks
        for jid in job_ids
        for sid in tracker.getJobInfo(jid).stageIds
    ]


def test_bsp_bc_comes_back_materialised(spark):
    """bc is a projection over the last checkpoint: its plan has no
    Exchange and the first read runs a single job, not a recompute of the
    edge preparation."""
    res = betweenness_bsp(spark, edge_df(spark, path_graph_edges(5)))
    assert "Exchange" not in res.bc._jdf.queryExecution().executedPlan().toString()
    rows, jobs = _jobs_run(spark, res.bc.collect)
    assert jobs == 1
    assert len(rows) == 5


def test_bsp_job_budget(spark):
    """One checkpoint job wave per superstep: all 8 sources of the pinned
    two-component graph stay within the measured job count (under half
    of the earlier per-level-count design)."""
    edges = edge_df(spark, path_graph_edges(5) + [(10, 11), (11, 12)])
    for directed, budget in ((False, 36), (True, 38)):
        res, jobs = _jobs_run(
            spark, lambda: betweenness_bsp(spark, edges, directed=directed)
        )
        assert res.supersteps == 9
        assert jobs <= budget, (directed, jobs)


def test_er_graph_csr(spark):
    edges = er_graph(n=200, p=0.04, seed=42)
    want = oracle_betweenness(edges)
    res = betweenness_csr(spark, edge_df(spark, edges))
    assert_scores_close(df_to_dict(res.bc, "vertex", "bc"), want)


def test_ba_skewed_csr(spark):
    edges = ba_graph(n=300, m=3, seed=42)
    want = oracle_betweenness(edges)
    res = betweenness_csr(spark, edge_df(spark, edges))
    assert_scores_close(df_to_dict(res.bc, "vertex", "bc"), want)


def test_directed_graph(spark):
    edges = [(0, 1), (1, 2), (2, 3), (0, 2), (3, 0)]
    want = oracle_betweenness(edges, directed=True)
    res = betweenness_bsp(spark, edge_df(spark, edges), directed=True)
    assert_scores_close(df_to_dict(res.bc, "vertex", "bc"), want)


def test_state_arrays_match_sequential_brandes(spark):
    """dist/sigma/delta must match the sequential Brandes oracle (1e-6)."""
    edges = er_graph(n=40, p=0.1, seed=5)
    source = 0
    res = betweenness_bsp(
        spark, edge_df(spark, edges), sources=[source], return_state=True
    )
    state = {
        r["vertex"]: (r["dist"], r["sigma"], r["delta"])
        for r in res.state.where("source = 0").collect()
    }
    dist, sigma, delta = oracle_brandes_state(edges, source)
    assert {v: d for v, (d, _, _) in state.items()} == dist
    for v in dist:
        assert np.isclose(state[v][1], sigma[v], atol=1e-6)
        assert np.isclose(state[v][2], delta[v], atol=1e-6)


def test_csr_default_sources_stay_distributed(spark):
    """prepare_csr's default source set must be a DataFrame (spark.range),
    never an O(n) Python list on the driver, and the sweep must accept a
    sources DataFrame producing the same scores as the list form."""
    from pyspark.sql import DataFrame

    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness import (
        betweenness_csr_sweep,
        prepare_csr,
    )

    edges = er_graph(n=80, p=0.06, seed=3)
    art, default_sources = prepare_csr(spark, edge_df(spark, edges))
    try:
        assert isinstance(default_sources, DataFrame)
        assert default_sources.count() == art.n
        sample = [0, 7, 21]
        via_df = betweenness_csr_sweep(
            spark,
            art,
            spark.createDataFrame([(s,) for s in sample], "source long"),
        )
        via_list = betweenness_csr_sweep(spark, art, sample)
        assert via_df.supersteps == via_list.supersteps == len(sample)
        assert_scores_close(
            df_to_dict(via_df.bc, "vertex", "bc"),
            df_to_dict(via_list.bc, "vertex", "bc"),
        )
    finally:
        art.cleanup()


def test_csr_job_budget(spark):
    """The CSR path's Spark jobs, pinned: the artifact write observes its
    own stats (the dedup stage plus the write), a source list reaches the
    kernel without a shuffle (the kernel stage plus the checkpoint), and a
    sources DataFrame adds only its repartition.  The kernel stage is one
    wave: min(p, |sources|) Python tasks beside the zero rows' range
    slices."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness import (
        betweenness_csr_sweep,
        prepare_csr,
    )

    edges = edge_df(spark, er_graph(n=80, p=0.06, seed=3))
    edges.count()
    (art, _), jobs = _jobs_run(spark, lambda: prepare_csr(spark, edges))
    try:
        assert jobs <= 2, jobs
        p = spark.sparkContext.defaultParallelism
        zero_slices = spark.range(art.n).rdd.getNumPartitions()
        for sources in ([0, 7, 21], list(range(64))):
            res, ids = _job_ids(spark, lambda: betweenness_csr_sweep(spark, art, sources))
            assert res.supersteps == len(sources)
            assert len(ids) <= 2, (len(sources), len(ids))
            assert max(_stage_tasks(spark, ids)) == min(p, len(sources)) + zero_slices
        sources_df = spark.createDataFrame([(0,), (7,), (21,)], "source long")
        res, jobs = _jobs_run(spark, lambda: betweenness_csr_sweep(spark, art, sources_df))
        assert res.supersteps == 3
        assert jobs <= 3, jobs
    finally:
        art.cleanup()


def test_csr_sweeps_score_isolated_ids(spark):
    """Every id 0..n-1 scores, one that no edge touches included: vertex 3
    of a path on {0, 1, 2, 4} comes back with 0.0 from the unweighted and
    the weighted sweep alike."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness import (
        betweenness_csr_sweep,
        prepare_csr,
    )
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        betweenness_weighted_csr_sweep,
        prepare_csr_weighted,
    )

    edges = [(0, 1), (1, 2), (2, 4)]
    want = {0: 0.0, 1: 2.0, 2: 2.0, 3: 0.0, 4: 0.0}
    wdf = spark.createDataFrame([(u, v, 1) for u, v in edges], "src long, dst long, w long")
    for prepare, sweep, df in (
        (prepare_csr, betweenness_csr_sweep, edge_df(spark, edges)),
        (prepare_csr_weighted, betweenness_weighted_csr_sweep, wdf),
    ):
        art, sources = prepare(spark, df)
        try:
            got = df_to_dict(sweep(spark, art, sources).bc, "vertex", "bc")
        finally:
            art.cleanup()
        assert set(got) == set(want)
        assert_scores_close(got, want)


def test_source_sampling_partial_sums_agree(spark):
    edges = er_graph(n=80, p=0.06, seed=9)
    sources = [0, 5, 17, 33]
    a = df_to_dict(betweenness_bsp(spark, edge_df(spark, edges), sources=sources).bc, "vertex", "bc")
    b = df_to_dict(betweenness_csr(spark, edge_df(spark, edges), sources=sources).bc, "vertex", "bc")
    assert_scores_close(a, b)


def test_estimator_scaling(spark):
    """Brandes-Pich estimate with the FULL source set equals exact bc, and a
    half sample scales partial sums by exactly n/|S|."""
    edges = er_graph(n=50, p=0.1, seed=8)
    want = oracle_betweenness(edges)
    full = betweenness_csr(spark, edge_df(spark, edges), estimate=True)
    assert_scores_close(df_to_dict(full.bc, "vertex", "bc"), want)
    full_bsp = betweenness_bsp(spark, edge_df(spark, edges), estimate=True)
    assert_scores_close(df_to_dict(full_bsp.bc, "vertex", "bc"), want)
    sample = [0, 10, 20, 30, 40]
    est = betweenness_csr(spark, edge_df(spark, edges), sources=sample, estimate=True)
    raw = betweenness_csr(spark, edge_df(spark, edges), sources=sample)
    e_d, r_d = df_to_dict(est.bc, "vertex", "bc"), df_to_dict(raw.bc, "vertex", "bc")
    # the dense-id contract counts n as max_id + 1 (isolated ids included)
    n = max(v for e in edges for v in e) + 1
    for v in e_d:
        assert abs(e_d[v] - r_d[v] * n / len(sample)) < 1e-9


def test_weighted_betweenness_matches_networkx(spark):
    """Dijkstra-Brandes: weighted scores vs networkx at 1e-6, undirected
    and directed, on a weighted graph whose shortest paths genuinely differ
    from the BFS ones (heavy direct edges bypassed by light 2-hop paths)."""
    import networkx as nx

    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        betweenness_weighted,
    )

    rng_edges = er_graph(n=40, p=0.12, seed=21)
    wedges = [(u, v, 1 + ((u * 7 + v * 13) % 5)) for u, v in rng_edges]
    for directed in (False, True):
        g = nx.DiGraph() if directed else nx.Graph()
        g.add_weighted_edges_from(wedges)
        want = nx.betweenness_centrality(g, normalized=False, weight="weight")
        df = spark.createDataFrame(wedges, "src long, dst long, w long")
        got = df_to_dict(
            betweenness_weighted(spark, df, directed=directed).bc, "vertex", "bc"
        )
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-6, (directed, v, got[v], want[v])


def test_weighted_betweenness_unit_weights_match_bfs_brandes(spark):
    edges = er_graph(n=35, p=0.12, seed=4)
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        betweenness_weighted,
    )

    df = spark.createDataFrame(
        [(u, v, 1) for u, v in edges], "src long, dst long, w long"
    )
    got = df_to_dict(betweenness_weighted(spark, df).bc, "vertex", "bc")
    want = oracle_betweenness(edges)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6


def test_weighted_betweenness_rejects_nonpositive_weights(spark):
    import pytest

    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        betweenness_weighted,
    )

    df = spark.createDataFrame([(0, 1, 0)], "src long, dst long, w long")
    with pytest.raises(ValueError, match="strictly positive"):
        betweenness_weighted(spark, df)


def test_weighted_estimator_scaling(spark):
    """estimate=True with the FULL source set equals the exact run (factor
    n/n = 1), and with half the sources equals exactly (n/|S|) x the
    half-sample partial sums — the Brandes-Pich factor, same contract as
    the unweighted flag."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        betweenness_weighted,
    )
    from tests.oracles import er_graph

    edges = [(u, v) for u, v in er_graph(40, 0.12, seed=9)]
    we = spark.createDataFrame(
        [(u, v, (u + v) % 3 + 1) for u, v in edges], "src long, dst long, w long"
    )
    nodes = sorted({x for uv in edges for x in uv})
    exact = {
        r["vertex"]: r["bc"]
        for r in betweenness_weighted(spark, we, sources=nodes).bc.collect()
    }
    est_full = {
        r["vertex"]: r["bc"]
        for r in betweenness_weighted(
            spark, we, sources=nodes, estimate=True
        ).bc.collect()
    }
    assert all(abs(est_full[v] - exact[v]) < 1e-9 for v in exact)

    half = nodes[: len(nodes) // 2]
    plain = {
        r["vertex"]: r["bc"]
        for r in betweenness_weighted(spark, we, sources=half).bc.collect()
    }
    est = {
        r["vertex"]: r["bc"]
        for r in betweenness_weighted(
            spark, we, sources=half, estimate=True
        ).bc.collect()
    }
    f = len(nodes) / len(half)
    assert all(abs(est[v] - plain[v] * f) < 1e-9 for v in exact)


def test_weighted_bsp_counters_and_job_budget(spark):
    """Both weighted fixpoints run on the superstep loop: supersteps count
    the fused rounds plus the DAG-depth delta rounds, edges_traversed the
    shortest-path DAG edges over every batch, and the pinned graph's call
    plus one read of bc stays within the measured job count: 98 alone, 99
    once inside the whole suite, against 121 for the hand-rolled loops."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        betweenness_weighted,
    )

    def run(edges, **kw):
        df = spark.createDataFrame(edges, "src long, dst long, w long")

        def call():
            res = betweenness_weighted(spark, df, **kw)
            res.bc.collect()
            return res

        return _jobs_run(spark, call)

    pinned = [(u, v, 1) for u, v in path_graph_edges(5) + [(10, 11), (11, 12)]]
    res, jobs = run(pinned)
    assert (res.supersteps, res.edges_traversed) == (8, 26)
    assert jobs <= 100, jobs

    er = [(u, v, 1 + (7 * u + 13 * v) % 5) for u, v in er_graph(40, 0.12, seed=21)]
    for kw, want in (
        ({}, (16, 1806)),
        ({"directed": True}, (10, 351)),
        ({"sources": [0, 7, 21, 33]}, (14, 183)),
    ):
        res, _ = run(er, **kw)
        assert (res.supersteps, res.edges_traversed) == want, kw


def test_weighted_betweenness_rejects_fractional_weights(spark):
    """A weight in (0,1) truncates to 0 under the long cast — must be
    rejected loudly, not silently corrupt sigma/delta (ADVICE r4)."""
    import pytest

    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        betweenness_weighted,
    )

    df = spark.createDataFrame([(0, 1, 0.5)], "src long, dst long, w double")
    with pytest.raises(ValueError, match="INTEGRAL"):
        betweenness_weighted(spark, df)
    df2 = spark.createDataFrame([(0, 1, 1.5)], "src long, dst long, w double")
    with pytest.raises(ValueError, match="INTEGRAL"):
        betweenness_weighted(spark, df2)


def test_weighted_csr_sweep_matches_networkx(spark):
    """The Dial's-level Dijkstra-Brandes numpy kernel (weighted CSR fast
    path) vs networkx at 1e-6, undirected and directed."""
    import networkx as nx

    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        betweenness_weighted_csr_sweep,
        prepare_csr_weighted,
    )

    rng_edges = er_graph(n=40, p=0.12, seed=21)
    wedges = [(u, v, 1 + ((u * 7 + v * 13) % 5)) for u, v in rng_edges]
    for directed in (False, True):
        g = nx.DiGraph() if directed else nx.Graph()
        g.add_weighted_edges_from(wedges)
        want = nx.betweenness_centrality(g, normalized=False, weight="weight")
        df = spark.createDataFrame(wedges, "src long, dst long, w long")
        art, src = prepare_csr_weighted(spark, df, directed=directed)
        try:
            got = df_to_dict(
                betweenness_weighted_csr_sweep(
                    spark, art, src, directed=directed
                ).bc,
                "vertex",
                "bc",
            )
        finally:
            art.cleanup()
        for v in want:
            assert abs(got[v] - want[v]) < 1e-6, (directed, v, got[v], want[v])
        # ids absent from the edge list (dense-id padding) carry zero
        for v in set(got) - set(want):
            assert got[v] == 0.0


def test_weighted_csr_sweep_ba_matches_join_formulation(spark):
    """Fast path == join-formulation Dijkstra-Brandes on a skewed graph
    with wide weights — the two implementations share no code."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        betweenness_weighted,
        betweenness_weighted_csr_sweep,
        prepare_csr_weighted,
    )

    edges = ba_graph(n=60, m=2, seed=13)
    wedges = [(u, v, 1 + ((u * 11 + v * 3) % 9)) for u, v in edges]
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    sources = [0, 5, 9]
    join_res = betweenness_weighted(spark, df, sources=sources, max_hops=120)
    a = df_to_dict(join_res.bc, "vertex", "bc")
    art, _ = prepare_csr_weighted(spark, df)
    try:
        b = df_to_dict(
            betweenness_weighted_csr_sweep(spark, art, sources).bc, "vertex", "bc"
        )
    finally:
        art.cleanup()
    for v in b:
        assert abs(a.get(v, 0.0) - b[v]) < 1e-6, v


def test_weighted_csr_rejects_bad_weights(spark):
    import pytest

    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        prepare_csr_weighted,
    )

    for bad_w in (0.0, -2.0, 0.5):
        df = spark.createDataFrame(
            [(0, 1, bad_w), (1, 2, 1.0)], "src long, dst long, w double"
        )
        with pytest.raises(Exception):
            prepare_csr_weighted(spark, df)
