import numpy as np
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.hits import hits
from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import edge_df

from tests.oracles import er_graph


def test_hits_star_fixed_point(spark):
    # directed star 0 -> {1..4}: hub mass all on 0, auth uniform on leaves —
    # the exact fixed point from iteration 1 on
    e = edge_df(spark, [(0, v) for v in range(1, 5)])
    run = hits(spark, e, tol=0.0, max_supersteps=2)
    got = {r["vertex"]: (r["hub"], r["auth"]) for r in run.state.collect()}
    assert np.isclose(got[0][0], 1.0) and np.isclose(got[0][1], 0.0)
    for v in range(1, 5):
        assert np.isclose(got[v][0], 0.0) and np.isclose(got[v][1], 0.25)


def _numpy_hits(directed: list[tuple[int, int]], iters: int) -> tuple[np.ndarray, np.ndarray]:
    """Dense power-iteration oracle with the engine's exact convention:
    auth' = L1-normalized Aᵀh, then hub' = L1-normalized A·auth'."""
    n = max(v for e in directed for v in e) + 1
    A = np.zeros((n, n))
    for u, v in directed:
        A[u, v] = 1.0
    h = np.ones(n) / n
    a = np.ones(n) / n
    for _ in range(iters):
        a = A.T @ h
        a /= a.sum()
        h = A @ a
        h /= h.sum()
    return h, a


def test_hits_l1_invariant_and_matches_numpy_oracle(spark):
    """Σ hub = Σ auth = 1 after every superstep, and per-vertex scores match
    a dense numpy power iteration of the identical convention to 1e-9."""
    edges = er_graph(n=60, p=0.08, seed=13)
    directed = [(u, v) for u, v in edges]  # use one orientation only
    iters = 12
    run = hits(spark, edge_df(spark, directed), tol=0.0, max_supersteps=iters)
    rows = run.state.collect()
    assert np.isclose(sum(r["hub"] for r in rows), 1.0)
    assert np.isclose(sum(r["auth"] for r in rows), 1.0)

    wh, wa = _numpy_hits(directed, iters)
    for r in rows:
        assert np.isclose(r["hub"], wh[r["vertex"]], atol=1e-9)
        assert np.isclose(r["auth"], wa[r["vertex"]], atol=1e-9)


def test_hits_resume_mid_iteration(spark, tmp_path):
    edges = er_graph(n=50, p=0.1, seed=21)
    e = edge_df(spark, edges)
    ckpt = str(tmp_path / "ck")
    from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import latest_checkpoint

    want = {
        (r["vertex"]): (round(r["hub"], 9), round(r["auth"], 9))
        for r in hits(spark, e, tol=0.0, max_supersteps=4).state.collect()
    }
    hits(spark, e, tol=0.0, max_supersteps=2, checkpoint_dir=ckpt, run_id="h")
    step, state = latest_checkpoint(spark, ckpt, "hits", "h")
    assert step == 2
    resumed = hits(
        spark, e, tol=0.0, max_supersteps=2, checkpoint_dir=ckpt, run_id="h",
        resume_state=state, start_step=step,
    )
    got = {
        (r["vertex"]): (round(r["hub"], 9), round(r["auth"], 9))
        for r in resumed.state.collect()
    }
    assert got == want


def _numpy_salsa(directed, iters):
    """Dense oracle with the engine's exact convention: auth' = A_row-normᵀh
    (each hub splits over its out-edges), hub' = column-walk of the FRESH
    auth (each authority splits over its in-edges)."""
    n = max(v for e in directed for v in e) + 1
    A = np.zeros((n, n))
    for u, v in set(directed):
        A[u, v] = 1.0
    od = A.sum(axis=1)
    idg = A.sum(axis=0)
    W_out = np.divide(A, od[:, None], out=np.zeros_like(A), where=od[:, None] > 0)
    W_in = np.divide(A, idg[None, :], out=np.zeros_like(A), where=idg[None, :] > 0)
    h = np.ones(n) / n
    a = np.ones(n) / n
    for _ in range(iters):
        a = W_out.T @ h
        h = W_in @ a
    return h, a


def test_salsa_matches_numpy_oracle_and_conserves_mass(spark):
    from parallel_betweenness_centrality_using_bsp_spark.operators.hits import salsa

    # strongly connected: ring + chords, so no dangling mass leaks and
    # Σ auth = Σ hub = Σ initial exactly
    n = 30
    directed = [(i, (i + 1) % n) for i in range(n)] + [
        (i, (i + 7) % n) for i in range(0, n, 3)
    ]
    run = salsa(spark, edge_df(spark, directed), tol=0.0, max_supersteps=4)
    got = {r["vertex"]: (r["hub"], r["auth"]) for r in run.state.collect()}
    h, a = _numpy_salsa(directed, 4)
    for v in range(n):
        assert np.isclose(got[v][0], h[v], atol=1e-12)
        assert np.isclose(got[v][1], a[v], atol=1e-12)
    assert np.isclose(sum(x[0] for x in got.values()), 1.0, atol=1e-12)
    assert np.isclose(sum(x[1] for x in got.values()), 1.0, atol=1e-12)


def test_salsa_resists_tight_knit_community_vs_hits(spark):
    # the TKC effect: a complete bipartite clique K_{5,5} (principal
    # singular value 5) vs one authority endorsed by 20 independent hubs
    # of out-degree 2 (singular value ~sqrt(20) < 5). HITS's raw-sum
    # eigenvector concentrates on the clique; SALSA's per-hub
    # normalization (stationary auth ∝ in-degree) ranks the
    # broadly-endorsed authority first.
    clique = [(u, v) for u in range(5) for v in range(5, 10)]
    broad = [(u, 100) for u in range(10, 30)]
    # every broad hub also endorses one filler so outdeg normalization has bite
    filler = [(u, 200 + u) for u in range(10, 30)]
    directed = clique + broad + filler
    from parallel_betweenness_centrality_using_bsp_spark.operators.hits import salsa

    # the raw-sum eigenvector needs ~12 iterations to concentrate on the
    # clique at this size (numpy twin: node 100 still leads at iteration 8)
    run_h = hits(spark, edge_df(spark, directed), tol=0.0, max_supersteps=12)
    auth_h = {r["vertex"]: r["auth"] for r in run_h.state.collect()}
    run_s = salsa(spark, edge_df(spark, directed), tol=0.0, max_supersteps=6)
    auth_s = {r["vertex"]: r["auth"] for r in run_s.state.collect()}
    assert max(auth_h, key=auth_h.get) in range(5, 10)  # HITS: clique wins
    assert max(auth_s, key=auth_s.get) == 100        # SALSA: broad support wins
