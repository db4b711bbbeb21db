"""Pure-python/NetworkX oracles (the sequential-Brandes-equivalent role;
SURVEY.md §5, FIXTURES.md §B4)."""

from __future__ import annotations

import hashlib
import uuid

import networkx as nx
import numpy as np


def nx_graph(edges: list[tuple[int, int]], directed: bool = False):
    g = nx.DiGraph() if directed else nx.Graph()
    g.add_edges_from(edges)
    return g


def er_graph(n: int = 200, p: float = 0.05, seed: int = 42) -> list[tuple[int, int]]:
    g = nx.gnp_random_graph(n, p, seed=seed)
    return [(int(u), int(v)) for u, v in g.edges()]


def ba_graph(n: int = 500, m: int = 3, seed: int = 42) -> list[tuple[int, int]]:
    g = nx.barabasi_albert_graph(n, m, seed=seed)
    return [(int(u), int(v)) for u, v in g.edges()]


def oracle_betweenness(edges, directed=False) -> dict[int, float]:
    g = nx_graph(edges, directed)
    return nx.betweenness_centrality(g, normalized=False)


def oracle_pagerank(
    edges, alpha=0.85, directed=True, personalize=None
) -> dict[int, float]:
    """Pure-python power iteration (networkx.pagerank semantics; nx needs
    scipy, absent): teleport + dangling redistribution over the uniform
    vector, or over a ``personalize`` seed set (t = 1/|S| on S)."""
    g = nx_graph(edges, directed)
    nodes = sorted(g.nodes())
    n = len(nodes)
    if personalize is not None:
        seeds = set(personalize)
        t = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
    else:
        t = {v: 1.0 / n for v in nodes}
    pr = dict(t)
    out = {v: (g.out_degree(v) if directed else g.degree(v)) for v in nodes}
    for _ in range(1000):
        dangling = sum(pr[v] for v in nodes if out[v] == 0)
        new = {v: (1.0 - alpha) * t[v] + alpha * dangling * t[v] for v in nodes}
        for u, v in g.edges():
            new[v] += alpha * pr[u] / out[u]
            if not directed:
                new[u] += alpha * pr[v] / out[v]
        if sum(abs(new[v] - pr[v]) for v in nodes) < 1e-13 * n:
            return new
        pr = new
    return pr


def oracle_components(edges) -> dict[int, int]:
    g = nx_graph(edges, directed=False)
    out = {}
    for comp in nx.connected_components(g):
        label = min(comp)
        for v in comp:
            out[v] = label
    return out


def oracle_triangle_count(edges) -> int:
    g = nx_graph(edges, directed=False)
    return sum(nx.triangles(g).values()) // 3


def oracle_triangles_per_vertex(edges) -> dict[int, int]:
    g = nx_graph(edges, directed=False)
    return {v: t for v, t in nx.triangles(g).items() if t > 0}


def oracle_label_propagation(edges, max_iters=20) -> dict[int, int]:
    """Synchronous LPA, most-frequent neighbor label, smallest-label
    tie-break, isolated vertices keep their label — exactly the engine's
    semantics."""
    g = nx_graph(edges, directed=False)
    labels = {v: v for v in g.nodes()}
    for _ in range(max_iters):
        new = {}
        for v in g.nodes():
            nbrs = list(g.neighbors(v))
            if not nbrs:
                new[v] = labels[v]
                continue
            counts: dict[int, int] = {}
            for u in nbrs:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        if new == labels:
            return new
        labels = new
    return labels


def oracle_brandes_state(edges, source: int, directed=False):
    """Sequential Brandes per-source (dist, sigma, delta) dicts — the
    reference C implementation's state arrays [ALG]."""
    g = nx_graph(edges, directed)
    from collections import deque

    dist = {source: 0}
    sigma = {source: 1.0}
    order = []
    q = deque([source])
    while q:
        u = q.popleft()
        order.append(u)
        for v in g.neighbors(u) if not directed else g.successors(u):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
            if dist[v] == dist[u] + 1:
                sigma[v] = sigma.get(v, 0.0) + sigma[u]
    delta = {v: 0.0 for v in dist}
    for w in reversed(order):
        for v in g.neighbors(w) if not directed else g.predecessors(w):
            if dist.get(v, -1) == dist[w] - 1:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
    return dist, sigma, delta


def md5_priority(salt: str, v: int) -> str:
    """The symmetry-breaking priority of MIS and coloring, compared as a
    string: ``md5(salt || v)`` hex, then ``v`` zero-padded to 12 digits."""
    return hashlib.md5(f"{salt}{v}".encode()).hexdigest() + ":" + str(v).zfill(12)


def _adjacency(edges) -> dict[int, set[int]]:
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    return adj


def _local_minima(adj, undecided: set[int], prio: dict[int, str]) -> set[int]:
    return {
        v for v in undecided
        if all(prio[v] < prio[u] for u in adj[v] if u in undecided)
    }


def luby_mis_replay(edges) -> dict[int, tuple[str, int]]:
    """{vertex: (status, round)} of Luby MIS replayed round by round: each
    round the undecided local minima of the ``mis:`` priority join (``in``)
    and their undecided neighbours leave (``out``)."""
    adj = _adjacency(edges)
    prio = {v: md5_priority("mis:", v) for v in adj}
    undecided, out, k = set(adj), {}, 0
    while undecided:
        k += 1
        won = _local_minima(adj, undecided, prio)
        for v in won:
            out[v] = ("in", k)
            for u in (adj[v] & undecided) - won:
                out[u] = ("out", k)
        undecided -= set(out)
    return out


def jones_plassmann_replay(edges) -> dict[int, tuple[int, int]]:
    """{vertex: (color, round)} of Jones-Plassmann coloring replayed round by
    round: each round the uncolored local minima of the ``col:`` priority
    take the smallest color no neighbour colored in an earlier round has."""
    adj = _adjacency(edges)
    prio = {v: md5_priority("col:", v) for v in adj}
    undecided, out, k = set(adj), {}, 0
    while undecided:
        k += 1
        won = _local_minima(adj, undecided, prio)
        for v in won:
            used = {out[u][0] for u in adj[v] if u in out}
            out[v] = (min(set(range(len(used) + 1)) - used), k)
        undecided -= won
    return out


def df_to_dict(df, k, v):
    return {row[k]: row[v] for row in df.collect()}


def assert_scores_close(got: dict, want: dict, atol=1e-6):
    keys = set(want)
    assert set(got) >= keys, f"missing vertices: {keys - set(got)}"
    g = np.array([got[k] for k in sorted(keys)], dtype=float)
    w = np.array([want[k] for k in sorted(keys)], dtype=float)
    assert np.allclose(g, w, atol=atol), (
        f"max abs diff {np.abs(g - w).max()}"
    )


def _job_ids(spark, action):
    """(result, ids of the Spark jobs) of ``action()``, found through a job
    group and the status tracker."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc._jsc.clearJobGroup()
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _jobs_run(spark, action):
    """(result, number of Spark jobs) of ``action()``."""
    out, ids = _job_ids(spark, action)
    return out, len(ids)
