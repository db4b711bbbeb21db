"""Multi-source BFS — the reference's per-source ``dist[]`` array as a
standalone operator (SURVEY.md §2 A6/A8/A9 surfaced directly).

``bfs_levels`` runs the BFS levels on ``plans/superstep.py::superstep_loop``;
``bfs_distances`` projects its levels to distances and
``betweenness.betweenness_bsp`` runs its forward phase on them.  One BFS
level == one superstep == one checkpoint job wave: the frontier×edges hash
join is the message exchange, one combining aggregate drops the
already-visited vertices, and the loop's barrier is the level's
checkpoint.  The counts the level steers by (messages sent, level rows)
are ``DataFrame.observe`` metrics of that same job, so no level runs a
second action.  Small frontiers are broadcast.  State is keyed by (source,
vertex) so a batch of sources advances in the same wave of jobs.
"""

from __future__ import annotations

import sys
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import _traversal_pairs
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import endpoints
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import traversal_edges
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import superstep_loop

_BROADCAST_FRONTIER_MAX = 500_000  # rows; below this, hint broadcast of the frontier


def source_frame(spark: SparkSession, ids, num_slices: int = 1) -> DataFrame:
    """``(source long)``, one row per id of a driver-side list, already split
    into ``num_slices`` partitions: a range of positions indexes a literal
    array, so the table needs no shuffle to spread and reading it needs no
    Python worker (a ``createDataFrame`` of the list runs one per read).
    The array is one string literal that the optimizer folds, because a
    ``F.lit`` per id costs one py4j round trip each (1-3 ms); ``try_cast``
    only matters for an empty list, whose one piece is ``''``."""
    ids = [int(s) for s in ids]
    lits = F.split(F.lit(",".join(map(str, ids))), ",").try_cast("array<long>")
    return spark.range(0, len(ids), 1, num_slices).select(lits[F.col("id")].alias("source"))


def prepare_adjacency(
    spark: SparkSession, edges: DataFrame, directed: bool, num_partitions: int | None
) -> DataFrame:
    """``traversal_edges`` hash-partitioned by src and persisted: the table
    every BFS level joins its frontier against.  The dedup runs after the
    src exchange, which already clusters each (src, dst) pair, so the build
    shuffles once.  The cache fills inside the first job that reads it, so
    building it costs no action of its own."""
    p = num_partitions or spark.sparkContext.defaultParallelism
    return (
        _traversal_pairs(edges, directed)
        .repartition(p, "src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )


def _observed_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row-count observation, read after its next action."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


_FOLD_EVERY = 8  # pending levels IncrementalVisited holds before folding


class IncrementalVisited:
    """A BFS's visited (source, vertex) rows: the marker rows each level's
    combining aggregate drops.  One folded base plus at most ``_FOLD_EVERY``
    checkpointed levels, folded into one checkpoint when more arrive, keeps
    a level's plan O(1) at any depth (re-unioning every level is O(depth²))."""

    def __init__(self):
        self._parts: list[DataFrame] = []

    def df(self) -> DataFrame:
        return reduce(DataFrame.unionByName, self._parts)

    def add(self, level: DataFrame) -> None:
        self._parts.append(level.select("source", "vertex"))
        if len(self._parts) > _FOLD_EVERY:
            self._parts = [self.df().localCheckpoint(eager=True)]


def bfs_levels(
    start: DataFrame, e: DataFrame, max_depth: int | None = None
) -> tuple[list[DataFrame], list[int], int]:
    """Expand the ``(source, vertex, dist, sigma)`` start frontier over the
    ``prepare_adjacency`` table ``e``, one level per superstep.

    Returns ``(levels, sizes, messages)``.  ``levels[d]`` is the checkpointed
    set of rows first reached at distance d, each with ``sigma`` = the sum of
    its parents' ``sigma`` (with sigma 1 at the start: Brandes' shortest-path
    counts); ``sizes[d]`` is its row count and ``messages`` the number of
    frontier×edges messages sent.  The loop stops at the first empty level,
    which is not returned unless it is the start, or after ``max_depth``
    levels.

    The loop's state is the frontier; the step records each level it is
    handed.  A level is one job wave: the messages and the visited set (as
    marker rows) meet in one ``groupBy("source", "vertex")`` that sums sigma
    (combining messages map-side) and keeps the groups without a marker;
    its barrier job observes the level's rows and the messages sent.
    """
    start, obs = _observed_rows(start)
    reached: list[int] = []  # levels 1.., counted on the loop's own barrier
    sent: list[Observation] = []
    levels: list[DataFrame] = []
    visited = IncrementalVisited()

    def stop(_, n: int) -> bool:
        reached.append(n)
        return n == 0

    def expand(frontier: DataFrame, d: int) -> DataFrame:
        levels.append(frontier)
        visited.add(frontier)
        n = reached[-1] if reached else obs.get["rows"]
        if n == 0:  # an empty start is never expanded
            return frontier
        f = F.broadcast(frontier) if n <= _BROADCAST_FRONTIER_MAX else frontier
        msgs, msgs_obs = _observed_rows(
            f.join(e, f.vertex == e.src).select("source", e.dst.alias("vertex"), "sigma")
        )
        sent.append(msgs_obs)
        marks = visited.df().withColumn("seen", F.lit(True))
        return (
            msgs.unionByName(marks, allowMissingColumns=True)
            .groupBy("source", "vertex")
            .agg(F.sum("sigma").alias("sigma"), F.max("seen").alias("seen"))
            .where(F.col("seen").isNull())
            .select("source", "vertex", F.lit(d).alias("dist"), "sigma")
        )

    run = superstep_loop(
        start.sparkSession, start, expand, algo="bfs",
        max_supersteps=sys.maxsize if max_depth is None else max_depth,
        converge_on=F.count(F.lit(1)), converged_fn=stop,
    )
    if not run.converged:  # stopped at max_depth, on a level not yet recorded
        levels.append(run.state)
    sizes = ([obs.get["rows"]] + reached)[: len(levels)]
    return levels, sizes, sum(m.get["rows"] for m in sent)


def bfs_distances(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int],
    *,
    directed: bool = False,
    num_partitions: int | None = None,
    max_depth: int | None = None,
) -> DataFrame:
    """(source long, vertex long, dist int) for every vertex reachable from
    each source (unreachable vertices are absent)."""
    e = prepare_adjacency(spark, edges, directed, num_partitions)
    start = source_frame(spark, sources).select(
        "source",
        F.col("source").alias("vertex"),
        F.lit(0).alias("dist"),
        F.lit(1.0).alias("sigma"),
    )
    levels, _, _ = bfs_levels(start, e, max_depth)
    out = reduce(DataFrame.unionByName, levels)
    e.unpersist()
    return out.drop("sigma")


def double_sweep_diameter(
    spark: SparkSession,
    edges: DataFrame,
    *,
    start: int | None = None,
    directed: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """One-row (far_vertex, ecc_lb, n_reached): the double-sweep diameter
    lower bound (Magnien-Latapy-Habib) — BFS from a start vertex (minimum
    id by default), then BFS from the farthest vertex found (ties → lowest
    id); that vertex's eccentricity lower-bounds the diameter and is exact
    on trees.  Two BFS waves total, each the standard frontier plan; the
    only driver-side values are two scalar vertex ids.
    """
    if start is None:
        start = endpoints(edges).agg(F.min("vertex")).first()[0]
    d1 = bfs_distances(
        spark, edges, [int(start)], directed=directed, num_partitions=num_partitions
    )
    far = d1.orderBy(F.desc("dist"), F.asc("vertex")).select("vertex").first()[0]
    d2 = bfs_distances(
        spark, edges, [int(far)], directed=directed, num_partitions=num_partitions
    )
    return d2.agg(
        F.lit(int(far)).cast("long").alias("far_vertex"),
        F.max("dist").alias("ecc_lb"),
        F.count(F.lit(1)).alias("n_reached"),
    )


def _closeness(d: DataFrame, edges: DataFrame, wf_improved: bool) -> DataFrame:
    """``(vertex, reached, closeness)`` from the ``(source, vertex, dist)``
    distances ``d`` over the graph ``edges``: reached/Σdist per vertex,
    scaled by reached/(n - 1) when ``wf_improved`` (Wasserman-Faust)."""
    n = endpoints(edges).distinct().count()
    agg = d.where(F.col("dist") > 0).groupBy("vertex").agg(
        F.count(F.lit(1)).alias("reached"),
        F.sum("dist").alias("_s"),
    )
    base = F.col("reached").cast("double") / F.col("_s").cast("double")
    if wf_improved and n > 1:
        base = base * (F.col("reached").cast("double") / F.lit(float(n - 1)))
    return agg.select("vertex", "reached", base.alias("closeness"))


def closeness_sampled(
    spark: SparkSession,
    edges: DataFrame,
    sources: list[int],
    *,
    directed: bool = False,
    num_partitions: int | None = None,
    wf_improved: bool = True,
) -> DataFrame:
    """Sampled closeness centrality from incoming BFS distances.

    For each vertex v reached by k_v of the sampled sources at total
    distance S_v = Σ d(s, v)::

        closeness(v) = (k_v - [v ∈ sample]) / S_v

    optionally scaled by the Wasserman-Faust reached-fraction correction
    ``(k_v - 1) / (n - 1)`` (``wf_improved``, the NetworkX default) so
    scores are comparable across components.  With ``sources`` = every
    vertex on an undirected graph this IS ``networkx.closeness_centrality``
    (incoming and outgoing distances coincide); a sample gives the
    standard unbiased estimator shape, same rationale as sampled
    betweenness/harmonic.  One multi-source BFS wave + one aggregation —
    no new plan primitive.

    Returns ``(vertex long, reached long, closeness double)`` over
    vertices reached by ≥1 source at distance > 0.
    """
    d = bfs_distances(
        spark, edges, sources, directed=directed, num_partitions=num_partitions
    )
    return _closeness(d, edges, wf_improved)


def shortest_path(
    spark: SparkSession,
    edges: DataFrame,
    src: int,
    dst: int,
    *,
    directed: bool = False,
    num_partitions: int | None = None,
    max_depth: int | None = None,
) -> DataFrame:
    """(pos int, vertex long) — ONE canonical shortest path from ``src`` to
    ``dst`` (empty if unreachable): the unique path obtained by always
    stepping to the MINIMUM-id predecessor, so the answer is deterministic
    in any engine (no tie luck).

    Plan: one multi-source-machinery BFS (single source) for dist; ONE join
    derives the canonical parent map — parent(v) = min{u : u→v,
    dist(u)+1 = dist(v)} — as a hash agg; then a length-of-path backtrack
    of 1-row broadcast lookups.  The backtrack is O(diameter) tiny jobs —
    the same round count any BSP kernel here pays — and the parent map it
    probes is vertex-keyed and persisted, never collected.  (For the
    all-paths "slice" rather than one path, filter dist_s(v) + dist_t(v) =
    dist(dst) instead — same machinery from both endpoints.)
    """
    dist = bfs_distances(
        spark,
        edges,
        [int(src)],
        directed=directed,
        num_partitions=num_partitions,
        max_depth=max_depth,
    ).select("vertex", "dist")
    target = dist.where(F.col("vertex") == dst).collect()
    if not target:
        return spark.createDataFrame([], "pos int, vertex long")
    plen = int(target[0]["dist"])

    e = traversal_edges(edges, directed)
    du = dist.select(F.col("vertex").alias("src"), F.col("dist").alias("du"))
    dv = dist.select(F.col("vertex").alias("dst"), F.col("dist").alias("dv"))
    parents = (
        e.join(du, "src")
        .join(dv, "dst")
        .where(F.col("du") + 1 == F.col("dv"))
        .groupBy(F.col("dst").alias("vertex"))
        .agg(F.min("src").alias("parent"))
        .persist()
    )
    parents.count()

    path = [(plen, int(dst))]
    cur = int(dst)
    for pos in range(plen - 1, -1, -1):
        cur = int(
            parents.where(F.col("vertex") == cur).collect()[0]["parent"]
        )
        path.append((pos, cur))
    parents.unpersist()
    assert cur == int(src)
    return spark.createDataFrame(sorted(path), "pos int, vertex long")


def ego_network(
    spark: SparkSession,
    edges: DataFrame,
    seed: int,
    *,
    radius: int = 2,
    directed: bool = False,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(members, induced_edges) of the radius-k ego network around ``seed``
    — the subgraph-sampling primitive a GNN training pipeline extracts per
    labeled node (GraphSAGE/PinSAGE neighborhoods).

    members: (vertex, dist) for dist ≤ radius (BFS hops, seed at 0);
    induced_edges: the edges with BOTH endpoints inside the ball.

    Plan: one depth-capped BFS wave (frontier joins — the bfs_distances
    kernel) + TWO semi joins to induce the edge set; the member table is
    ego-sized, so at 100 TB both semi joins broadcast the ball, never
    shuffling the full edge table.
    """
    members = bfs_distances(
        spark, edges, [int(seed)], directed=directed,
        num_partitions=num_partitions, max_depth=radius,
    ).select("vertex", "dist")
    e = edges.select("src", "dst")
    if not directed:
        e = symmetrize(edges)
    mv = members.select("vertex")
    induced = e.join(
        F.broadcast(mv).withColumnRenamed("vertex", "src"), "src", "left_semi"
    ).join(F.broadcast(mv).withColumnRenamed("vertex", "dst"), "dst", "left_semi")
    return members, induced.select("src", "dst")


def closeness_weighted_sampled(
    spark: SparkSession,
    weighted_edges: DataFrame,
    sources: list[int],
    *,
    directed: bool = False,
    num_partitions: int | None = None,
    wf_improved: bool = True,
    max_hops: int = 60,
    delta_width: int | None = None,
) -> DataFrame:
    """``closeness_sampled`` over WEIGHTED distances: the identical
    aggregation fed by the frontier Bellman–Ford kernel (``operators.sssp``)
    instead of BFS hops.  ``weighted_edges`` is (src, dst, w) with strictly
    positive integral weights; ``max_hops`` caps relaxation rounds exactly
    as in ``betweenness_weighted`` (≥ the deepest shortest path's hop count
    for exact distances — each run also early-stops at its fixpoint).
    ``delta_width`` threads delta-stepping through to :func:`sssp` — same
    fixpoint, bucketed relaxation order (raise ``max_hops`` accordingly)."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.sssp import sssp

    d = sssp(
        spark,
        weighted_edges,
        [int(s) for s in sources],
        directed=directed,
        num_partitions=num_partitions,
        max_hops=max_hops,
        delta_width=delta_width,
    )
    return _closeness(d, weighted_edges, wf_improved)
