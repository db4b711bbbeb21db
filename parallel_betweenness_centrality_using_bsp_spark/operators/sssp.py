"""Weighted single-source shortest paths — frontier-based Bellman-Ford as
BSP supersteps (the weighted sibling of the BFS kernel; beyond the
north-rule algorithm list).

One superstep = one relaxation round, but only the *frontier* — the rows
whose distance improved last round — sends messages:

    msgs      = frontier ⋈ edges            (dist(u) + w(u,v) per out-edge)
    cand      = min-agg of msgs             (best offer per (source, vertex))
    new state = state FULL OUTER cand       (keep the smaller; strictly
                                             smaller ⇒ next round's frontier)

This computes the identical per-round state as dense Bellman-Ford (a vertex
whose distance did not change re-sends exactly the messages it sent the
round before, which cannot improve anything), so after k rounds the state
still holds the minimum cost over paths of ≤ k hops — the oracle-matched
quantity — while the per-round work tracks the frontier size, not the full
state.  On long-diameter graphs (chains, road networks) the frontier is a
tiny fraction of the state after the first rounds; the r2 implementation
re-unioned and re-aggregated the FULL state every round, which is why it
was the most expensive bench kernel.

Scale notes:
  * edges are min-combined per (src, dst), partitioned by src ONCE and
    persisted — each round shuffles only frontier-sized messages onto that
    layout.
  * the merge is a full-outer join on (source, vertex); the min-agg of the
    candidate side already hash-partitions it on exactly those keys, and
    the materialized state keeps its partitioning in the localCheckpoint
    fast path, so neither side re-shuffles in steady state.  (The parquet
    checkpoint path re-reads state without bucketing metadata and pays one
    exchange; at cluster scale a bucketed state table removes it.)
  * the loop runs under ``plans.superstep.superstep_loop`` and inherits
    parquet checkpointing, mid-iteration resume and per-superstep
    lineage + metrics — the north rule's resumability contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import _weighted_pairs
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import SuperstepRun, superstep_loop


def sssp_run(
    spark: SparkSession,
    weighted_edges: DataFrame,
    sources: list[int],
    *,
    max_hops: int = 30,
    directed: bool = False,
    num_partitions: int | None = None,
    early_stop: bool = True,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    frontier_sizes: list[int] | None = None,
    bucket_state: bool = False,
    delta_width: int | None = None,
) -> SuperstepRun:
    """Full superstep run; state is (source long, vertex long, dist long,
    improved boolean) — ``improved`` marks rows still awaiting processing.

    ``weighted_edges`` is (src, dst, w) with non-negative integral weights
    (long) — integer costs keep every engine bit-exact.  ``early_stop=False``
    runs exactly ``max_hops`` rounds (the oracle-matched mode: min cost over
    ≤ max_hops-hop paths).  ``checkpoint_dir``/``run_id`` +
    ``resume_state``/``start_step`` (from ``plans.superstep.latest_checkpoint``)
    restart a crashed run mid-iteration, like pagerank.  Pass a list as
    ``frontier_sizes`` to record the per-round frontier row count (one extra
    tiny count job per round — test/diagnostic use).  ``bucket_state=True``
    (requires ``checkpoint_dir``) lands each round's state as a parquet
    table bucketed+sorted on (source, vertex), so the next round's
    full-outer merge skips the state-side exchange and sort — the layout
    for cluster-scale runs.

    ``delta_width`` (Δ) enables **delta-stepping** (Meyer & Sanders 2003,
    recast as a BSP frontier predicate): each round relaxes only improved
    rows whose tentative distance falls inside the current per-source
    bucket ``[0, (floor(min_improved/Δ)+1)·Δ)``; improved rows beyond it
    stay queued (``improved`` persists) until their bucket opens.  The
    fixpoint is IDENTICAL for any Δ — state decreases monotonically to
    the true SSSP distances — Δ only tunes rounds vs wasted work:
    Δ=∞ (None) is plain frontier Bellman-Ford (rounds = shortest-path hop
    diameter, but far-away vertices get relaxed early with non-final
    distances and must re-send corrections); Δ=1 with integral weights is
    Dijkstra's bucket order (every vertex relaxed exactly once with its
    FINAL distance — minimum total shuffle volume, rounds = number of
    nonempty distance buckets).  At cluster scale, where a round's cost is
    its shuffle volume rather than its fixed job overhead, a Δ around the
    mean edge weight bounds the wasted-relaxation blowup on wide-weight
    graphs; the bucket limit itself is a |sources|-row broadcast aggregate
    computed in-plan — no extra driver round trips.
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    # min weight per pair, partitioned by src once; the first relaxation
    # fills the cache
    e = _weighted_pairs(weighted_edges, directed).repartition(p, "src").persist()

    initial = spark.createDataFrame(
        [(int(s), int(s), 0, True) for s in sources],
        "source long, vertex long, dist long, improved boolean",
    ).repartition(p, "source", "vertex")

    def step(state: DataFrame, _k: int) -> DataFrame:
        imp = state.where(F.col("improved"))
        if delta_width is None:
            frontier = imp.select("source", "vertex", "dist")
        else:
            lim = imp.groupBy("source").agg(
                ((F.floor(F.min("dist") / delta_width) + 1) * delta_width).alias(
                    "lim"
                )
            )
            frontier = (
                imp.join(F.broadcast(lim), "source")
                .where(F.col("dist") < F.col("lim"))
                .select("source", "vertex", "dist")
            )
        if frontier_sizes is not None:
            frontier_sizes.append(frontier.count())
        cand = (
            frontier.join(e, frontier.vertex == e.src)
            .select(
                "source",
                e.dst.alias("vertex"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("source", "vertex")
            .agg(F.min("dist").alias("dist"))
        )
        s, c = state.alias("s"), cand.alias("c")
        better = F.col("s.dist").isNull() | (F.col("c.dist") < F.col("s.dist"))
        newly = F.col("c.dist").isNotNull() & better
        merged = s.join(c, ["source", "vertex"], "full_outer")
        if delta_width is None:
            improved_out = newly
        else:
            # rows improved but OUTSIDE the current bucket were not
            # processed this round — they stay queued for a later bucket
            lim2 = (
                state.where(F.col("improved"))
                .groupBy("source")
                .agg(
                    (
                        (F.floor(F.min("dist") / delta_width) + 1) * delta_width
                    ).alias("lim")
                )
                .alias("L")
            )
            merged = merged.join(F.broadcast(lim2), ["source"], "left")
            pending = (
                F.col("s.improved")
                & F.col("L.lim").isNotNull()
                & (F.col("s.dist") >= F.col("L.lim"))
            )
            improved_out = newly | F.coalesce(pending, F.lit(False))
        return merged.select(
            "source",
            "vertex",
            F.when(newly, F.col("c.dist")).otherwise(F.col("s.dist")).alias("dist"),
            improved_out.alias("improved"),
        )

    run = superstep_loop(
        spark,
        resume_state if resume_state is not None else initial,
        step,
        algo="sssp" if delta_width is None else "sssp_delta",
        max_supersteps=max_hops,
        converge_on=F.count_if("improved") if early_stop else None,
        converged_fn=(lambda _prev, left: left == 0) if early_stop else None,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
        bucket_state_by=["source", "vertex"] if bucket_state else None,
    )
    e.unpersist()
    return run


def sssp(
    spark: SparkSession,
    weighted_edges: DataFrame,
    sources: list[int],
    *,
    max_hops: int = 30,
    directed: bool = False,
    num_partitions: int | None = None,
    early_stop: bool = True,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    delta_width: int | None = None,
) -> DataFrame:
    """(source long, vertex long, dist long) — min path cost from each
    source over paths of ≤ ``max_hops`` hops (exact SSSP once the fixpoint
    is reached; unreachable vertices are absent).  ``delta_width`` enables
    delta-stepping (see :func:`sssp_run`); note bucketed rounds are counted
    against ``max_hops`` too, so raise the cap when Δ is much smaller than
    the weighted diameter."""
    run = sssp_run(
        spark,
        weighted_edges,
        sources,
        max_hops=max_hops,
        directed=directed,
        num_partitions=num_partitions,
        early_stop=early_stop,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        delta_width=delta_width,
    )
    return run.state.select("source", "vertex", "dist")
