"""Strongly connected components — the coloring (Orzan) algorithm as
nested BSP loops, the directed-graph sibling of connected components.

Outer superstep (state ``(vertex, scc)``, scc null while unassigned; on
the still-unassigned subgraph):

  1. **Color propagation** (inner loop run): ``color(v)`` starts as ``v``
     and takes the max over itself and its in-neighbors' colors until the
     fixpoint — after it, ``color(v) = max(ancestors(v) ∪ {v})``.  This is
     the hash-max twin of the components kernel: one frontier-driven join +
     max-aggregation per superstep, only CHANGED colors propagate.
  2. **Pivots**: vertices with ``color(v) == v`` (no larger ancestor).
  3. **Backward reach** (inner loop run): from each pivot c, BFS along
     REVERSED edges restricted to color-class c.  Every reached vertex is
     in the SCC of c (it reaches c forward via the color certificate, and
     c reaches it backward) — all pivot classes expand in parallel in one
     joint frontier keyed by color.
  4. Label those SCCs into the state, peel their edges, repeat.

Each outer round assigns ≥1 SCC per color class containing a pivot.
Colors are (xxhash64(vertex), vertex) PAIRS, max-compared
lexicographically: the hash component randomizes the pivot order so the
adversarial O(n)-round case (a chain whose ids decrease along the edges,
where plain vertex-id colors elect one pivot per round) becomes a
hash-order chain — expected O(log n) outer rounds on ANY id layout — and
the vertex component makes every color unique, so correctness never
depends on hash collisions.  SCC labels are still canonicalized to the
MINIMUM member id afterwards, so output is engine-independent and
identical to the unpermuted algorithm's.

Each loop's barrier is its superstep's only checkpoint; the inner loops
move only frontier-sized deltas over the round's persisted edge set.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import _observed_rows
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import endpoints
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import guard_stats, superstep_loop


def _propagate(color: DataFrame, e: DataFrame) -> DataFrame:
    """One max-color superstep: changed colors push along out-edges."""
    msgs = (
        color.where("_chg")
        .join(e, F.col("vertex") == e.src)
        .groupBy(e.dst.alias("vertex"))
        .agg(F.max("color").alias("cand"))
    )
    return color.join(msgs, "vertex", "left").select(
        "vertex",
        F.greatest("color", "cand").alias("color"),
        F.coalesce(F.col("cand") > F.col("color"), F.lit(False)).alias("_chg"),
    )


def _reach(members: DataFrame, colored_e: DataFrame) -> DataFrame:
    """One backward-reach superstep along reversed same-color edges."""
    f = members.where("_new")
    msgs = f.join(
        colored_e,
        (f.vertex == colored_e.r_src) & (f.color == colored_e.color),
    ).select(F.col("r_dst").alias("vertex"), colored_e.color, F.lit(True).alias("_new"))
    return (
        members.select("vertex", "color", F.lit(False).alias("_new"))
        .unionByName(msgs)
        .groupBy("vertex", "color")
        .agg(F.min("_new").alias("_new"))
    )


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    num_partitions: int | None = None,
    max_outer_rounds: int = 200,
) -> DataFrame:
    """(vertex long, scc long) — scc is the minimum vertex id in the
    vertex's strongly connected component.  Vertices are the src ∪ dst of
    the directed edge set; self-loops and parallel edges are tolerated."""
    p = num_partitions or spark.sparkContext.defaultParallelism
    rounds_e = [  # the current round's edge set last
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(p, "src")
        .persist()
    ]
    verts, obs = _observed_rows(
        endpoints(edges).distinct().select("vertex", F.lit(None).cast("long").alias("scc"))
    )
    left: list[int] = []  # unassigned vertices after each round

    def stop(_, n: int) -> bool:
        left.append(n)
        return n == 0

    def peel(state: DataFrame, _k: int) -> DataFrame:
        if (left[-1] if left else obs.get["rows"]) == 0:
            return state  # nothing left to assign
        e = rounds_e[-1]
        # -- 1. forward max-color propagation to fixpoint ------------------
        # color = struct(h = xxhash64(vertex), v = vertex): max over the
        # struct is lexicographic, so propagation order follows the HASH
        # (adversarial id orderings vanish) while the v field keeps every
        # color unique (no correctness-by-luck on 64-bit collisions).
        color = superstep_loop(
            spark,
            state.where(F.col("scc").isNull()).select(
                "vertex",
                F.struct(F.xxhash64("vertex").alias("h"), F.col("vertex").alias("v")).alias("color"),
                F.lit(True).alias("_chg"),
            ),
            lambda c, _k: _propagate(c, e),
            algo="scc_color",
            max_supersteps=sys.maxsize,
            converge_on=F.count_if("_chg"),
            converged_fn=lambda _prev, n: n == 0,
        ).state.drop("_chg")
        for old in rounds_e[:-1]:  # e is filled now: its parent can go
            old.unpersist()
        del rounds_e[:-1]

        # -- 2/3. backward reach from pivots within each color class -------
        # member (vertex, color); pivot classes expand along reversed edges
        # restricted to same-color endpoints, all classes at once
        colored_e = (
            e.join(color.withColumnRenamed("vertex", "src").withColumnRenamed("color", "sc"), "src")
            .join(color.withColumnRenamed("vertex", "dst").withColumnRenamed("color", "dc"), "dst")
            .where(F.col("sc") == F.col("dc"))
            .select(F.col("dst").alias("r_src"), F.col("src").alias("r_dst"), F.col("sc").alias("color"))
            .persist()
        )
        try:
            members = superstep_loop(
                spark,
                color.where(F.col("vertex") == F.col("color.v")).select(
                    "vertex", "color", F.lit(True).alias("_new")
                ),
                lambda m, _k: _reach(m, colored_e),
                algo="scc_reach",
                max_supersteps=sys.maxsize,
                converge_on=F.count_if("_new"),
                converged_fn=lambda _prev, n: n == 0,
            ).state
        finally:
            colored_e.unpersist()

        # -- 4. canonicalize labels, peel, induce the rest -----------------
        labels = (
            members.groupBy("color")
            .agg(F.min("vertex").alias("_scc"))
            .join(members, "color")
            .select("vertex", "_scc")
        )
        rounds_e.append(
            e.join(labels.select(F.col("vertex").alias("src")), "src", "left_anti")
            .join(labels.select(F.col("vertex").alias("dst")), "dst", "left_anti")
            .persist()
        )
        return state.join(labels, "vertex", "left").select(
            "vertex", F.coalesce("scc", "_scc").alias("scc")
        )

    try:
        run = superstep_loop(
            spark, verts, peel, algo="scc", max_supersteps=max_outer_rounds,
            converge_on=F.count_if(F.col("scc").isNull()), converged_fn=stop,
        )
    finally:
        for e in rounds_e:
            e.unpersist()
    n_left = left[-1] if left else obs.get["rows"]
    if not run.converged and n_left:
        # Partial labels would silently masquerade as complete output.
        raise ValueError(
            f"strongly_connected_components did not assign {n_left} "
            f"vertices within max_outer_rounds={max_outer_rounds} — "
            "raise the cap (hash-randomized colors make this "
            "vanishingly unlikely on non-degenerate graphs)"
        )
    return run.state


def condense(spark: SparkSession, edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(src long, dst long) — the SCC condensation DAG: every edge mapped
    to its endpoints' SCC labels, self-SCC edges dropped, deduplicated.
    ``labels`` is ``strongly_connected_components`` output."""
    return (
        edges.select("src", "dst")
        .join(labels.select(F.col("vertex").alias("src"), F.col("scc").alias("sa")), "src")
        .join(labels.select(F.col("vertex").alias("dst"), F.col("scc").alias("sb")), "dst")
        .where(F.col("sa") != F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def dag_longest_path_layers(
    spark: SparkSession,
    dag_edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    max_rounds: int = 10_000,
) -> DataFrame:
    """(vertex long, layer long) — longest-path depth from any source of a
    DAG (layer 0 = no in-edges): the topological layering a build system
    schedules by.  Iterative max-propagation; only vertices whose layer
    grew last round send messages, so each round's work is frontier-sized
    and the round count is the DAG's longest path.  Input MUST be acyclic
    (feed the SCC condensation for arbitrary graphs) — a cycle would never
    converge, so rounds are capped and overrunning raises."""
    e = dag_edges.select("src", "dst").dropDuplicates(["src", "dst"]).localCheckpoint(eager=True).transform(guard_stats)
    verts = vertices or endpoints(e).distinct()

    def step(state: DataFrame, _k: int) -> DataFrame:
        msgs = (
            state.where("_chg")
            .join(e, F.col("vertex") == e.src)
            .groupBy(e.dst.alias("vertex"))
            .agg(F.max(F.col("layer") + 1).alias("cand"))
        )
        return state.join(msgs, "vertex", "left").select(
            "vertex",
            F.greatest("layer", "cand").alias("layer"),
            F.coalesce(F.col("cand") > F.col("layer"), F.lit(False)).alias("_chg"),
        )

    run = superstep_loop(
        spark,
        verts.select("vertex", F.lit(0).alias("layer"), F.lit(True).alias("_chg")),
        step,
        algo="dag_longest_path_layers",
        max_supersteps=max_rounds,
        converge_on=F.count_if("_chg"),
        converged_fn=lambda _prev, left: left == 0,
    )
    if run.converged:
        return run.state.select("vertex", "layer")
    raise ValueError(
        f"dag_longest_path_layers did not converge in {max_rounds} rounds — "
        "is the input really acyclic? (condense() cyclic graphs first)"
    )
