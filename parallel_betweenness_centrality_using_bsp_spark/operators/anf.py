"""Approximate neighborhood function (ANF) — bottom-k sketches propagated
through BSP supersteps, the Palmer/Gibbons/Faloutsos ANF / HyperANF
(Boldi-Rosa-Vigna) family recast for DataFrame supersteps.

Answers "how many vertices are within h hops of v?" for EVERY v at once —
the primitive behind effective-diameter and ball-growth profiles of web
graphs, where exact per-vertex BFS balls (n² state) are impossible.

Sketch choice: **bottom-k (KMV)** rather than HLL registers.  A vertex's
sketch is the k smallest 60-bit hash values among the vertices of its
h-ball; merging two sketches is union + keep-k-smallest.  Every operation
is integer-exact — no leading-zero counts, no floating-point register
math — so the whole fixpoint is portable bit-for-bit across engines via
the ``md5_token_value`` hash family (`functions/hashing.py:109`), and the
gated query hash-matches a DuckDB twin replaying the identical rounds.

State is the long layout (vertex, h): ≤ k rows per vertex, n·k rows total.
One ``superstep_loop`` superstep per hop = one edge join (each vertex
inherits its neighbors' sketch rows) + distinct + per-vertex
keep-k-smallest:

    msgs   = state ⋈ und-edges          (neighbor sketch rows flow along edges)
    merged = state ∪ msgs, DISTINCT     (hash-value set union)
    state' = k smallest per vertex      (hash-partitioned window, never a
                                         single-partition sort)

Per-round shuffle is ≤ (k · m) message rows — the same budget HyperANF
pays per register — and the window partitions by vertex, so skew follows
the degree distribution and AQE's skew-join split applies.  The estimate
|ball| ≈ (k−1) · DOMAIN / kth_smallest (the standard KMV estimator) is
EXACT whenever the ball holds fewer than k distinct hashes (the sketch IS
the set), which is also what makes small-graph tests deterministic.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.functions.hashing import md5_token_value
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import superstep_loop

# md5_token_value yields 60-bit non-negative longs
DOMAIN = float(1 << 60)


def _vertex_hash(col) -> F.Column:
    return md5_token_value(F.concat(F.lit("nf:"), F.col(col).cast("string")))


def _hop_sketches(
    spark: SparkSession,
    edges: DataFrame,
    hops: int,
    k: int,
    num_partitions: int | None,
) -> list[DataFrame]:
    """The materialized sketch state after each hop 0..``hops``: one
    sketch propagation, each hop's state as the loop checkpointed it."""
    p = num_partitions or spark.sparkContext.defaultParallelism
    und = symmetrize(edges).repartition(p, "src").persist()
    w = Window.partitionBy("vertex").orderBy("h")
    states: list[DataFrame] = []

    def step(state: DataFrame, _k: int) -> DataFrame:
        states.append(state)
        # alias both sides: state's lineage includes und (its vertices do)
        msgs = (
            state.alias("st")
            .join(und.alias("un"), F.col("st.vertex") == F.col("un.src"))
            .select(F.col("un.dst").alias("vertex"), F.col("st.h").alias("h"))
        )
        return (
            state.unionByName(msgs)
            .distinct()
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .drop("_rn")
        )

    verts = und.select(F.col("src").alias("vertex")).distinct()
    run = superstep_loop(
        spark,
        verts.select("vertex", _vertex_hash("vertex").alias("h")),
        step,
        algo="anf",
        max_supersteps=hops,
    )
    und.unpersist()
    return states + [run.state]


def anf_sketches(
    spark: SparkSession,
    edges: DataFrame,
    hops: int,
    k: int = 32,
    num_partitions: int | None = None,
) -> DataFrame:
    """(vertex, h) bottom-k sketch rows after ``hops`` propagation rounds —
    the k smallest hashes over each vertex's ≤``hops``-ball (own hash
    included, hop 0)."""
    return _hop_sketches(spark, edges, hops, k, num_partitions)[-1]


def neighborhood_estimates(sketches: DataFrame, k: int = 32) -> DataFrame:
    """(vertex, n_hashes, ball_est): KMV estimate per vertex — exact
    (= n_hashes) while the sketch is unsaturated, (k−1)·DOMAIN/kth_min
    once full."""
    agg = sketches.groupBy("vertex").agg(
        F.count(F.lit(1)).alias("n_hashes"), F.max("h").alias("kth")
    )
    return agg.select(
        "vertex",
        "n_hashes",
        F.when(F.col("n_hashes") < k, F.col("n_hashes").cast("double"))
        .otherwise(F.lit((k - 1) * DOMAIN) / F.col("kth"))
        .alias("ball_est"),
    )


def neighborhood_function(
    spark: SparkSession,
    edges: DataFrame,
    hops: int,
    k: int = 32,
    num_partitions: int | None = None,
) -> DataFrame:
    """(hop, nf_est): estimated Σ_v |ball(v, hop)| for hop = 0..hops — the
    neighborhood function N(h).  Runs ONE sketch propagation and estimates
    after every round (each round's state is already materialized by the
    superstep's checkpoint, so the per-hop aggregates are scan-aggs)."""
    return reduce(DataFrame.unionByName, [
        neighborhood_estimates(state, k).agg(
            F.lit(hop).alias("hop"), F.sum("ball_est").alias("nf_est")
        )
        for hop, state in enumerate(_hop_sketches(spark, edges, hops, k, num_partitions))
    ])


def effective_diameter(
    spark: SparkSession,
    edges: DataFrame,
    max_hops: int,
    quantile: float = 0.9,
    k: int = 32,
    num_partitions: int | None = None,
) -> int:
    """Smallest h with N(h) ≥ quantile · N(max_hops) — the standard
    "90% effective diameter" read off the neighborhood function."""
    rows = sorted(
        neighborhood_function(spark, edges, max_hops, k, num_partitions).collect(),
        key=lambda r: r["hop"],
    )
    target = quantile * rows[-1]["nf_est"]
    for r in rows:
        if r["nf_est"] >= target:
            return int(r["hop"])
    return max_hops


def harmonic_sketch(
    spark: SparkSession,
    edges: DataFrame,
    hops: int,
    k: int = 32,
    num_partitions: int | None = None,
) -> DataFrame:
    """(vertex, harmonic_est): HyperBall-style approximate harmonic
    centrality for EVERY vertex (Boldi & Vigna 2014, with KMV in place of
    HLL counters):

        H(v) ≈ Σ_{h=1..hops} (|B(v,h)| − |B(v,h−1)|) / h

    — the number of vertices first reached at distance h, each weighted
    1/h.  This is the centrality the sampled-source closeness gates CANNOT
    give: those pay one BFS per source, this pays the one sketch
    propagation (k·m message rows per round) and reads every vertex's
    centrality off the per-hop ball sizes.  Exact while balls are
    unsaturated (< k hashes — the sketch IS the ball), the standard KMV
    estimate after; differences inherit the estimator's noise exactly as
    HyperBall's do.  All sketch arithmetic is integer-exact on the md5
    family, so a SQL twin replays it bit-for-bit."""
    all_balls = reduce(DataFrame.unionByName, [
        neighborhood_estimates(state, k).select(
            "vertex", F.lit(hop).alias("hop"), "ball_est"
        )
        for hop, state in enumerate(_hop_sketches(spark, edges, hops, k, num_partitions))
    ])
    wv = Window.partitionBy("vertex").orderBy("hop")
    return (
        all_balls.withColumn("_prev", F.lag("ball_est").over(wv))
        .where(F.col("hop") >= 1)
        .groupBy("vertex")
        .agg(
            F.sum(
                (F.col("ball_est") - F.col("_prev")) / F.col("hop")
            ).alias("harmonic_est")
        )
    )
