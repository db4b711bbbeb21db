"""Weisfeiler-Lehman color refinement (1-WL) — structural vertex
fingerprints.

The 1-dimensional Weisfeiler-Lehman iteration (Weisfeiler & Lehman 1968;
the feature map behind WL graph kernels, Shervashidze et al. JMLR 2011,
and the expressiveness ceiling of message-passing GNNs, Xu et al. ICLR
2019):

    c_0(v)     = degree(v)
    c_{t+1}(v) = HASH(c_t(v), {{ c_t(u) : u ∈ N(v) }})   (a MULTISET)

Vertices with different colors after t rounds are provably NOT mapped to
each other by any isomorphism; the color classes are the canonical
structural-role features (role discovery, graph-kernel features,
candidate pruning for subgraph matching).

The textbook HASH sorts the neighbor multiset and hashes the
concatenation — which at 100 TB means a per-vertex sort whose width is a
hub's degree.  We use the standard commutative-hash variant instead:

    pair(c, k)  = md5_60(c || '#' || k)        per DISTINCT neighbor color
                                               c with multiplicity k
    c_{t+1}(v)  = md5_60(c_t(v) || '|' || Σ pair)

The Σ runs over distinct colors (the LPA/coreness hub-compression
pre-aggregation), is order-independent (sum), and is accumulated as
DECIMAL(38,0) — exact, no overflow, no float — so the DuckDB twin
(HUGEINT sum) replays it bit-for-bit.  Two vertices collide across
different multisets only with ~2^-60 probability per pair — the same
trade every hash-based WL implementation makes; equal true WL colors
always map to equal colors here (the hash input is a pure function of
the multiset), so refinement structure is preserved.

``md5_60`` is the engine-portable 60-bit md5 integer
(functions/hashing.py::md5_token_value) — identical in Spark and DuckDB,
so the contract twin unrolls the identical rounds.

Per superstep: one edge⋈state join, two hash aggregations, one join for
the own color — all map-side-combined JVM ops, state is one (vertex,
color) row per vertex.  Runs under ``superstep_loop`` (checkpoint /
resume / bucket_state inherited).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.functions.hashing import md5_token_value
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import SuperstepRun, superstep_loop


def wl_refinement_run(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 3,
    *,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    bucket_state: bool = False,
) -> SuperstepRun:
    """Full superstep run; state is (vertex long, c long) — the WL color
    after each round (c_0 = degree)."""
    p = num_partitions or spark.sparkContext.defaultParallelism
    e = symmetrize(edges).repartition(p, "src").persist()
    e.count()

    initial = e.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )

    def step(cur: DataFrame, _round: int) -> DataFrame:
        msgs = e.join(
            cur.select(F.col("vertex").alias("dst"), "c"), "dst"
        ).select("src", "c")
        pairs = msgs.groupBy("src", "c").agg(F.count(F.lit(1)).alias("k"))
        pair_hash = md5_token_value(
            F.concat(
                F.col("c").cast("string"), F.lit("#"), F.col("k").cast("string")
            )
        )
        totals = (
            pairs.select("src", pair_hash.alias("ph"))
            .groupBy("src")
            .agg(F.sum(F.col("ph").cast("decimal(38,0)")).alias("total"))
        )
        return totals.join(
            cur.select(F.col("vertex").alias("src"), F.col("c").alias("own")),
            "src",
        ).select(
            F.col("src").alias("vertex"),
            md5_token_value(
                F.concat(
                    F.col("own").cast("string"),
                    F.lit("|"),
                    F.col("total").cast("string"),
                )
            ).alias("c"),
        )

    run = superstep_loop(
        spark,
        resume_state if resume_state is not None else initial,
        step,
        algo="wl",
        max_supersteps=rounds,
        converged_fn=None,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
        bucket_state_by=["vertex"] if bucket_state else None,
    )
    e.unpersist()
    return run


def wl_refinement(
    spark: SparkSession,
    edges: DataFrame,
    rounds: int = 3,
    *,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> DataFrame:
    """(vertex long, color long): the WL color after ``rounds`` rounds.
    Group by color for structural-role classes; count distinct colors per
    round for the refinement ladder."""
    run = wl_refinement_run(
        spark,
        edges,
        rounds,
        num_partitions=num_partitions,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
    )
    return run.state.select("vertex", F.col("c").alias("color"))
