"""k-core decomposition — iterative peeling as BSP supersteps.

The k-core is the maximal subgraph where every vertex has degree ≥ k; it is
the standard graph-level quality/robustness filter (spam farms and
scrape-loop link tangles survive in high cores, long-tail pages don't).

One superstep = one peel round: degree aggregation over the surviving
induced edge set, then two semi-joins re-inducing it — all map-side-combined
hash operations on the edge table's own partitioning.  The survivor count is
strictly decreasing until the fixpoint, so the count observed on each
round's barrier job detects convergence; ``fixed_rounds`` runs an exact
round count instead (the oracle-matched mode: after R rounds both engines
hold the identical R-times-peeled subgraph whether or not it has
converged).

The loop runs under ``plans.superstep.superstep_loop`` (state = the current
induced edge set), so with ``checkpoint_dir`` set every peel round lands as
a resumable parquet checkpoint with lineage + metrics — a crashed long peel
continues from the newest complete round via
``plans.superstep.latest_checkpoint`` instead of recomputing from scratch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import SuperstepRun, superstep_loop


def k_core_run(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 3,
    *,
    max_rounds: int = 100,
    fixed_rounds: int | None = None,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
) -> SuperstepRun:
    """Full superstep run; state is the surviving induced edge set
    (src long, dst long), symmetrized.

    ``resume_state``/``start_step`` (from ``latest_checkpoint(spark, dir,
    "kcore", run_id)``) restart a crashed checkpointed run mid-peel.
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    initial = symmetrize(edges).repartition(p, "src")

    def step(cur: DataFrame, _round: int) -> DataFrame:
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("src")
        return cur.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )

    return superstep_loop(
        spark,
        resume_state if resume_state is not None else initial,
        step,
        algo="kcore",
        max_supersteps=fixed_rounds if fixed_rounds is not None else max_rounds,
        # the survivor count strictly decreases until the fixpoint
        converge_on=None if fixed_rounds is not None else F.count(F.lit(1)),
        converged_fn=None if fixed_rounds is not None else lambda prev, n: prev == n,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
    )


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 3,
    *,
    max_rounds: int = 100,
    fixed_rounds: int | None = None,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> DataFrame:
    """(vertex long, deg long): vertices surviving k-core peeling with
    their degree in the peeled subgraph (symmetrized; degree counts each
    neighbor once)."""
    run = k_core_run(
        spark,
        edges,
        k,
        max_rounds=max_rounds,
        fixed_rounds=fixed_rounds,
        num_partitions=num_partitions,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
    )
    return run.state.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("deg")
    )
