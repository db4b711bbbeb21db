"""Core-number decomposition — the neighborhood h-index fixpoint.

``k_core(k)`` (operators/kcore.py) answers "which vertices survive the
k-core?" for ONE k; the core number (coreness) answers it for every k at
once: core(v) = the largest k such that v belongs to the k-core.  It is the
standard per-vertex robustness/quality score on web link graphs (the dense
spam/scrape cores score high, long-tail pages score low) and the input to
core-ordered algorithms (our triangle orientation is the degree-ordered
approximation of it).

Algorithm: the h-index fixpoint of Lü, Chen, Ren, Zhang, Zhou & Stanley,
"The H-index of a network node and its relation to degree and coreness"
(Nature Communications 7, 10168, 2016):

    c_0(v)     = degree(v)
    c_{t+1}(v) = H({ c_t(u) : u ∈ N(v) })

where ``H`` is the h-index — the largest h such that at least h neighbors
have value ≥ h.  Starting from degrees the sequence is monotonically
non-increasing coordinate-wise and converges exactly to the core number.
Unlike the sequential min-degree peel (inherently ordered), every vertex
updates simultaneously from neighbor messages — the BSP superstep shape.

One superstep, all JVM-side hash ops:

1. message exchange: ``edges ⋈ state`` on dst → (src, neighbor value);
2. pre-aggregate to (src, value, count) — the same hub-compression trick
   as LPA's argmax: the window below then runs over DISTINCT VALUES per
   vertex, not neighbors, so a 10^8-degree hub contributes at most
   #distinct-core-values rows (≤ a few hundred on real graphs, shrinking
   as the iterate converges) instead of 10^8;
3. cumulative count of neighbors with value ≥ c (window over the distinct
   values, descending) and ``H = max(least(c, cum))`` — the h-index via
   the identity  H = max over distinct values c of min(c, #{values ≥ c}),
   exact because the maximizing threshold is always attained at a distinct
   value.

Convergence: each coordinate is non-increasing, so ``Σ c`` strictly
decreases until the fixpoint — an aggregate observed on each round's
barrier job detects it, with no job of its own.  ``fixed_rounds`` runs an
exact round count instead (the oracle-matched mode: after R rounds both engines
hold the identical R-times-iterated vector whether or not it converged).

Runs under ``plans.superstep.superstep_loop`` (state = (vertex, c)), so
checkpoint/resume/metrics and ``bucket_state_by`` come for free, exactly
as in pagerank/sssp/kcore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import SuperstepRun, superstep_loop


def coreness_run(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_rounds: int = 200,
    fixed_rounds: int | None = None,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    bucket_state: bool = False,
) -> SuperstepRun:
    """Full superstep run; state is (vertex long, c long) — the current
    h-index iterate, converging down to the core number.

    ``resume_state``/``start_step`` (from ``latest_checkpoint(spark, dir,
    "coreness", run_id)``) restart a crashed checkpointed run mid-iteration
    — the iterate is a pure function of the previous state, so resuming
    from round k continues the same trajectory.
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    e = symmetrize(edges).repartition(p, "src").persist()
    e.count()

    initial = e.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("c")
    )

    def step(cur: DataFrame, _round: int) -> DataFrame:
        msgs = e.join(
            cur.select(F.col("vertex").alias("dst"), "c"), "dst"
        ).select("src", "c")
        per_value = msgs.groupBy("src", "c").agg(F.count(F.lit(1)).alias("k"))
        # neighbors with value >= c: cumulative count over distinct values,
        # descending.  (src, c) is unique after the groupBy, so the default
        # RANGE frame and a ROWS frame agree — no tie sensitivity.
        w = Window.partitionBy("src").orderBy(F.col("c").desc())
        return (
            per_value.withColumn("ge", F.sum("k").over(w))
            .groupBy(F.col("src").alias("vertex"))
            .agg(F.max(F.least(F.col("c"), F.col("ge"))).alias("c"))
        )

    run = superstep_loop(
        spark,
        resume_state if resume_state is not None else initial,
        step,
        algo="coreness",
        max_supersteps=fixed_rounds if fixed_rounds is not None else max_rounds,
        # coordinate-wise non-increasing => Σc strictly decreases until the
        # fixpoint
        converge_on=None if fixed_rounds is not None else F.sum("c"),
        converged_fn=None if fixed_rounds is not None else lambda prev, n: prev == n,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
        bucket_state_by=["vertex"] if bucket_state else None,
    )
    e.unpersist()
    return run


def coreness(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_rounds: int = 200,
    fixed_rounds: int | None = None,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> DataFrame:
    """(vertex long, core long): the core number of every vertex of the
    symmetrized graph (exact at the fixpoint; the R-round iterate — an
    upper bound that decreases toward it — with ``fixed_rounds=R``)."""
    run = coreness_run(
        spark,
        edges,
        max_rounds=max_rounds,
        fixed_rounds=fixed_rounds,
        num_partitions=num_partitions,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
    )
    return run.state.select("vertex", F.col("c").alias("core"))
