"""k-truss decomposition — edge-level peeling by triangle support, the
edge-strength sibling of k-core (cohesive-subgraph mining: a k-truss edge
sits in ≥ k−2 triangles, so trusses survive where loose hub fans don't).

One superstep = one peel round over the surviving SYMMETRIZED edge set:

    support(u,v) = |N(u) ∩ N(v)|      (wedge join: e ⋈ e on the shared
                                       endpoint, closed against e itself)
    keep (u,v) iff support ≥ k−2      (an edge in no wedge has support 0)

The wedge join is the triangle plan restricted to surviving edges; the
surviving-edge count is strictly decreasing until the fixpoint, so the
count observed on each round's barrier job detects convergence, and
``fixed_rounds`` runs an exact round count (the oracle-matched mode —
after R rounds both engines hold the identical R-times-peeled edge set).  Runs under
``plans.superstep.superstep_loop``: parquet checkpoints, mid-peel resume,
lineage + metrics.

Skew note: the wedge join fans a degree-d hub into O(d²) wedge rows per
round.  The un-oriented form is required here (support must count EVERY
common neighbor), so ``pre_peel`` (DEFAULT ON) runs (k−1)-core peeling to
its fixpoint first: a vertex of degree < k−1 cannot be the endpoint of any
k-truss edge (it lacks the k−2 common neighbors plus the other endpoint),
and each core peel round removes a SUBSET of what the same wedge-support
round would remove (an edge at a degree ≤ k−2 endpoint has support
≤ k−3 < k−2), so the truss FIXPOINT is untouched while power-law hub fans
shrink before the quadratic join ever sees them.  Measured on a hub-heavy
fixture in tests/test_truss.py: the pre-peel cuts first-round wedge rows
by >90%.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import SuperstepRun, superstep_loop


def k_truss_run(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 4,
    *,
    max_rounds: int = 100,
    fixed_rounds: int | None = None,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    pre_peel: bool = True,
) -> SuperstepRun:
    """Full superstep run; state is the surviving symmetrized edge set
    (src long, dst long).

    ``pre_peel`` (default ON) first peels to the (k−1)-core fixpoint —
    semantics-preserving for the truss fixpoint (see module docstring) and
    the hub mitigation for power-law graphs; it runs before the counted
    supersteps, so ``fixed_rounds`` still means exactly that many wedge
    rounds (note the mid-cascade edge set CAN differ from an un-pre-peeled
    run when the core cascade is deeper than ``fixed_rounds``; the
    fixpoint never does).  Resumed runs skip it (the checkpointed state is
    already peeled).
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    min_support = k - 2
    if pre_peel and min_support > 0 and resume_state is None:
        from parallel_betweenness_centrality_using_bsp_spark.operators.kcore import k_core_run

        initial = k_core_run(
            spark, edges, k - 1, num_partitions=p
        ).state.repartition(p, "src")
    else:
        initial = symmetrize(edges).repartition(p, "src")

    def step(cur: DataFrame, _round: int) -> DataFrame:
        a, b, x = cur.alias("a"), cur.alias("b"), cur.alias("x")
        sup = (
            x.join(a, F.col("x.src") == F.col("a.src"))
            .join(
                b,
                (F.col("x.dst") == F.col("b.src"))
                & (F.col("a.dst") == F.col("b.dst")),
            )
            .groupBy(F.col("x.src").alias("src"), F.col("x.dst").alias("dst"))
            .agg(F.count(F.lit(1)).alias("_sup"))
            .where(F.col("_sup") >= min_support)
            .select("src", "dst")
        )
        # inner-join back (not semi): sup already contains exactly the rows
        # of cur that survive — edges in NO wedge are absent (support 0)
        return sup

    rounds = fixed_rounds if fixed_rounds is not None else max_rounds
    if min_support <= 0:
        rounds = 0  # k ≤ 2: every edge is trivially in the truss — no peeling
    return superstep_loop(
        spark,
        resume_state if resume_state is not None else initial,
        step,
        algo="ktruss",
        max_supersteps=rounds,
        converge_on=None if fixed_rounds is not None else F.count(F.lit(1)),
        converged_fn=None if fixed_rounds is not None else lambda prev, n: prev == n,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
    )


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 4,
    *,
    max_rounds: int = 100,
    fixed_rounds: int | None = None,
    num_partitions: int | None = None,
    pre_peel: bool = True,
) -> DataFrame:
    """(src long, dst long): the undirected k-truss edge set, one row per
    direction (symmetrized), after peeling to the fixpoint (or exactly
    ``fixed_rounds`` rounds, after the default-on (k−1)-core pre-peel)."""
    return k_truss_run(
        spark,
        edges,
        k,
        max_rounds=max_rounds,
        fixed_rounds=fixed_rounds,
        num_partitions=num_partitions,
        pre_peel=pre_peel,
    ).state
