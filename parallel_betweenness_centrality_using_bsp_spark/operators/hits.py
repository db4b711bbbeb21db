"""HITS (Kleinberg's hubs & authorities) — power iteration as BSP
supersteps, the classic link-analysis sibling of PageRank.

Per superstep (one full HITS iteration over the DIRECTED edge set):

    auth'(v) = Σ_{u→v} hub(u)      then L1-normalize (Σ auth' = 1)
    hub'(u)  = Σ_{u→v} auth'(v)    then L1-normalize (Σ hub'  = 1)

L1 normalization keeps both vectors on the simplex every iteration — an
exact invariant the tests assert — and both normalizing sums stay IN-PLAN
as broadcast 1-row aggregates (the pagerank dangling-mass trick: no
driver-side collect, one Spark job per superstep).

Scale notes:
  * the edge table is persisted TWICE, partitioned by src (the auth
    aggregation's build side) and by dst (the hub aggregation's) — each
    iteration shuffles only the two n-vertex score vectors, never the
    m-edge table.
  * runs under ``plans.superstep.superstep_loop``: parquet checkpoints,
    mid-iteration resume, per-superstep lineage + metrics.  With ``tol > 0``
    each step also emits the per-vertex L1 change ``_diff``, whose sum is
    observed on the barrier job: convergence costs no join and no job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import endpoints
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import SuperstepRun, superstep_loop


def _start_state(
    resume_state: DataFrame | None, vertices: DataFrame, n: int, tol: float
) -> DataFrame:
    """The loop's first state: ``resume_state`` or uniform 1/n scores, with
    an empty ``_diff`` when ``tol > 0``, since the loop observes the
    convergence aggregate on the initial barrier too."""
    start = resume_state if resume_state is not None else vertices.select(
        "vertex", F.lit(1.0 / n).alias("hub"), F.lit(1.0 / n).alias("auth")
    )
    if tol <= 0:
        return start
    return start.select("vertex", "hub", "auth", F.lit(None).cast("double").alias("_diff"))


def _with_diff(new: DataFrame, old: DataFrame) -> DataFrame:
    """``new`` plus ``_diff`` = |Δhub| + |Δauth| against ``old``, per vertex:
    the L1 convergence delta, summed on the superstep's barrier job."""
    o = old.select("vertex", F.col("hub").alias("_oh"), F.col("auth").alias("_oa"))
    return new.join(o, "vertex").select(
        "vertex",
        "hub",
        "auth",
        (F.abs(F.col("hub") - F.col("_oh")) + F.abs(F.col("auth") - F.col("_oa"))).alias("_diff"),
    )


def hits(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_supersteps: int = 20,
    tol: float = 1e-8,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    bucket_state: bool = False,
) -> SuperstepRun:
    """Returns a run whose state is (vertex long, hub double, auth double)
    over the directed graph's vertices; Σ hub = Σ auth = 1 after every
    superstep.  ``tol <= 0`` runs exactly ``max_supersteps`` iterations
    (the oracle-matched mode); otherwise stops when the L1 delta of both
    vectors drops below ``tol``.  ``bucket_state=True`` (requires
    ``checkpoint_dir``) buckets each superstep's score table on ``vertex``
    so the next round's state-side exchanges disappear.
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    e_src = e.repartition(p, "src").persist()
    e_dst = e.repartition(p, "dst").persist()
    e_src.count()
    e_dst.count()

    vertices = (
        endpoints(e)
        .distinct()
        .repartition(p, "vertex")
        .persist()
    )
    n = vertices.count()

    start = _start_state(resume_state, vertices, n, tol)

    def step(state: DataFrame, _k: int) -> DataFrame:
        # aliases per join: e_src/e_dst/vertices share the same lineage, so
        # Spark's self-join ambiguity check needs qualified references
        es, ed = e_src.alias("_es"), e_dst.alias("_ed")
        raw_auth = (
            state.join(es, state.vertex == F.col("_es.src"))
            .groupBy(F.col("_es.dst").alias("vertex"))
            .agg(F.sum("hub").alias("ra"))
        )
        s_auth = raw_auth.agg(F.sum("ra").alias("_sa"))
        auth = (
            vertices.join(raw_auth, "vertex", "left")
            .join(F.broadcast(s_auth))
            .select(
                "vertex",
                (F.coalesce(F.col("ra"), F.lit(0.0)) / F.col("_sa")).alias("auth"),
            )
        )
        raw_hub = (
            auth.join(ed, auth.vertex == F.col("_ed.dst"))
            .groupBy(F.col("_ed.src").alias("vertex"))
            .agg(F.sum("auth").alias("rh"))
        )
        s_hub = raw_hub.agg(F.sum("rh").alias("_sh"))
        new = (
            vertices.join(auth, "vertex")
            .join(raw_hub, "vertex", "left")
            .join(F.broadcast(s_hub))
            .select(
                "vertex",
                (F.coalesce(F.col("rh"), F.lit(0.0)) / F.col("_sh")).alias("hub"),
                "auth",
            )
        )
        return _with_diff(new, state) if tol > 0 else new

    run = superstep_loop(
        spark,
        start,
        step,
        algo="hits",
        max_supersteps=max_supersteps,
        # tol<=0: no _diff column and no convergence test
        converge_on=F.sum("_diff") if tol > 0 else None,
        converged_fn=(lambda _prev, l1: l1 < tol) if tol > 0 else None,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
        bucket_state_by=["vertex"] if bucket_state else None,
    )
    e_src.unpersist()
    e_dst.unpersist()
    vertices.unpersist()
    run.state = run.state.drop("_diff")
    return run


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_supersteps: int = 20,
    tol: float = 1e-8,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    bucket_state: bool = False,
) -> SuperstepRun:
    """SALSA (Lempel & Moran 2001, "The stochastic approach for
    link-structure analysis") — HITS's random-walk sibling: instead of raw
    sums + global L1 normalization, each contribution is DEGREE-NORMALIZED
    (the alternating bipartite walk), which famously resists the
    tightly-knit-community effect that inflates HITS scores on link farms:

        auth'(v) = Σ_{u→v} hub(u) / outdeg(u)
        hub'(u)  = Σ_{u→v} auth'(v) / indeg(v)

    Both steps are row-stochastic over the vertices that HAVE the
    relevant edges, so Σ auth' = Σ_{outdeg>0} hub and Σ hub' =
    Σ_{indeg>0} auth' — on a graph without dangling vertices the total
    mass is conserved exactly (the invariant the tests assert); dangling
    hubs/authorities simply leak their mass, as in the original paper's
    bipartite support graph.  No normalization job is needed at all —
    one less aggregate per superstep than HITS.  Same plan shape
    otherwise: edges persisted by src AND dst, degrees computed once and
    joined in-plan, each superstep shuffles only the two n-vertex score
    vectors.  State is (vertex long, hub double, auth double); ``tol <= 0``
    runs exactly ``max_supersteps`` iterations (the oracle-matched mode).
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("id_"))
    e_src = (
        e.join(outdeg, "src").repartition(p, "src").persist()
    )  # (src, dst, od)
    e_dst = (
        e.join(indeg, "dst").repartition(p, "dst").persist()
    )  # (src, dst, id_)
    e_src.count()
    e_dst.count()

    vertices = (
        endpoints(e)
        .distinct()
        .repartition(p, "vertex")
        .persist()
    )
    n = vertices.count()

    start = _start_state(resume_state, vertices, n, tol)

    def step(state: DataFrame, _k: int) -> DataFrame:
        es, ed = e_src.alias("_es"), e_dst.alias("_ed")
        raw_auth = (
            state.join(es, state.vertex == F.col("_es.src"))
            .groupBy(F.col("_es.dst").alias("vertex"))
            .agg(F.sum(F.col("hub") / F.col("_es.od")).alias("ra"))
        )
        auth = vertices.join(raw_auth, "vertex", "left").select(
            "vertex", F.coalesce(F.col("ra"), F.lit(0.0)).alias("auth")
        )
        raw_hub = (
            auth.join(ed, auth.vertex == F.col("_ed.dst"))
            .groupBy(F.col("_ed.src").alias("vertex"))
            .agg(F.sum(F.col("auth") / F.col("_ed.id_")).alias("rh"))
        )
        new = (
            vertices.join(auth, "vertex")
            .join(raw_hub, "vertex", "left")
            .select(
                "vertex",
                F.coalesce(F.col("rh"), F.lit(0.0)).alias("hub"),
                "auth",
            )
        )
        return _with_diff(new, state) if tol > 0 else new

    run = superstep_loop(
        spark,
        start,
        step,
        algo="salsa",
        max_supersteps=max_supersteps,
        # tol<=0: no _diff column and no convergence test
        converge_on=F.sum("_diff") if tol > 0 else None,
        converged_fn=(lambda _prev, l1: l1 < tol) if tol > 0 else None,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
        bucket_state_by=["vertex"] if bucket_state else None,
    )
    e_src.unpersist()
    e_dst.unpersist()
    vertices.unpersist()
    run.state = run.state.drop("_diff")
    return run
