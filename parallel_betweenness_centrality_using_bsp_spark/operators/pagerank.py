"""PageRank — power iteration as iterative DataFrame joins.

``pr'(v) = (1-d)·t(v) + d * ( Σ_{u→v} pr(u)/outdeg(u) + dangling_mass·t(v) )``

where the teleport vector t is uniform 1/n by default (matching
``networkx.pagerank``) or concentrated on a ``personalize`` seed set
(t = 1/|S| on S, 0 elsewhere — personalized PageRank, with dangling mass
redistributed by t, networkx's default dangling weights).  Σ pr == 1 is an
invariant each iteration in both modes.

Scale notes:
  * ``edges × ranks`` is the big join; the edge table (with outdeg attached)
    is shuffled/partitioned by src ONCE and persisted — every iteration
    re-shuffles only the (n-vertex) rank vector, never the (m-edge) table.
  * contribution aggregation is a hash agg with map-side partial sums (the
    BSP combiner).
  * dangling mass is one tiny scalar agg per iteration.
  * convergence: L1 delta < tol (matching networkx's criterion, which uses
    tol * n ≈ sum of |diff|), observed on the barrier job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import endpoints
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import SuperstepRun, superstep_loop


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    *,
    alpha: float = 0.85,
    tol: float = 1e-8,
    max_supersteps: int = 60,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    num_partitions: int | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    personalize: list[int] | None = None,
    weight_col: str | None = None,
    bucket_state: bool = False,
) -> SuperstepRun:
    """Returns run whose state is (vertex long, pr double).

    ``resume_state``/``start_step`` (from ``plans.superstep.latest_checkpoint``)
    restart a crashed checkpointed run mid-iteration.  ``personalize`` runs
    personalized PageRank over the given seed-vertex set.  ``weight_col``
    runs WEIGHTED PageRank: each out-edge carries pr(u)·w/Σ_out w(u)
    instead of pr(u)/outdeg(u) — same plan shape (the per-source weight sum
    replaces the out-degree in the one-off persisted edge table; parallel
    edges keep the SUM of their weights), so the per-iteration cost is
    identical to the unweighted kernel.  ``bucket_state=True`` (requires
    ``checkpoint_dir``) lands each superstep's rank vector as a parquet
    table bucketed+sorted on ``vertex`` — the contribution join and the
    convergence join then skip the state-side exchange (one rank-vector-
    sized shuffle saved per superstep; match ``num_partitions`` to
    ``spark.sql.shuffle.partitions``, the bucket count, so the persisted
    edge table's layout is reused too).
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    if weight_col is not None:
        # sum parallel edges' weights (dedup would drop weight mass)
        e = (
            edges.select("src", "dst", F.col(weight_col).cast("double").alias("_w"))
            .groupBy("src", "dst")
            .agg(F.sum("_w").alias("_w"))
            # a non-positive total weight carries no rank; dropping the edge
            # makes an all-zero-weight source a dangling vertex (no 0/0)
            .where(F.col("_w") > 0)
        )
    else:
        e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    # Partitioned by vertex ONCE: the per-iteration left join against the
    # contribution aggregate (whose exchange is also hash(vertex, p)) then
    # reuses this layout instead of re-shuffling the vertex set every step.
    vertices = (
        endpoints(e)
        .distinct()
        .repartition(p, "vertex")
        .persist()
    )
    n = vertices.count()
    if weight_col is not None:
        out_deg = e.groupBy("src").agg(F.sum("_w").alias("outdeg"))
    else:
        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Edge table with outdeg (or out-weight-sum) attached, partitioned by
    # src once, reused forever.
    edges_w = e.join(out_deg, "src").repartition(p, "src").persist()
    edges_w.count()
    dangling = vertices.join(
        e.select(F.col("src").alias("vertex")).distinct(), "vertex", "left_anti"
    ).persist()

    # Teleport vector t — one persisted (vertex, t) table, partitioned like
    # vertices so the per-iteration left join reuses the layout.  Uniform
    # 1/n, or 1/|S| over the personalization seed set (broadcast: seeds are
    # small by definition).
    if personalize:
        seeds = sorted(set(int(v) for v in personalize))
        pers = spark.createDataFrame(
            [(v, 1.0 / len(seeds)) for v in seeds], "vertex long, t double"
        )
        # a seed absent from the graph would silently drop teleport mass and
        # break the Σ pr == 1 invariant — fail loudly instead
        matched = vertices.join(F.broadcast(pers), "vertex", "left_semi").count()
        if matched != len(seeds):
            raise ValueError(
                f"personalize contains {len(seeds) - matched} vertex id(s) "
                "not present in the graph"
            )
        tele = vertices.join(F.broadcast(pers), "vertex", "left").select(
            "vertex", F.coalesce("t", F.lit(0.0)).alias("t")
        )
    else:
        tele = vertices.withColumn("t", F.lit(1.0 / n))
    tele = tele.repartition(p, "vertex").persist()

    start = resume_state if resume_state is not None else tele.select(
        "vertex", F.col("t").alias("pr")
    )
    if tol > 0:
        # The convergence L1 is a per-row ``_diff`` column of the step's own
        # plan (old state re-enters on the co-partitioned vertex key), summed
        # by an aggregate observed on the barrier job: no join and no job of
        # its own.  The loop observes that aggregate on the initial barrier
        # too, so the initial state carries an empty ``_diff``.  The
        # optimizer busy loop once seen with observe() + AQE on this plan
        # shape did not recur when re-measured (tol 1e-6, checkpointed, a
        # 2k-vertex / 20k-edge γ=2 power-law graph, local[4]): 7 supersteps
        # and identical ranks either way, 116 → 71 jobs and 8.2–8.9 s →
        # 5.4–6.6 s per warm call against the separate sum(_diff) job.
        start = start.select("vertex", "pr", F.lit(None).cast("double").alias("_diff"))

    def step(state: DataFrame, k: int) -> DataFrame:
        # Dangling mass stays INSIDE the plan as a broadcast 1-row aggregate
        # (vs a driver-side collect): one Spark job per superstep instead of
        # two — on an iterative workload the extra job's scheduling latency
        # is pure serial overhead that caps scaling.
        dm = (
            state.join(dangling, "vertex", "left_semi")
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dm"))
        )
        share = (
            F.col("pr") * F.col("_w") / F.col("outdeg")
            if weight_col is not None
            else F.col("pr") / F.col("outdeg")
        )
        contribs = (
            state.join(edges_w, state.vertex == edges_w.src)
            .select(edges_w.dst.alias("vertex"), share.alias("c"))
            .groupBy("vertex")
            .agg(F.sum("c").alias("c"))
        )
        new = (
            tele.join(contribs, "vertex", "left")
            .join(F.broadcast(dm))
            .select(
                "vertex",
                (
                    F.lit(1.0 - alpha) * F.col("t")
                    + F.lit(alpha)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("_dm") * F.col("t"))
                ).alias("pr"),
            )
        )
        if tol > 0:
            old = state.select("vertex", F.col("pr").alias("_old"))
            new = (
                new.join(old, "vertex", "left")
                .withColumn(
                    "_diff", F.abs(F.col("pr") - F.coalesce("_old", F.lit(0.0)))
                )
                .drop("_old")
            )
        return new

    run = superstep_loop(
        spark,
        start,
        step,
        algo="pagerank",
        max_supersteps=max_supersteps,
        # tol<=0 means "run exactly max_supersteps": no _diff column and no
        # convergence test
        converge_on=F.sum("_diff") if tol > 0 else None,
        converged_fn=(lambda _prev, l1: l1 is not None and l1 < tol * n) if tol > 0 else None,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
        bucket_state_by=["vertex"] if bucket_state else None,
    )
    edges_w.unpersist()
    vertices.unpersist()
    dangling.unpersist()
    tele.unpersist()
    if "_diff" in run.state.columns:
        run.state = run.state.drop("_diff")
    return run


def pagerank_warm_start(
    spark: SparkSession,
    edges: DataFrame,
    prev_ranks: DataFrame,
    **kwargs,
) -> SuperstepRun:
    """Incremental PageRank after a graph delta — the recompute-after-crawl
    primitive: instead of restarting from the uniform vector, seed the
    power iteration with the PREVIOUS run's ranks.  Power iteration
    contracts the error by the damping factor per step, so a warm start
    whose distance to the new fixpoint is small (a crawl delta touches a
    tiny fraction of edges) converges in a handful of supersteps where a
    cold start needs its full O(log(1/tol)/log(1/alpha)) — measured in the
    tests (warm strictly fewer supersteps, same fixpoint to tolerance).

    Vertex churn is handled in-plan: vertices new since ``prev_ranks``
    enter at 1/n, departed vertices drop, and the seed vector is
    renormalized to Σ pr = 1 with a broadcast 1-row aggregate so the mass
    invariant every other pagerank path maintains holds from superstep 0.
    Accepts every ``pagerank`` keyword (tol, alpha, weight_col,
    bucket_state, ...)."""
    cur = endpoints(edges).distinct()
    n = cur.count()
    seeded = cur.join(
        prev_ranks.select("vertex", F.col("pr").alias("_prev")), "vertex", "left"
    ).select("vertex", F.coalesce(F.col("_prev"), F.lit(1.0 / n)).alias("pr"))
    total = seeded.agg(F.sum("pr").alias("_s"))
    state0 = seeded.join(F.broadcast(total)).select(
        "vertex", (F.col("pr") / F.col("_s")).alias("pr")
    )
    return pagerank(spark, edges, resume_state=state0, **kwargs)


def katz(
    spark: SparkSession,
    edges: DataFrame,
    *,
    alpha: float = 0.1,
    max_supersteps: int = 3,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    num_partitions: int | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    bucket_state: bool = False,
) -> SuperstepRun:
    """Katz centrality, truncated at ``max_supersteps`` walk lengths:

    ``katz(v) = Σ_{l=1..k} αˡ · (# directed walks of length l ending at v)``

    via the recurrence ``x_{k+1} = α · Aᵀ(1 + x_k)``, ``x_0 = 0`` (Katz
    1953).  Unlike PageRank there is no out-degree normalization and no
    teleport — mass fans out along EVERY out-edge — so α must sit below
    1/λ_max for the untruncated series to converge; the fixed-k truncation
    here is exact for any α and is what an oracle can unroll.

    Plan shape is the pagerank kernel's: the edge table is shuffled to
    hash(src) ONCE and persisted, each superstep moves only the n-vertex
    state through one join + one doc-balanced hash agg (map-side combined),
    and ``bucket_state=True`` lands state bucketed on ``vertex`` so the
    steady-state exchange disappears.  Returns state (vertex, katz).
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    vertices = (
        endpoints(e)
        .distinct()
        .repartition(p, "vertex")
        .persist()
    )
    edges_p = e.repartition(p, "src").persist()
    edges_p.count()

    initial = vertices.select("vertex", F.lit(0.0).alias("katz"))

    def step(state: DataFrame, _k: int) -> DataFrame:
        contribs = (
            state.join(edges_p, state.vertex == edges_p.src)
            .select(
                edges_p.dst.alias("vertex"),
                (F.lit(alpha) * (F.lit(1.0) + F.col("katz"))).alias("c"),
            )
            .groupBy("vertex")
            .agg(F.sum("c").alias("c"))
        )
        return vertices.join(contribs, "vertex", "left").select(
            "vertex", F.coalesce("c", F.lit(0.0)).alias("katz")
        )

    run = superstep_loop(
        spark,
        resume_state if resume_state is not None else initial,
        step,
        algo="katz",
        max_supersteps=max_supersteps,
        converged_fn=None,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
        bucket_state_by=["vertex"] if bucket_state else None,
    )
    edges_p.unpersist()
    vertices.unpersist()
    return run


def eigenvector_centrality(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_supersteps: int = 4,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    num_partitions: int | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    bucket_state: bool = False,
) -> SuperstepRun:
    """Eigenvector centrality by fixed-k power iteration:

    ``x_{k+1} = Aᵀ x_k / ‖Aᵀ x_k‖₂``, ``x_0 = 1/√n`` (unit L2 norm).

    The dominant-eigenvector analogue of the katz/pagerank kernels — no
    teleport, no out-degree normalization, mass flows along in-edges and the
    whole vector is rescaled to unit length each superstep.  The fixed
    superstep count (instead of a convergence tolerance) is what makes the
    result exactly unrollable by a SQL oracle; convergence to the true
    eigenvector is geometric in λ₂/λ₁ as usual for power iteration.

    Plan shape is the pagerank kernel's: edge table shuffled to hash(src)
    once and persisted; each superstep is one join + one map-side-combined
    hash agg over the n-vertex state, plus the L2 norm as an IN-PLAN
    broadcast 1-row aggregate (same discipline as pagerank's dangling mass
    — no extra driver-side job per superstep).  A graph whose k-step
    in-walk mass dies out entirely (e.g. a depth-1 DAG by step 2) yields
    the all-zero vector rather than a 0/0 NaN.  Returns state
    (vertex, x)."""
    p = num_partitions or spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    vertices = (
        endpoints(e)
        .distinct()
        .repartition(p, "vertex")
        .persist()
    )
    n = vertices.count()
    edges_p = e.repartition(p, "src").persist()
    edges_p.count()

    initial = vertices.select("vertex", F.lit(1.0 / (n ** 0.5)).alias("x"))

    def step(state: DataFrame, _k: int) -> DataFrame:
        contribs = (
            state.join(edges_p, state.vertex == edges_p.src)
            .select(edges_p.dst.alias("vertex"), F.col("x").alias("c"))
            .groupBy("vertex")
            .agg(F.sum("c").alias("c"))
        )
        xun = vertices.join(contribs, "vertex", "left").select(
            "vertex", F.coalesce("c", F.lit(0.0)).alias("_xu")
        )
        nrm = xun.agg(
            F.sqrt(F.sum(F.col("_xu") * F.col("_xu"))).alias("_nrm")
        )
        return xun.join(F.broadcast(nrm)).select(
            "vertex",
            F.when(F.col("_nrm") > 0, F.col("_xu") / F.col("_nrm"))
            .otherwise(F.lit(0.0))
            .alias("x"),
        )

    run = superstep_loop(
        spark,
        resume_state if resume_state is not None else initial,
        step,
        algo="eigenvector",
        max_supersteps=max_supersteps,
        converged_fn=None,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
        bucket_state_by=["vertex"] if bucket_state else None,
    )
    edges_p.unpersist()
    vertices.unpersist()
    return run
