"""Connected components — hash-min label propagation over BSP supersteps.

Semantics: undirected connectivity; every vertex ends labeled with the
MINIMUM vertex id reachable from it.  Exact-match requirement
(BASELINE.json north_rule: "component/label assignments exact") — min over
longs is associative/commutative, so distributed execution is bit-exact.

Superstep: ``label'(v) = min(label(v), min over in-neighbors u of label(u))``
on the symmetrized edge table — one hash join (state × edges, edges side
persisted + pre-partitioned once) plus one hash aggregation (map-side partial
min then final min: the BSP "message combining" for free).

Convergence: labels only ever decrease, so ``sum(label)`` strictly decreases
on any change — an aggregate observed on each superstep's barrier job
instead of a self-join diff.  Rounds = O(graph diameter); for web-scale
diameters consider the large-star/small-star variant (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014) as an upgrade path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import endpoints
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import SuperstepRun, superstep_loop
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import guard_stats


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    num_partitions: int | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    algorithm: str = "hashmin",
    bucket_state: bool = False,
) -> SuperstepRun:
    """``algorithm="hashmin"`` (default): label diffusion, O(diameter) rounds
    — right for small-diameter web/import graphs.  ``algorithm="starcontract"``:
    alternating large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014), O(log n) rounds — right
    for long-chain graphs where diameter ≫ log n.  ``bucket_state=True``
    (hashmin + ``checkpoint_dir`` only) buckets each superstep's label table
    on ``vertex`` so the next round's state×edges join skips the state-side
    exchange."""
    if algorithm == "starcontract":
        if bucket_state:
            raise ValueError(
                "bucket_state is only supported with algorithm='hashmin' "
                "(star contraction's edge-set state has no stable join key)"
            )
        if resume_state is not None or start_step:
            # Star contraction's superstep state is the contracting EDGE SET,
            # shape-incompatible with hash-min's (vertex, label) checkpoints;
            # silently restarting from step 0 under a resumed run_id would
            # look like a resume without being one.
            raise ValueError(
                "resume_state/start_step are not supported with "
                "algorithm='starcontract' (its edge-set state is not "
                "resumable from hash-min label checkpoints)"
            )
        return _star_contraction(
            spark,
            edges,
            max_supersteps=max_supersteps,
            checkpoint_dir=checkpoint_dir,
            run_id=run_id,
            num_partitions=num_partitions,
        )
    return _hashmin(
        spark,
        edges,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        num_partitions=num_partitions,
        resume_state=resume_state,
        start_step=start_step,
        bucket_state=bucket_state,
    )


def _hashmin(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    num_partitions: int | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    bucket_state: bool = False,
) -> SuperstepRun:
    """Returns run whose state is (vertex long, label long).

    ``resume_state``/``start_step`` restart a checkpointed run mid-iteration
    (convergence compares label sums observed on the barrier jobs,
    not row counts).
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    und = symmetrize(edges).repartition(p, "src").persist()

    vertices = (
        und.select(F.col("src").alias("vertex"))
        .distinct()
    )
    initial = vertices.withColumn("label", F.col("vertex"))

    # Note on delta messaging (send only labels that changed last round —
    # exact here because labels are monotone): measured 2.3× SLOWER on a
    # 1e6-edge small-diameter graph (the changed-detection join costs more
    # than the shrunken message join saves; hash-min converges in ~6 rounds
    # with most labels changing every round).  Long-diameter graphs, where
    # delta messaging would pay per-round, are better served by cutting the
    # ROUND COUNT itself — algorithm="starcontract", O(log n) rounds.

    def step(state: DataFrame, _k: int) -> DataFrame:
        msgs = (
            state.join(und, state.vertex == und.src)
            .select(und.dst.alias("vertex"), "label")
        )
        return (
            state.select("vertex", "label")
            .unionByName(msgs)
            .groupBy("vertex")
            .agg(F.min("label").alias("label"))
        )

    run = superstep_loop(
        spark,
        resume_state if resume_state is not None else initial,
        step,
        algo="connected_components",
        max_supersteps=max_supersteps,
        # the monotone label-sum invariant: an unchanged sum is the fixpoint
        converge_on=F.sum("label"),
        converged_fn=lambda prev, s: prev == s,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
        bucket_state_by=["vertex"] if bucket_state else None,
    )
    und.unpersist()
    return run


# ---------------------------------------------------------------------------
# Alternating star contraction (Kiveris et al. 2014) — O(log n) rounds
# ---------------------------------------------------------------------------

def _large_star(e: DataFrame) -> DataFrame:
    """For every vertex u: connect each strictly-larger neighbor v > u to
    m(u) = min(Γ(u) ∪ {u})."""
    und = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = und.groupBy("u").agg(F.min("v").alias("_mn"))
    m = m.select("u", F.least("_mn", F.col("u")).alias("m"))
    return (
        und.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Direct each edge toward its larger endpoint; for every vertex u:
    connect u and all its ≤-neighbors to m(u) = min of that set."""
    d = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    m = d.groupBy("u").agg(F.min("v").alias("m"))  # all v < u, so m < u
    nbrs = d.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    selfs = m.select("u", F.col("m").alias("v"))
    return (
        nbrs.unionByName(selfs)
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _star_contraction(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_supersteps: int = 50,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    num_partitions: int | None = None,
) -> SuperstepRun:
    """Superstep state is the CONTRACTING EDGE SET (u, v); at the fixpoint it
    is a star forest with every component's min-id vertex at the center.
    Rounds: O(log n) vs hash-min's O(diameter) — the scale path for graphs
    with long chains.  Convergence: edge multiset checksum stable (each round
    strictly decreases the paper's potential function, so a stable checksum
    is the fixpoint, not a cycle)."""
    p = num_partitions or spark.sparkContext.defaultParallelism
    vertices = (
        endpoints(edges)
        .distinct()
        .repartition(p, "vertex")
        .persist()
    )
    initial = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )

    def step(state: DataFrame, _k: int) -> DataFrame:
        return _small_star(_large_star(state))

    run = superstep_loop(
        spark,
        initial,
        step,
        algo="connected_components_star",
        max_supersteps=max_supersteps,
        # edge-set fingerprint; bit_xor, not sum: ANSI mode overflows on
        # summed 64-bit hashes
        converge_on=F.struct(
            F.count(F.lit(1)), F.expr("bit_xor(xxhash64(u, v))")
        ),
        converged_fn=lambda prev, fp: prev == fp,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
    )
    # star edges (v → center) + centers + vertices that contracted away early
    star = run.state.select(F.col("u").alias("vertex"), F.col("v").alias("label"))
    labels = (
        vertices.join(star, "vertex", "left")
        .select("vertex", F.coalesce("label", F.col("vertex")).alias("label"))
        .localCheckpoint(eager=True).transform(guard_stats)
    )
    vertices.unpersist()
    return SuperstepRun(
        state=labels,
        supersteps=run.supersteps,
        run_id=run.run_id,
        converged=run.converged,
        metrics=run.metrics,
    )


# ---------------------------------------------------------------------------
# Incremental recompute from existing labels + an edge delta
# ---------------------------------------------------------------------------


def incremental_components(
    spark: SparkSession,
    labels: DataFrame,
    delta_edges: DataFrame,
    *,
    num_partitions: int | None = None,
    max_supersteps: int = 100,
) -> DataFrame:
    """Connected components after ADDING ``delta_edges`` to the graph whose
    labels are ``labels`` (vertex long, label long — hash-min labels, i.e.
    each vertex labeled with its component's minimum vertex id), WITHOUT
    re-touching the original edge table.

    The key fact: edge additions only ever MERGE components, and which
    components merge is fully determined by the delta projected into label
    space.  So the recompute is

      1. map each delta endpoint to its current label (its own id for a
         vertex the old labels have never seen),
      2. run hash-min over that |delta|-sized label graph — new label of an
         old component = min over the merged old labels = min vertex id of
         the merged component, exactly the cold-run answer,
      3. broadcast the (old_label -> new_label) mapping (rows ≤ number of
         merged components ≤ |delta| — small BY CONSTRUCTION) into one
         map-side relabel pass over ``labels``.

    Cost: a fixpoint over |delta| rows plus ONE broadcast join over the
    label table — no shuffle of the label table, no scan of the original
    edges.  Completes the streaming×batch loop started by
    ``streaming/graph.py`` hot-vertex detection and ``pagerank_warm_start``.

    Deletions are NOT supported (a removed edge can split a component,
    which needs connectivity of the remaining graph — run a cold
    recompute); self-loops and duplicate delta rows are fine.

    Returns (vertex long, label long) for the UNION of the old vertex set
    and the delta's endpoints, exactly equal to a cold
    ``connected_components`` run on old-edges ∪ delta.
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    lab_s = labels.select(F.col("vertex").alias("src"), F.col("label").alias("lu"))
    lab_d = labels.select(F.col("vertex").alias("dst"), F.col("label").alias("lv"))
    # delta in label space; unseen endpoints act as their own singleton label
    dl = (
        delta_edges.select("src", "dst")
        .join(lab_s, "src", "left")
        .join(lab_d, "dst", "left")
        .select(
            F.coalesce("lu", F.col("src")).alias("src"),
            F.coalesce("lv", F.col("dst")).alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True).transform(guard_stats)
    )
    mapping = (
        connected_components(
            spark,
            dl,
            max_supersteps=max_supersteps,
            num_partitions=min(p, 8),  # |delta|-sized problem
        )
        .state.where(F.col("vertex") != F.col("label"))
        .select(F.col("vertex").alias("old_label"), F.col("label").alias("new_label"))
    )
    relabeled = (
        labels.join(
            F.broadcast(mapping), labels.label == mapping.old_label, "left"
        )
        .select(
            "vertex",
            F.coalesce("new_label", F.col("label")).alias("label"),
        )
    )
    # delta endpoints the old labels never saw
    dverts = (
        endpoints(delta_edges)
        .distinct()
        .join(labels.select("vertex"), "vertex", "left_anti")
    )
    fresh = (
        dverts.join(F.broadcast(mapping), dverts.vertex == mapping.old_label, "left")
        .select(
            "vertex", F.coalesce("new_label", F.col("vertex")).alias("label")
        )
    )
    return relabeled.unionByName(fresh)
