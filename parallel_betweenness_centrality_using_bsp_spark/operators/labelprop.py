"""Synchronous label propagation (community detection) — deterministic.

Each superstep every vertex adopts the MOST FREQUENT label among its
neighbors; ties break to the SMALLEST label (so the algorithm — and its pure
python oracle in tests — is fully deterministic).  Vertices with no
neighbors keep their label.  Initial label = vertex id.

Exact-match requirement (north_rule) holds because every step is computed on
a (count desc, label asc) total order — no randomness, no float math.

Plan per superstep: state × edges hash join (edges persisted/partitioned
once) → groupBy(vertex, label).count (map-side combine) → per-vertex argmax
via window row_number — the window partitions by vertex so it rides the same
hash partitioning; measured faster than struct-max/max_by aggregation, which
Spark plans as double SortAggregate.

Convergence: each step marks the vertices whose label changed (``_chg``),
and the loop stops on a superstep that changed none, a count observed on
its barrier job.  Synchronous LPA can 2-cycle on bipartite structures, so
it stops at ``max_supersteps`` regardless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import SuperstepRun, superstep_loop
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import guard_stats


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    *,
    max_supersteps: int = 20,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    num_partitions: int | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
    weight_col: str | None = None,
    bucket_state: bool = False,
    salt_buckets: int | None = None,
) -> SuperstepRun:
    """Returns run whose state is (vertex long, label long).

    ``resume_state``/``start_step`` restart a checkpointed run
    mid-iteration.  ``weight_col`` runs WEIGHTED LPA: the argmax is over the
    summed edge weight per neighbor label instead of the neighbor count —
    weights must be INTEGRAL so the (weight desc, label asc) order stays
    exact in every engine (the exact-match determinism rule); weights of
    parallel / both-direction edges between a pair sum.
    ``bucket_state=True`` (requires ``checkpoint_dir``) buckets each
    superstep's label table on ``vertex`` so the next round's state×edges
    join skips the state-side exchange.  ``salt_buckets=B`` switches the
    per-vertex argmax from a window sort to a TWO-PHASE max (sub-key max
    over ``label % B``, then a final B-row max per vertex) — same (count
    desc, label asc) result, but a hub vertex with millions of distinct
    neighbor labels sorts at most ``ceil(distinct_labels / B)`` rows per
    task instead of all of them in one window partition (the asof.py
    two-phase pattern).  Default keeps the window path, which measured
    faster on balanced graphs.
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    if weight_col is not None:
        e = edges.select("src", "dst", F.col(weight_col).cast("long").alias("_w"))
        und = (
            e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "_w")
            )
            .where(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.sum("_w").alias("_w"))
            .repartition(p, "src")
            .persist()
        )
    else:
        und = symmetrize(edges).repartition(p, "src").persist()
    vertices = und.select(F.col("src").alias("vertex")).distinct()
    start = resume_state if resume_state is not None else vertices.select(
        "vertex", F.col("vertex").alias("label")
    )
    # the change count is observed on the initial barrier too
    start = start.select("vertex", "label", F.lit(True).alias("_chg"))

    def step(state: DataFrame, _k: int) -> DataFrame:
        cols = ["label"] if weight_col is None else ["label", "_w"]
        neigh = (
            state.join(und, state.vertex == und.src)
            .select(und.dst.alias("vertex"), *cols)
        )
        vote = F.count(F.lit(1)) if weight_col is None else F.sum("_w")
        counted = neigh.groupBy("vertex", "label").agg(vote.alias("cnt"))
        if salt_buckets:
            # Hub-safe TWO-PHASE argmax: the window below sorts ALL of a
            # vertex's (label, cnt) rows in one task — a hub with many
            # distinct neighbor labels serializes there.  Phase 1 takes the
            # max over struct(cnt, -label) per (vertex, label % B) — hash
            # aggregation, map-side combined, the hub's rows spread over B
            # sub-keys; phase 2 reduces the ≤B survivors per vertex.
            # struct max = (cnt desc, then -label max = label asc): the
            # identical total order as the window.
            pick = F.struct(F.col("cnt").alias("_c"), (-F.col("label")).alias("_nl"))
            sub = counted.groupBy(
                "vertex", F.pmod(F.col("label"), F.lit(salt_buckets)).alias("_s")
            ).agg(F.max(pick).alias("_m"))
            best = (
                sub.groupBy("vertex")
                .agg(F.max("_m").alias("_m"))
                .select("vertex", (-F.col("_m._nl")).alias("label"))
            )
        else:
            # Deterministic argmax (count desc, label asc) via window
            # row_number.  Measured alternative (struct-max / max_by
            # aggregation) loses on balanced graphs: struct-typed aggregation
            # buffers force SortAggregate on BOTH sides of the exchange (2.4×
            # slower than the single window sort here).
            w = Window.partitionBy("vertex").orderBy(F.desc("cnt"), F.asc("label"))
            best = (
                counted.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("vertex", "label")
            )
        # isolated vertices (none here since vertices come from edges) keep label
        new_label = F.coalesce(F.col("label"), F.col("old_label"))
        return (
            state.select("vertex", F.col("label").alias("old_label"))
            .join(best, "vertex", "left")
            .select(
                "vertex",
                new_label.alias("label"),
                (new_label != F.col("old_label")).alias("_chg"),
            )
        )

    run = superstep_loop(
        spark,
        start,
        step,
        algo="label_propagation",
        max_supersteps=max_supersteps,
        converge_on=F.count_if("_chg"),
        converged_fn=lambda _prev, changed: changed == 0,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
        bucket_state_by=["vertex"] if bucket_state else None,
    )
    und.unpersist()
    run.state = run.state.drop("_chg")
    return run


def louvain_one_level(
    spark: SparkSession,
    edges: DataFrame,
    *,
    labels: DataFrame | None = None,
    rounds: int = 2,
    num_partitions: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """One-level Louvain local-move refinement — greedy modularity, the
    quality-optimizing sibling of LPA.  Returns (vertex long, label long).

    Each round every ELIGIBLE vertex v moves to the candidate community C
    (its neighbors' communities ∪ its own) maximizing the modularity gain.
    With Q = Σ_c [inner_c/2m − (Σtot_c/2m)²], moving v into C changes Q by
    a constant plus ``k_{v,C}/m − k_v·Σtot(C∖v)/2m²``, so the argmax is
    over the INTEGER score

        score(v→C) = 2m·k_{v,C} − k_v·Σtot(C∖v)

    (ties → smaller community label) — exact long arithmetic, no float, so
    the assignment is bit-identical in every engine, the same
    exact-determinism rule weighted LPA follows.  Eligibility alternates by
    vertex parity (round r = 1, 2, … moves only v with
    v % 2 == (r − 1) % 2): simultaneous
    moves of adjacent vertices can swap communities and lose quality —
    parity alternation is the standard distributed-Louvain mitigation and
    keeps the fixed-round output deterministic for the oracle twin.

    ``labels`` seeds the refinement (default: singletons = vertex ids; pass
    an LPA run's state to refine it).  Plan per round: two label joins onto
    the persisted symmetrized edges, three hash aggs (per-community Σtot,
    per-(vertex, community) k, per-vertex struct-max argmax) — all
    map-side combined, no windows, hub-safe.

    ``weight_col`` runs WEIGHTED Louvain: k_v, k_{v,C}, Σtot and 2m become
    summed edge weights (INTEGRAL, like weighted LPA — parallel /
    both-direction weights sum), so the gain score 2m·k_{v,C} − k_v·Σtot
    stays exact long arithmetic and the assignment stays bit-portable.
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    if weight_col is not None:
        ew = edges.select("src", "dst", F.col(weight_col).cast("long").alias("_w"))
        und = (
            ew.unionByName(
                ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "_w")
            )
            .where(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.sum("_w").alias("_w"))
            .repartition(p, "src")
            .persist()
        )
        wexpr = F.sum("_w")
    else:
        und = symmetrize(edges).repartition(p, "src").persist()
        wexpr = F.count(F.lit(1))
    deg = und.groupBy(F.col("src").alias("vertex")).agg(wexpr.alias("degv"))
    m2_row = und.agg(wexpr.alias("m2"))  # 2m (weighted: Σw), in-plan broadcast

    def step(state: DataFrame, r: int) -> DataFrame:
        stot = (
            state.join(deg, "vertex")
            .groupBy("label")
            .agg(F.sum("degv").alias("stot"))
        )
        # k_{v,C}: weight from v to each neighbor community C
        nbr_label = state.select(F.col("vertex").alias("dst"), F.col("label").alias("cand"))
        k_vc = (
            und.join(nbr_label, "dst")
            .groupBy(F.col("src").alias("vertex"), "cand")
            .agg(
                (F.sum("_w") if weight_col is not None else F.count(F.lit(1))).alias(
                    "k"
                )
            )
        )
        cur = state.select("vertex", F.col("label").alias("cand"), F.lit(0).cast("long").alias("k"))
        cand = (
            k_vc.unionByName(cur)
            .groupBy("vertex", "cand")
            .agg(F.sum("k").alias("k"))  # cur row adds 0; ensures own community is a candidate
        )
        cur_l = state.select("vertex", F.col("label").alias("cur"))
        scored = (
            cand.join(deg, "vertex")
            .join(stot.withColumnRenamed("label", "cand"), "cand")
            .join(cur_l, "vertex")
            .join(F.broadcast(m2_row))
            .select(
                "vertex",
                "cand",
                "cur",
                (
                    F.col("m2") * F.col("k")
                    - F.col("degv")
                    * (
                        F.col("stot")
                        - F.when(F.col("cand") == F.col("cur"), F.col("degv")).otherwise(F.lit(0))
                    )
                ).alias("score"),
            )
        )
        pick = F.struct(F.col("score").alias("_s"), (-F.col("cand")).alias("_nl"))
        best = (
            scored.where(F.col("vertex") % 2 == F.lit((r - 1) % 2))
            .groupBy("vertex")
            .agg(F.max(pick).alias("_m"))
            .select("vertex", (-F.col("_m._nl")).alias("new_label"))
        )
        return state.join(best, "vertex", "left").select(
            "vertex", F.coalesce("new_label", F.col("label")).alias("label")
        )

    run = superstep_loop(
        spark,
        labels.select("vertex", "label")
        if labels is not None
        else deg.select("vertex", F.col("vertex").alias("label")),
        step,
        algo="louvain_one_level",
        max_supersteps=rounds,
    )
    und.unpersist()
    return run.state


def modularity(spark: SparkSession, edges: DataFrame, labels: DataFrame,
               label_col: str = "label") -> DataFrame:
    """One row (n_communities, modularity) — Newman modularity
    Q = Σ_c [ inner_c/2m − (D_c/2m)² ] of a vertex partition, the standard
    community-quality score (counts over the symmetrized edge set: 2m rows,
    inner_c = same-community rows, D_c = degree mass of community c).

    Plan: two label joins onto the undirected edges + two hash aggs keyed
    by community — balanced unless one community holds most vertices, in
    which case the aggregation's map-side combine already collapses the
    skew.  The 2m total rides in-plan as a broadcast 1-row aggregate.
    """
    und = symmetrize(edges).localCheckpoint(eager=True).transform(guard_stats)
    la = labels.select(F.col("vertex").alias("src"), F.col(label_col).alias("la"))
    lb = labels.select(F.col("vertex").alias("dst"), F.col(label_col).alias("lb"))
    j = und.join(la, "src").join(lb, "dst").localCheckpoint(eager=True).transform(guard_stats)
    m2 = j.agg(F.count(F.lit(1)).cast("double").alias("m2"))
    inner = (
        j.where(F.col("la") == F.col("lb"))
        .groupBy("la")
        .agg(F.count(F.lit(1)).cast("double").alias("inner_c"))
    )
    degmass = j.groupBy("la").agg(F.count(F.lit(1)).cast("double").alias("dc"))
    per = (
        degmass.join(inner, "la", "left")
        .join(F.broadcast(m2))
        .select(
            "la",
            (
                F.coalesce(F.col("inner_c"), F.lit(0.0)) / F.col("m2")
                - (F.col("dc") / F.col("m2")) ** 2
            ).alias("q"),
        )
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum("q").alias("modularity"),
    )


def conductance(spark: SparkSession, edges: DataFrame, labels: DataFrame,
                label_col: str = "label") -> DataFrame:
    """(community, volume, cut, conductance): per-community conductance
    φ(C) = cut(C) / min(vol(C), 2m − vol(C)) — the standard community-
    QUALITY diagnostic (low φ = well-separated; the quantity NCP plots
    and seed-set expansion methods optimize).  Counts over the symmetrized
    edge set: vol(C) = degree mass of C, cut(C) = rows with exactly one
    endpoint in C.

    Same plan shape as ``modularity``: two label joins + community-keyed
    hash aggs with map-side combine; 2m rides in-plan as a broadcast
    1-row aggregate.  volume and cut stay exact LONGs; φ is the only
    float (communities spanning the whole graph get φ = NULL — min(vol,
    2m−vol) = 0 has no defined boundary)."""
    und = symmetrize(edges).localCheckpoint(eager=True).transform(guard_stats)
    la = labels.select(F.col("vertex").alias("src"), F.col(label_col).alias("la"))
    lb = labels.select(F.col("vertex").alias("dst"), F.col(label_col).alias("lb"))
    j = und.join(la, "src").join(lb, "dst").localCheckpoint(eager=True).transform(guard_stats)
    m2 = j.agg(F.count(F.lit(1)).alias("m2"))
    per = j.groupBy(F.col("la").alias("community")).agg(
        F.count(F.lit(1)).alias("volume"),
        F.sum((F.col("la") != F.col("lb")).cast("long")).alias("cut"),
    )
    denom = F.least(F.col("volume"), F.col("m2") - F.col("volume"))
    return per.join(F.broadcast(m2)).select(
        "community",
        "volume",
        "cut",
        F.when(denom > 0, F.round(F.col("cut") / denom, 6)).alias("conductance"),
    )
