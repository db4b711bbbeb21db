"""Weighted betweenness centrality — Brandes over WEIGHTED shortest paths,
the Dijkstra-flavored sibling of the BFS centerpiece (reference repo's
algorithm family; the checkout is empty so no file:line citations are
possible, per SURVEY.md §0).

Brandes' algorithm needs, per source s:

  1. ``dist``  — weighted shortest-path distances,
  2. ``sigma`` — shortest-path COUNTS,
  3. ``delta`` — reverse dependency accumulation
                 δ(v) = Σ_{w : v→w on a shortest path} σ(v)/σ(w) · (1 + δ(w)).

A literal distributed Dijkstra would serialize on its priority queue, so
each batch of sources runs two ``plans/superstep.py::superstep_loop``
runs of frontier-driven DataFrame joins — the execution shape every other
kernel in this engine uses — and ``betweenness._brandes_over_batches``,
the batch driver it shares with ``betweenness_bsp``, folds the deltas:

* **fused dist+sigma+depth** (one fixpoint, r5): frontier Bellman–Ford
  relaxation AND the Brandes path-count recurrence propagate in the SAME
  round.  Each round relaxes distances from the changed frontier, then
  recomputes ``σ(v) = Σ_{(u,v): dist(u)+w == dist(v)} σ(u)`` (source
  pinned at 1) and ``hopd(v) = 1 + max(hopd(u))`` over the same
  qualifying preds, for exactly the vertices the frontier touched.  σ
  computed against a not-yet-final dist is transient — the pred that
  changes re-triggers the recompute — and the fixpoint is the exact
  Brandes recurrence on the acyclic shortest-path DAG.  Rounds ≈ hop
  diameter + small lag, vs the r4 structure (dist fixpoint THEN sigma
  fixpoint) paying ~2× the diameter before delta even starts.  Integral
  weights keep the ``dist(u) + w == dist(v)`` DAG-membership equality
  exact in every engine (the 1e-6/exact twin-oracle rule).
* **delta**: the recurrence run BACKWARD over the σ-ratio-annotated DAG:
  ``δ_k(v) = Σ_succs σ(v)/σ(w) · (1 + δ_{k-1}(w))`` converges bottom-up
  in DAG-depth rounds — and the depth is KNOWN (max ``hopd``, observed
  with the changed-row count on the fused loop's barrier jobs), so the
  sweep runs blind with no per-round convergence check.  No
  per-distance-value driver loop: a 10^12-file graph has too many
  distinct distances to enumerate at the driver, while DAG depth is a
  round count like every other kernel's.

For graphs whose weight spread makes Bellman-Ford relax far vertices
early with non-final distances, ``operators.sssp`` offers delta-stepping
(``delta_width``) for the standalone distance problem; the fused phase
here keeps Δ=∞ since σ-recomputation already piggybacks on every
correction wave.

Scale notes: the weighted edge table is min-combined per (src, dst),
partitioned by src once, persisted; per-round shuffles carry only
frontier/changed rows keyed (source, vertex).  Sources run in batches,
so state never exceeds |batch| × |V| rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness import (
    BetweennessResult,
    CsrArtifact,
    _brandes_over_batches,
    csr_sweep,
    write_csr_artifact,
)
from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import source_frame
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import _weighted_pairs
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import superstep_loop


def _long_weights(weighted_edges: DataFrame) -> DataFrame:
    """``(src, dst, w)`` with ``w`` cast to long (callers reject the
    weights the cast would change)."""
    return weighted_edges.select("src", "dst", F.col("w").cast("long").alias("w"))


def betweenness_weighted(
    spark: SparkSession,
    weighted_edges: DataFrame,
    *,
    sources: list[int] | None = None,
    directed: bool = False,
    batch_size: int = 64,
    max_hops: int = 60,
    num_partitions: int | None = None,
    estimate: bool = False,
) -> BetweennessResult:
    """Exact weighted Brandes partial sums over ``sources`` (default: all
    vertices).  ``weighted_edges`` is (src, dst, w) with STRICTLY POSITIVE
    integral weights — zero weights would put cycles in the "shortest-path
    DAG" and are rejected; integral weights keep dist/sigma arithmetic
    bit-exact so scores match a sequential Brandes at 1e-6 (float enters
    only in delta's σ-ratios, same as the reference).  ``max_hops`` caps
    every phase's rounds (≥ the hop count of the longest shortest path for
    exact results — each phase also early-stops at its fixpoint).
    Undirected scores are halved, matching
    ``networkx.betweenness_centrality(weight=..., normalized=False)``.
    ``estimate=True`` scales the sampled partial sums by n/|sources| —
    the Brandes-Pich 2007 unbiased estimator, identical to the unweighted
    paths' flag (betweenness.py).
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    # Validate on the POST-CAST value: a fractional weight in (0, 1) passes a
    # raw `w <= 0` check but truncates to 0 under the long cast below,
    # recreating exactly the zero-weight cycle case this guard exists to
    # reject.  Non-integral weights are rejected outright (integral weights
    # are what keeps dist/sigma arithmetic bit-exact across engines).
    _w = F.col("w")
    bad = weighted_edges.where(
        (_w.cast("long") <= 0) | (_w.cast("double") != _w.cast("long").cast("double"))
    )
    if bad.limit(1).count():
        raise ValueError(
            "betweenness_weighted requires strictly positive INTEGRAL edge "
            "weights (w <= 0 or non-integral w found) — zero or fractional "
            "weights would corrupt shortest-path hop structure"
        )
    # the first job that reads the table fills its cache
    e = _weighted_pairs(_long_weights(weighted_edges), directed).repartition(p, "src").persist()
    e_in = e.select(F.col("src").alias("u"), F.col("dst").alias("vertex"), "w")

    # ---- fused phase: dist + sigma + DAG-depth in ONE fixpoint ----------
    # r4 ran dist (hop-diameter rounds) THEN sigma (DAG-depth rounds) as
    # separate fixpoints — ~2·D supersteps before delta even starts.  Here
    # both propagate in the same round: relax distances from the changed
    # frontier AND recompute the Brandes pred-sum
    #   σ(v) = Σ_{(u,v): dist(u)+w == dist(v)} σ(u)
    # for every vertex the frontier can have touched (= the candidate set —
    # a vertex's σ/depth inputs can only change via an in-edge from a
    # changed vertex, and those are exactly cand's keys).  The pred-sum uses
    # the PREVIOUS round's (dist, sigma) at u and the CURRENT merged dist at
    # v; one round of staleness just retriggers the recompute (u stays in
    # the change-set), so the fixpoint is the exact Brandes recurrence —
    # reached ~1-2 rounds after distances settle instead of a full extra
    # DAG-depth sweep.  ``hopd`` rides the same max-aggregate (1 + max over
    # qualifying preds): its fixpoint maximum IS the DAG depth, which the
    # delta phase runs blind for.
    def relax(state: DataFrame, _k: int) -> DataFrame:
        frontier = state.where(F.col("chg"))
        cand = (
            frontier.join(e, frontier.vertex == e.src)
            .select(
                "source",
                e.dst.alias("vertex"),
                (F.col("dist") + F.col("w")).alias("cdist"),
            )
            .groupBy("source", "vertex")
            .agg(F.min("cdist").alias("cdist"))
        )
        su = state.select(
            "source",
            F.col("vertex").alias("u"),
            F.col("dist").alias("du"),
            F.col("sigma").alias("sigma_u"),
            F.col("hopd").alias("hopd_u"),
        )
        sv = state.select(
            "source",
            "vertex",
            F.col("dist").alias("dv_old"),
            F.col("sigma").alias("sig_old"),
            F.col("hopd").alias("hopd_old"),
        )
        qualify = F.col("du") + F.col("w") == F.col("dv")
        touched = (
            cand.join(e_in, "vertex")
            .join(su, ["source", "u"])
            .join(sv, ["source", "vertex"], "left")
            .withColumn("dv", F.least("dv_old", "cdist"))
            .groupBy("source", "vertex")
            .agg(
                F.first("dv").alias("dist"),
                F.first("dv_old").alias("dv_old"),
                F.first("sig_old").alias("sig_old"),
                F.first("hopd_old").alias("hopd_old"),
                F.sum(F.when(qualify, F.col("sigma_u"))).alias("nsig"),
                F.max(F.when(qualify, F.col("hopd_u") + 1)).alias("nhopd"),
            )
        )
        is_src = F.col("vertex") == F.col("source")
        new_sigma = F.when(is_src, F.lit(1.0)).otherwise(F.coalesce("nsig", F.lit(0.0)))
        new_hopd = F.when(is_src, F.lit(0)).otherwise(F.coalesce("nhopd", F.lit(0)))
        changed = (
            ~F.col("dist").eqNullSafe(F.col("dv_old"))
            | ~new_sigma.eqNullSafe(F.col("sig_old"))
            | ~new_hopd.eqNullSafe(F.col("hopd_old"))
        )
        tfinal = touched.select(
            "source",
            "vertex",
            "dist",
            new_sigma.alias("sigma"),
            new_hopd.alias("hopd"),
            changed.alias("chg"),
        )
        untouched = state.join(
            cand.select("source", "vertex"), ["source", "vertex"], "left_anti"
        ).select("source", "vertex", "dist", "sigma", "hopd", F.lit(False).alias("chg"))
        return untouched.unionByName(tfinal)

    def run_batch(batch: list[int]) -> tuple[DataFrame, int, int]:
        # each barrier observes (changed rows, max hopd): the last one seen
        # gives the final state's DAG depth without an aggregate job
        depth = [0]

        def settled(_, value) -> bool:
            changed, depth[0] = value
            return changed == 0

        fwd = superstep_loop(
            spark,
            source_frame(spark, batch).select(
                "source",
                F.col("source").alias("vertex"),
                F.lit(0).cast("long").alias("dist"),
                F.lit(1.0).alias("sigma"),
                F.lit(0).alias("hopd"),
                F.lit(True).alias("chg"),
            ),
            relax,
            algo="brandes_weighted",
            max_supersteps=max_hops,
            converge_on=F.struct(F.count_if("chg"), F.coalesce(F.max("hopd"), F.lit(0))),
            converged_fn=settled,
        )
        # ---- shortest-path DAG with σ-ratios: dist(u) + w == dist(v) ----
        dist = fwd.state.select("source", "vertex", "dist")
        du = dist.select("source", F.col("vertex").alias("src"), F.col("dist").alias("du"))
        dv = dist.select("source", F.col("vertex").alias("dst"), F.col("dist").alias("dv"))
        dag = (
            e.join(du, "src")
            .join(dv, ["source", "dst"])
            .where(F.col("du") + F.col("w") == F.col("dv"))
            .select("source", "src", "dst")
            .repartition(p, "source", "dst")
            .persist()
        )
        traversed = dag.count()

        # ---- delta phase, backward over the DAG -------------------------
        # Round count is KNOWN, not detected: the fused phase's ``hopd``
        # maximum IS the DAG depth, and delta propagated leaf-up is
        # stationary after depth-1 rounds (the deepest vertices' delta=0 is
        # already final; each round finalizes one level up).  Running them
        # blind drops the per-round convergence test.
        #
        # The σ-ratio on each DAG edge never changes across delta rounds —
        # join sigma into the DAG ONCE (σ(u)/σ(w) per edge, persisted) so
        # the per-round plan is one join + one hash agg + the state merge,
        # instead of re-joining sigma at both endpoints every round.
        sv = fwd.state.select("source", "vertex", "sigma")
        su = sv.select("source", F.col("vertex").alias("src"), F.col("sigma").alias("sigma_u"))
        sw = sv.select("source", F.col("vertex").alias("dst"), F.col("sigma").alias("sigma_w"))
        dag_r = (
            dag.join(su, ["source", "src"])
            .join(sw, ["source", "dst"])
            .select(
                "source",
                "src",
                "dst",
                (F.col("sigma_u") / F.col("sigma_w")).alias("ratio"),
            )
            .repartition(p, "source", "dst")
            .persist()
        )

        # δ(v) = Σ_{w succ} σ(v)/σ(w) · (1 + δ(w)) — recomputed in full each
        # round; stationary once rounds reach the DAG depth
        def accumulate(delta: DataFrame, _k: int) -> DataFrame:
            dw = delta.select(
                "source", F.col("vertex").alias("dst"), F.col("delta").alias("delta_w")
            )
            contrib = (
                dag_r.join(dw, ["source", "dst"])
                .groupBy("source", F.col("src").alias("vertex"))
                .agg(F.sum(F.col("ratio") * (F.lit(1.0) + F.col("delta_w"))).alias("d"))
            )
            return (
                sv.select("source", "vertex")
                .join(contrib, ["source", "vertex"], "left")
                .select("source", "vertex", F.coalesce("d", F.lit(0.0)).alias("delta"))
            )

        bwd = superstep_loop(
            spark,
            sv.select("source", "vertex", F.lit(0.0).alias("delta")),
            accumulate,
            algo="brandes_weighted_delta",
            max_supersteps=min(max(depth[0] - 1, 0), max_hops),
        )
        dag_r.unpersist()
        dag.unpersist()
        return bwd.state, fwd.supersteps + bwd.supersteps, traversed

    res = _brandes_over_batches(spark, e, sources, batch_size, directed, estimate, run_batch)
    e.unpersist()
    return res


# ---------------------------------------------------------------------------
# Weighted CSR + source-parallel numpy fast path — the Dijkstra-Brandes
# sibling of betweenness.betweenness_csr_sweep.  It shares the artifact writer
# and the sweep driver (betweenness.write_csr_artifact / csr_sweep); only the
# per-source kernel is its own.  Integral weights let the kernel use Dial's
# bucket levels (process distances 0,1,2,… in order; weights ≥ 1 mean a level
# is settled when reached), so all three passes are the same gather/scatter
# vectorization as the unweighted kernel with "BFS level" replaced by
# "distance level" — no per-edge Python loop, no heap.
# ---------------------------------------------------------------------------

_INF = np.iinfo(np.int64).max


def _brandes_weighted_numpy(
    indptr: np.ndarray,
    indices: np.ndarray,
    wts: np.ndarray,
    n: int,
    sources: np.ndarray,
) -> np.ndarray:
    """Dijkstra-Brandes partial sums via Dial's distance levels.

    Pass 1 settles distances level-by-level (np.minimum.at scatter-min of
    d + w over each level's out-edges — with integral weights ≥ 1, every
    vertex at distance d is final once levels < d have expanded).  Pass 2
    runs the sigma DP over ascending distance levels using the additive
    certificate dist[u] == dist[v] + w(v,u); pass 3 the delta DP over
    descending levels.  Same-level edges cannot exist (w ≥ 1), so each
    level's scatter is safe."""
    bc = np.zeros(n, dtype=np.float64)

    def expand(frontier):
        starts, ends = indptr[frontier], indptr[frontier + 1]
        counts = ends - starts
        total = counts.sum()
        if total == 0:
            return None
        idx = np.repeat(starts - np.cumsum(counts) + counts, counts) + np.arange(
            total
        )
        return counts, indices[idx], wts[idx]

    for s in sources:
        dist = np.full(n, _INF, dtype=np.int64)
        dist[s] = 0
        d = 0
        while True:
            frontier = np.nonzero(dist == d)[0]
            if frontier.size:
                ex = expand(frontier)
                if ex is not None:
                    _, nbrs, ew = ex
                    np.minimum.at(dist, nbrs, d + ew)
            d += 1
            finite = dist[dist < _INF]
            if finite.size == 0 or d > finite.max():
                break

        levels = np.unique(dist[dist < _INF])
        sigma = np.zeros(n, dtype=np.float64)
        sigma[s] = 1.0
        for d in levels:
            frontier = np.nonzero(dist == d)[0]
            ex = expand(frontier)
            if ex is None:
                continue
            counts, nbrs, ew = ex
            mask = dist[nbrs] == d + ew
            np.add.at(sigma, nbrs[mask], np.repeat(sigma[frontier], counts)[mask])

        delta = np.zeros(n, dtype=np.float64)
        for d in levels[::-1]:
            frontier = np.nonzero(dist == d)[0]
            ex = expand(frontier)
            if ex is None:
                continue
            counts, nbrs, ew = ex
            vrep = np.repeat(frontier, counts)
            mask = dist[nbrs] == d + ew
            contrib = (
                sigma[vrep[mask]] / sigma[nbrs[mask]] * (1.0 + delta[nbrs[mask]])
            )
            np.add.at(delta, vrep[mask], contrib)
        delta[s] = 0.0
        bc += delta
    return bc


def prepare_csr_weighted(
    spark: SparkSession,
    weighted_edges: DataFrame,
    *,
    directed: bool = False,
    artifact_dir: str | None = None,
) -> tuple[CsrArtifact, DataFrame]:
    """One-off distributed weighted-CSR prep — the weighted twin of
    betweenness.prepare_csr: dedup/symmetrize (parallel edges keep the
    minimum weight) and write the (src, dst, w) table with
    ``write_csr_artifact``, returning (handle, default source DataFrame).

    Weights must be strictly positive integers.  The bad-weight count is
    observed on the write job, and the call raises (removing the artifact)
    before any sweep can run on it."""
    w = F.col("w")
    checked = Observation()
    raw = weighted_edges.select("src", "dst", "w").observe(
        checked, F.count_if((w <= 0) | (w != w.cast("long"))).alias("bad")
    )
    art, default_sources = write_csr_artifact(
        spark, _weighted_pairs(_long_weights(raw), directed), artifact_dir, weighted=True
    )
    if checked.get["bad"]:
        art.cleanup()
        raise ValueError(
            "weighted CSR requires strictly positive integral weights "
            "(Dial's levels settle by integer distance)"
        )
    return art, default_sources


def betweenness_weighted_csr_sweep(
    spark: SparkSession,
    csr: CsrArtifact,
    sources: "DataFrame | list[int]",
    *,
    directed: bool = False,
    num_partitions: int | None = None,
) -> BetweennessResult:
    """Source-parallel Dijkstra-Brandes over a ``prepare_csr_weighted``
    artifact: betweenness.csr_sweep with ``_brandes_weighted_numpy``."""
    return csr_sweep(
        spark,
        csr,
        _brandes_weighted_numpy,
        sources,
        directed=directed,
        num_partitions=num_partitions,
    )
