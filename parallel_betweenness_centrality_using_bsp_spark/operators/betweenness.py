"""Betweenness centrality (Brandes 2001) — the engine's centerpiece.

Two interchangeable implementations, cross-checked in tests:

``betweenness_bsp``
    The north_star formulation: BSP-superstep multi-source BFS frontier
    expansion + reverse-order dependency accumulation as **iterative
    DataFrame joins**, both phases on ``superstep_loop``: the forward phase
    is ``bfs.bfs_levels``, and the backward phase runs the stored levels in
    reverse.  State is keyed by (source, vertex); one BFS level == one
    superstep == one checkpoint job wave (shuffle = the reference's
    bsp_put/bsp_send message exchange, the loop's barrier = bsp_sync), and
    the counts a level needs are observed on that job.  The backward phase
    pushes too: each row of level d+1 sends ``(1 + delta) / sigma`` over
    its in-edges and one combining aggregate keeps what reaches level d.
    The edge table is
    hash-partitioned by src once and persisted; small frontiers are
    broadcast to turn the frontier×edges join into a broadcast join.
    Sources run in batches through ``_brandes_over_batches``, the one
    driver it shares with weighted Brandes
    (``betweenness_weighted.betweenness_weighted``): it streams the
    batches, folds each batch's deltas into the scores and scales them.

``betweenness_csr``
    The fast path when the graph (not the state) fits per executor:
    ``prepare_csr`` writes the edge table to a parquet artifact in one
    distributed job that also observes ``max(id)`` and the edge count, so no
    table reaches the driver and nothing is read back.  The sweep then runs
    one wave of at most ``p`` Python tasks, parallel over SOURCES: each
    worker builds and caches a numpy CSR from the artifact, and each Arrow
    batch of sources runs a vectorized numpy Brandes inside
    ``mapInPandas``.  The sparse partial sums and one zero row per vertex
    meet in one aggregation, so every id 0..n-1 scores without a join.  The
    weighted twin (``betweenness_weighted.prepare_csr_weighted``) shares the
    artifact writer and the sweep driver; only its kernel differs.  At
    10^12-vertex scale exact betweenness is infeasible for any engine; the
    standard practice is source sampling (Brandes & Pich, "Centrality
    Estimation in Large Networks", 2007) — pass ``sources=`` a sample and
    both implementations compute the partial sums exactly.

Both accept directed or undirected graphs; undirected scores are halved to
match ``networkx.betweenness_centrality(normalized=False)``.
"""

from __future__ import annotations

import tempfile
import time
from dataclasses import dataclass
from functools import reduce
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import _BROADCAST_FRONTIER_MAX
from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import _observed_rows
from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import bfs_levels
from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import prepare_adjacency
from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import source_frame
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import endpoints
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import traversal_edges
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import guard_stats
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import superstep_loop


@dataclass
class BetweennessResult:
    bc: DataFrame  # (vertex long, bc double)
    supersteps: int = 0
    edges_traversed: int = 0
    wall_s: float = 0.0
    state: DataFrame | None = None  # (source, vertex, dist, sigma, delta) if requested

    @property
    def supersteps_per_sec(self) -> float:
        return self.supersteps / self.wall_s if self.wall_s else 0.0

    @property
    def edges_traversed_per_sec(self) -> float:
        return self.edges_traversed / self.wall_s if self.wall_s else 0.0


def _checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True).transform(guard_stats)


def _source_batches(vertices: DataFrame, sources, batch_size: int):
    """Yield source-id batches WITHOUT materializing the full vertex set at
    the driver: an explicit ``sources`` list is chunked; the default (all
    vertices) streams partition-by-partition via ``toLocalIterator`` — at
    10^12 vertices the driver holds one batch, never the id universe."""
    if sources is not None:
        for i in range(0, len(sources), batch_size):
            yield [int(s) for s in sources[i : i + batch_size]]
        return
    batch: list[int] = []
    for row in vertices.select("vertex").toLocalIterator():
        batch.append(int(row["vertex"]))
        if len(batch) == batch_size:
            yield batch
            batch = []
    if batch:
        yield batch


# ---------------------------------------------------------------------------
# Pure-DataFrame BSP implementation
# ---------------------------------------------------------------------------

def _dependencies(levels: list[DataFrame], sizes: list[int], e_in: DataFrame) -> list[DataFrame]:
    """The forward ``levels`` with Brandes' ``delta``, deepest first, from
    one ``superstep_loop`` run whose step records each level it is handed.
    Its initial state is step 0 on the deepest level (delta 0 there), so
    the loop's initial barrier already computes the first backward level."""
    deepest = levels[-1].withColumn("delta", F.lit(0.0))
    if len(levels) == 1:
        return [deepest]
    deltas: list[DataFrame] = []

    # Level d+1 pushes (1 + delta_w) / sigma_w to its in-neighbours; of
    # those, only level-d rows are its BFS parents, so keeping the groups
    # that hold a level-d row gives delta_v = sigma_v * sum (Brandes).
    def step(nxt: DataFrame, k: int) -> DataFrame:
        deltas.append(nxt)
        d = len(levels) - 2 - k
        f = F.broadcast(nxt) if sizes[d + 1] <= _BROADCAST_FRONTIER_MAX else nxt
        pushed = f.join(e_in, f.vertex == e_in.src).select(
            "source",
            e_in.dst.alias("vertex"),
            ((F.lit(1.0) + f.delta) / f.sigma).alias("_c"),
        )
        return (
            levels[d].withColumn("_c", F.lit(0.0))
            .unionByName(pushed, allowMissingColumns=True)
            .groupBy("source", "vertex")
            .agg(
                F.max("dist").alias("dist"),
                F.max("sigma").alias("sigma"),
                F.sum("_c").alias("_c"),
            )
            .where(F.col("dist").isNotNull())
            .select(
                "source",
                "vertex",
                "dist",
                "sigma",
                (F.col("sigma") * F.col("_c")).alias("delta"),
            )
        )

    run = superstep_loop(
        deepest.sparkSession, step(deepest, 0), step, algo="brandes", max_supersteps=len(levels) - 2
    )
    return deltas + [run.state]


def _brandes_over_batches(
    spark: SparkSession,
    e: DataFrame,
    sources: list[int] | None,
    batch_size: int,
    directed: bool,
    estimate: bool,
    run_batch: Callable[[list[int]], tuple[DataFrame, int, int]],
    return_state: bool = False,
) -> BetweennessResult:
    """Brandes over the edge table ``e``, one source batch at a time: the
    driver both BSP Brandes share.

    ``run_batch(batch) -> (state, supersteps, edges_traversed)`` runs one
    batch; ``state`` holds ``(source, vertex, delta)`` for every vertex the
    batch reached.  Each batch's deltas fold into the score accumulator,
    which starts as one zero row per endpoint of ``e`` so that every vertex
    scores (the first fold's ``groupBy`` collapses the duplicates).
    ``estimate=True`` scales the sums by n/|sources| (Brandes & Pich)."""
    t0 = time.monotonic()
    ends = endpoints(e)
    # the default source set streams every vertex, so it needs them distinct
    vertices = ends.distinct() if sources is None else None
    bc_acc = ends.select("vertex", F.lit(0.0).alias("bc"))
    state_acc: DataFrame | None = None
    n_sources = 0
    total_steps = 0
    total_edges_traversed = 0

    for batch in _source_batches(vertices, sources, batch_size):
        n_sources += len(batch)
        state, steps, traversed = run_batch(batch)
        total_steps += steps
        total_edges_traversed += traversed
        batch_bc = state.where(F.col("vertex") != F.col("source")).select(
            "vertex", F.col("delta").alias("bc")
        )
        bc_acc = _checkpoint(
            bc_acc.unionByName(batch_bc).groupBy("vertex").agg(F.sum("bc").alias("bc"))
        )
        if return_state:
            state_acc = _checkpoint(
                state if state_acc is None else state_acc.unionByName(state)
            )

    if not n_sources:  # no batch ran to collapse the endpoint rows
        bc_acc = _checkpoint(bc_acc.distinct())
    scale = 1.0 if directed else 0.5
    if estimate:
        scale *= bc_acc.count() / max(n_sources, 1)
    return BetweennessResult(
        bc=bc_acc.select("vertex", (F.col("bc") * F.lit(scale)).alias("bc")),
        supersteps=total_steps,
        edges_traversed=total_edges_traversed,
        wall_s=time.monotonic() - t0,
        state=state_acc,
    )


def betweenness_bsp(
    spark: SparkSession,
    edges: DataFrame,
    *,
    sources: list[int] | None = None,
    directed: bool = False,
    batch_size: int = 64,
    num_partitions: int | None = None,
    return_state: bool = False,
    estimate: bool = False,
) -> BetweennessResult:
    """Exact Brandes over the given sources (default: every vertex,
    streamed batch-by-batch from the vertices DataFrame).

    ``estimate=True`` scales the sampled partial sums by n/|sources| — the
    Brandes & Pich (2007) estimator of FULL betweenness from a source
    sample (unbiased for a uniform sample; identical to exact when the
    sample is every vertex)."""
    e = prepare_adjacency(spark, edges, directed, num_partitions)
    # the backward phase sends along in-edges: the same table when undirected
    e_in = e
    if directed:
        reversed_edges = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        e_in = prepare_adjacency(spark, reversed_edges, True, num_partitions)

    def run_batch(batch: list[int]) -> tuple[DataFrame, int, int]:
        # ---- forward phase: multi-source BFS, one level per superstep ----
        levels, sizes, messages = bfs_levels(
            source_frame(spark, batch).select(
                "source",
                F.col("source").alias("vertex"),
                F.lit(0).alias("dist"),
                F.lit(1.0).alias("sigma"),
            ),
            e,
        )
        # ---- backward phase: reverse-order dependency accumulation ----
        deltas = _dependencies(levels, sizes, e_in)
        # every forward level was expanded, the final empty one included
        steps = len(levels) + len(deltas) - 1
        return reduce(DataFrame.unionByName, deltas), steps, messages

    res = _brandes_over_batches(
        spark, e, sources, batch_size, directed, estimate, run_batch, return_state
    )
    e.unpersist()
    e_in.unpersist()
    return res


# ---------------------------------------------------------------------------
# Broadcast-CSR + source-parallel numpy fast path
# ---------------------------------------------------------------------------

def _brandes_numpy(
    indptr: np.ndarray, indices: np.ndarray, n: int, sources: np.ndarray
) -> np.ndarray:
    """Vectorized-ish Brandes partial sums for the given sources.

    Frontier expansion uses numpy gather/scatter over the CSR arrays —
    per-level np.repeat/np.add.at instead of per-vertex python loops.
    """
    bc = np.zeros(n, dtype=np.float64)
    for s in sources:
        dist = np.full(n, -1, dtype=np.int64)
        sigma = np.zeros(n, dtype=np.float64)
        dist[s] = 0
        sigma[s] = 1.0
        frontier = np.array([s], dtype=np.int64)
        levels = [frontier]
        d = 0
        while frontier.size:
            d += 1
            starts, ends = indptr[frontier], indptr[frontier + 1]
            counts = ends - starts
            if counts.sum() == 0:
                break
            # gather all neighbors of the frontier + the sigma of their parents
            idx = np.repeat(starts - np.cumsum(counts) + counts, counts) + np.arange(
                counts.sum()
            )
            nbrs = indices[idx]
            par_sigma = np.repeat(sigma[frontier], counts)
            unvisited = dist[nbrs] == -1
            newly = np.unique(nbrs[unvisited])
            dist[newly] = d
            on_level = dist[nbrs] == d
            np.add.at(sigma, nbrs[on_level], par_sigma[on_level])
            frontier = newly
            if newly.size:
                levels.append(newly)
        # reverse accumulation, parent-side: iterate levels deep → shallow
        delta = np.zeros(n, dtype=np.float64)
        for li in range(len(levels) - 2, -1, -1):
            vs = levels[li]
            starts, ends = indptr[vs], indptr[vs + 1]
            counts = ends - starts
            if counts.sum() == 0:
                continue
            idx = np.repeat(starts - np.cumsum(counts) + counts, counts) + np.arange(
                counts.sum()
            )
            nbrs = indices[idx]
            vrep = np.repeat(vs, counts)
            mask = dist[nbrs] == dist[vrep] + 1
            contrib = np.zeros(counts.sum(), dtype=np.float64)
            contrib[mask] = (
                sigma[vrep[mask]] / sigma[nbrs[mask]] * (1.0 + delta[nbrs[mask]])
            )
            np.add.at(delta, vrep, contrib)
        delta[s] = 0.0
        bc += delta
    return bc


def build_csr_arrays(
    src: np.ndarray, dst: np.ndarray, n: int, *payload: np.ndarray
) -> tuple[np.ndarray, ...]:
    """CSR ``(indptr, indices, *payload)`` from parallel src/dst arrays with
    dense ids 0..n-1; each payload array (edge weights) follows its edge."""
    order = np.lexsort((dst, src))
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.add.at(indptr, src + 1, 1)
    np.cumsum(indptr, out=indptr)
    return (indptr, dst[order], *(a[order] for a in payload))


# Per-worker-process CSR cache: each executor's Python workers build the CSR
# from the parquet artifact ONCE and reuse it across every sweep/task.  Keyed
# by artifact path; holds a single entry (a new artifact evicts the old).
_CSR_CACHE: dict[str, tuple] = {}


@dataclass(frozen=True)
class CsrArtifact:
    """Picklable handle to an executor-side CSR.

    ``prepare_csr`` (or ``prepare_csr_weighted``) writes the deduped edge
    table to a parquet artifact (shared storage on a real cluster; tmpdir in
    local mode) and ships only this tiny handle to tasks.  Each Python worker
    lazily builds the numpy CSR from the artifact and caches it per process —
    the DRIVER never materializes the edge table (the r1 driver-side collect
    was an OOM scale-killer at 100×).  This path targets graphs whose CSR
    fits per executor (10^9 edges ≈ 8 GB); beyond that use
    ``betweenness_bsp``.  A ``weighted`` artifact carries a ``w`` column and
    loads as ``(indptr, indices, weights, n)``, otherwise as
    ``(indptr, indices, n)``: the argument order of the matching kernel.
    """

    path: str
    n: int
    n_edges: int
    weighted: bool = False

    @property
    def columns(self) -> list[str]:
        return ["src", "dst", "w"] if self.weighted else ["src", "dst"]

    @property
    def _pyarrow_uri(self) -> str:
        # Spark writes s3a:// URIs; pyarrow's S3 filesystem answers to s3://
        return self.path.replace("s3a://", "s3://", 1)

    def load(self) -> tuple:
        hit = _CSR_CACHE.get(self.path)
        if hit is None:
            import pyarrow.dataset as pads

            # dataset() resolves local paths AND object-store URIs (s3://,
            # hdfs://, gs://) via FileSystem.from_uri; default
            # ignore_prefixes skips Spark's _SUCCESS / hidden files
            t = pads.dataset(self._pyarrow_uri, format="parquet").to_table(
                columns=self.columns
            )
            src, dst, *payload = (
                t.column(c).to_numpy(zero_copy_only=False).astype(np.int64)
                for c in self.columns
            )
            _CSR_CACHE.clear()
            hit = (*build_csr_arrays(src, dst, self.n, *payload), self.n)
            _CSR_CACHE[self.path] = hit
        return hit

    def cleanup(self) -> None:
        if "://" in self.path and not self.path.startswith("file:"):
            try:
                from pyarrow import fs as pafs

                f, p = pafs.FileSystem.from_uri(self._pyarrow_uri)
                f.delete_dir(p)
            except Exception:  # best effort — a leaked artifact is not fatal
                pass
        else:
            import shutil

            shutil.rmtree(self.path.removeprefix("file:"), ignore_errors=True)


def write_csr_artifact(
    spark: SparkSession,
    e: DataFrame,
    artifact_dir: str | None,
    *,
    weighted: bool = False,
) -> tuple[CsrArtifact, DataFrame]:
    """Write the edge table ``e`` (``src, dst`` plus ``w`` when weighted) as
    a CSR artifact: ``(CsrArtifact, default_sources)``.

    The write is the only job: ``max(id)`` and the edge count are
    ``DataFrame.observe`` metrics of it, so nothing is read back and only
    two scalars reach the driver.  Dense vertex ids 0..n-1 are the contract
    (``densify_vertices`` first), so the default source set is
    ``spark.range(n)`` — a DataFrame, never a driver-side Python list
    (10^9 vertices would be tens of GB of driver memory as a list).
    """
    path = artifact_dir or tempfile.mkdtemp(prefix="spark_csr_")
    obs = Observation()
    e.observe(
        obs,
        F.max(F.greatest("src", "dst")).alias("mx"),
        F.count(F.lit(1)).alias("m"),
    ).write.mode("overwrite").parquet(path)
    seen = obs.get
    n = 0 if seen["mx"] is None else int(seen["mx"]) + 1
    art = CsrArtifact(path=path, n=n, n_edges=int(seen["m"]), weighted=weighted)
    csr_gb = (art.n_edges * (len(art.columns) - 1) + art.n + 1) * 8 / 1e9
    if csr_gb > 4.0:
        import logging

        logging.getLogger(__name__).warning(
            "CSR will occupy ~%.1f GB PER PYTHON WORKER (%d edges) — each "
            "concurrent task slot's worker caches its own copy, so budget "
            "~%.1f GB x slots per executor, or switch to betweenness_bsp / "
            "source sampling",
            csr_gb, art.n_edges, csr_gb,
        )
    return art, spark.range(art.n).select(F.col("id").alias("source"))


def prepare_csr(
    spark: SparkSession,
    edges: DataFrame,
    *,
    directed: bool = False,
    artifact_dir: str | None = None,
) -> tuple[CsrArtifact, DataFrame]:
    """One-off distributed CSR prep: (CsrArtifact, default_sources).

    Dedup/symmetrize run as Spark stages feeding ``write_csr_artifact``'s
    one write job; the edge table is written, never collected.  Pass
    ``artifact_dir`` on a cluster (s3a://…); local mode defaults to a
    tmpdir.
    """
    return write_csr_artifact(spark, traversal_edges(edges, directed), artifact_dir)


def csr_sweep(
    spark: SparkSession,
    csr: CsrArtifact,
    kernel,
    sources: "DataFrame | list[int]",
    *,
    directed: bool = False,
    num_partitions: int | None = None,
) -> BetweennessResult:
    """The source-parallel sweep both CSR paths share: each Arrow batch of
    sources runs ``kernel(*csr.load(), sources)`` against the worker-cached
    CSR; the sparse partial bc vectors and one zero row per vertex sum in
    one hash aggregation, so every id 0..n-1 scores.

    ``sources`` is a DataFrame with one long column (any name — aliased to
    ``source``), e.g. the artifact's default ``spark.range(n)``, so the
    source universe never lands on the driver; its size is observed on the
    sweep's own job.  A small explicitly-sampled Python list is also
    accepted.
    """
    t0 = time.monotonic()
    p = num_partitions or spark.sparkContext.defaultParallelism
    # One wave of Python tasks.  Every Python task pays about 0.2 s of fixed
    # CPU before the UDF's first line runs, worker reuse or not: pyspark's
    # setup_spark_files calls importlib.invalidate_caches() on every task,
    # and zipimport then re-reads the central directory of each zip on the
    # worker's sys.path (pyspark.zip, the py4j zip, the spark-core jar).  A
    # no-op task on one partition shows an executorRunTime of 0.15-0.26 s
    # (4 vCPU, pyspark 4.1.2), against 30-90 ms of UDF work per kernel task
    # on a 64-source, 29k-pair sweep.  So the sweep runs at most p kernel
    # tasks, not more waves of smaller ones.  A source list is built already split into
    # min(p, |sources|) slices, with no shuffle for AQE to coalesce.  A
    # sources DataFrame is repartition(p)ed: REPARTITION_BY_NUM is exempt
    # from AQE's coalescing, which would merge the few-KB table into one
    # task and serialize the sweep.
    if isinstance(sources, DataFrame):
        src_df, seen = _observed_rows(
            sources.select(F.col(sources.columns[0]).cast("long").alias("source"))
        )
        src_df = src_df.repartition(p)
    else:
        src_df, seen = source_frame(spark, sources, max(1, min(p, len(sources)))), None

    def run_batches(batches):
        arrays = csr.load()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bc = kernel(*arrays, pdf["source"].to_numpy(dtype=np.int64))
            nz = np.nonzero(bc)[0]
            yield pd.DataFrame({"vertex": nz.astype(np.int64), "bc": bc[nz]})

    zeros = spark.range(csr.n).select(F.col("id").alias("vertex"), F.lit(0.0).alias("bc"))
    scale = 1.0 if directed else 0.5
    bc = (
        src_df.mapInPandas(run_batches, "vertex long, bc double")
        .unionByName(zeros)
        .groupBy("vertex")
        .agg((F.sum("bc") * F.lit(scale)).alias("bc"))
        .localCheckpoint(eager=True)
        .transform(guard_stats)
    )
    n_sources = len(sources) if seen is None else seen.get["rows"]
    return BetweennessResult(
        bc=bc,
        supersteps=n_sources,
        edges_traversed=n_sources * csr.n_edges,
        wall_s=time.monotonic() - t0,
    )


def betweenness_csr_sweep(
    spark: SparkSession,
    csr: CsrArtifact,
    sources: "DataFrame | list[int]",
    *,
    directed: bool = False,
    num_partitions: int | None = None,
) -> BetweennessResult:
    """``csr_sweep`` with the BFS Brandes kernel over a ``prepare_csr``
    artifact."""
    return csr_sweep(
        spark, csr, _brandes_numpy, sources, directed=directed, num_partitions=num_partitions
    )


def betweenness_csr(
    spark: SparkSession,
    edges: DataFrame,
    *,
    sources: "DataFrame | list[int] | None" = None,
    directed: bool = False,
    num_partitions: int | None = None,
    estimate: bool = False,
    artifact_dir: str | None = None,
) -> BetweennessResult:
    """Executor-built-CSR Brandes, parallel over sources via mapInPandas.

    Requires dense vertex ids 0..n-1 (run ``densify_vertices`` first) and a
    graph whose CSR fits in executor memory (10^9 edges ≈ 8 GB — beyond
    that, use ``betweenness_bsp`` or sample sources).  ``estimate=True``
    scales sampled partial sums by n/|sources| (Brandes & Pich 2007).
    ``artifact_dir`` is where the CSR parquet artifact lands — REQUIRED to
    be shared storage (s3a://…, hdfs://…) on a multi-node cluster, since
    every executor's workers read it; the driver-local tmpdir default only
    works in local mode.
    """
    t0 = time.monotonic()
    art, default_sources = prepare_csr(
        spark, edges, directed=directed, artifact_dir=artifact_dir
    )
    use_sources = sources if sources is not None else default_sources
    try:
        res = betweenness_csr_sweep(
            spark,
            art,
            use_sources,
            directed=directed,
            num_partitions=num_partitions,
        )
        if estimate and res.supersteps:
            factor = art.n / res.supersteps
            res.bc = res.bc.select(
                "vertex", (F.col("bc") * F.lit(factor)).alias("bc")
            ).localCheckpoint(eager=True).transform(guard_stats)
    finally:
        # the sweep eagerly checkpoints bc, so the artifact is disposable
        art.cleanup()
    res.wall_s = time.monotonic() - t0
    return res


def edge_betweenness_bsp(
    spark: SparkSession,
    edges: DataFrame,
    *,
    sources: list[int] | None = None,
    directed: bool = False,
    batch_size: int = 64,
    num_partitions: int | None = None,
) -> DataFrame:
    """Edge betweenness centrality (Brandes 2008 variant) — credit every
    edge on a shortest path, not just its endpoints.

    Matches ``networkx.edge_betweenness_centrality(normalized=False)`` when
    ``sources`` is every vertex; a source subset computes the sampled
    partial sums exactly (both sides of the oracle gate agree on the same
    subset).  The community-detection use (Girvan-Newman) removes the
    top-scoring edges.

    Plan shape: runs the BSP Brandes forward+backward phases once
    (``betweenness_bsp(return_state=True)``), then derives per-edge credit
    from the final per-(source, vertex) state with ONE extra join pass —
    for each DAG edge (v, w) with ``dist_w == dist_v + 1``::

        credit(v, w) += sigma_v / sigma_w * (1 + delta_w)

    summed over sources; undirected scores are canonicalized to
    ``(a, b) = (min, max)`` and halved, mirroring the vertex convention.
    The state×edges join shuffles on the edge key — no new plan primitive,
    no driver-side state.

    Returns ``(a long, b long, ebc double)`` (undirected) or
    ``(src long, dst long, ebc double)`` (directed); edges on no shortest
    path score 0.0 and are present.
    """
    res = betweenness_bsp(
        spark,
        edges,
        sources=sources,
        directed=directed,
        batch_size=batch_size,
        num_partitions=num_partitions,
        return_state=True,
    )
    st = res.state
    e = traversal_edges(edges, directed)
    sv = st.select(
        "source",
        F.col("vertex").alias("src"),
        F.col("dist").alias("_dv"),
        F.col("sigma").alias("_sigma_v"),
    )
    sw = st.select(
        "source",
        F.col("vertex").alias("dst"),
        F.col("dist").alias("_dw"),
        F.col("sigma").alias("_sigma_w"),
        F.col("delta").alias("_delta_w"),
    )
    credit = (
        e.join(sv, "src")
        .join(sw, ["source", "dst"])
        .where(F.col("_dw") == F.col("_dv") + 1)
        .select(
            "src",
            "dst",
            ((F.col("_sigma_v") / F.col("_sigma_w")) * (F.lit(1.0) + F.col("_delta_w"))).alias(
                "_c"
            ),
        )
    )
    if directed:
        keyed = credit
        out_edges = e
        ka, kb = "src", "dst"
        scale = 1.0
    else:
        keyed = credit.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "_c",
        )
        out_edges = e.where(F.col("src") < F.col("dst")).select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        )
        ka, kb = "a", "b"
        scale = 0.5
    agg = keyed.groupBy(ka, kb).agg(F.sum("_c").alias("_ebc"))
    return out_edges.join(agg, [ka, kb], "left").select(
        ka,
        kb,
        (F.coalesce(F.col("_ebc"), F.lit(0.0)) * F.lit(scale)).alias("ebc"),
    )
