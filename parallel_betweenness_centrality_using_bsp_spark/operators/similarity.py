"""Similarity search over embedding columns (array<float>).

* ``brute_force_topk`` — exact cosine top-k against a query vector: one
  JVM-side higher-order-function scan + TakeOrderedAndProject.  The
  always-correct baseline and the per-bucket verifier.
* ``hyperplane_buckets`` / ``ann_topk`` — random-hyperplane LSH (Charikar
  2002): a seeded numpy hyperplane matrix is broadcast, sign bits are
  computed in one Arrow-batched pandas UDF (matrix multiply per batch), and
  search probes only buckets within ``probe_hamming`` of the query's bucket
  — at 100 TB the scan touches ~1/2^bits of the data instead of all of it.
* ``embedding_neardup_pairs`` — near-duplicate vector pairs via shared
  bucket + exact cosine ≥ threshold, the embedding leg of the dedup suite.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from parallel_betweenness_centrality_using_bsp_spark.functions.vectors import cosine
from parallel_betweenness_centrality_using_bsp_spark.operators.dedup import DEFAULT_MAX_BUCKET_SIZE
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import guard_stats, superstep_loop


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cos) of the k nearest vectors by cosine — exact."""
    q = F.lit(query_vec).cast("array<double>")
    return (
        df.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, bits)).astype(np.float64)


def hyperplane_buckets(
    spark: SparkSession,
    df: DataFrame,
    *,
    dim: int,
    bits: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Input + ``bucket`` int column: sign-bit LSH code of each vector."""
    planes = spark.sparkContext.broadcast(_hyperplanes(dim, bits, seed))

    @pandas_udf("long")
    def code(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        signs = (m @ planes.value) > 0  # (batch, bits)
        weights = (1 << np.arange(signs.shape[1])).astype(np.int64)
        return pd.Series(signs @ weights)

    return df.withColumn("bucket", code(F.col(vec_col)))


def bucket_of(query_vec: list[float], *, bits: int = 12, seed: int = 42) -> int:
    q = np.asarray(query_vec, dtype=np.float64)
    signs = (q @ _hyperplanes(len(query_vec), bits, seed)) > 0
    return int(signs @ (1 << np.arange(bits)))


def ann_topk(
    spark: SparkSession,
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    bits: int = 12,
    probe_hamming: int = 1,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: scan only buckets within probe_hamming of the
    query's bucket, exact cosine inside.  Recall grows with probe_hamming;
    probe_hamming = bits degrades to brute force."""
    dim = len(query_vec)
    bucketed = hyperplane_buckets(spark, df, dim=dim, bits=bits, seed=seed, vec_col=vec_col)
    qb = bucket_of(query_vec, bits=bits, seed=seed)
    cand = bucketed.where(F.col("bucket").isin(_probe_set(qb, bits, probe_hamming)))
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def _probe_set(qb: int, bits: int, probe_hamming: int) -> list[int]:
    """Buckets within ``probe_hamming`` bit flips of the query's bucket."""
    probes = [qb]
    if probe_hamming >= 1:
        probes += [qb ^ (1 << i) for i in range(bits)]
    if probe_hamming >= 2:
        probes += [qb ^ (1 << i) ^ (1 << j) for i in range(bits) for j in range(i + 1, bits)]
    return probes


def build_ann_index(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    *,
    dim: int,
    bits: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
) -> None:
    """Materialize the hyperplane-bucket assignment ONCE as parquet
    partitioned by ``bucket``.

    ``ann_topk`` recomputes every vector's bucket code per query — fine for
    one-off queries, wasteful for a query workload.  A real pipeline writes
    this index once; each query then reads only its probe buckets via
    partition pruning (~(1 + bits)/2^bits of the files at probe_hamming=1)
    instead of scanning and hashing the full table.
    """
    b = hyperplane_buckets(spark, df, dim=dim, bits=bits, seed=seed, vec_col=vec_col)
    b.write.mode("overwrite").partitionBy("bucket").parquet(path)


def ann_topk_indexed(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    *,
    bits: int = 12,
    probe_hamming: int = 1,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k over a persisted index: the ``bucket IN (probes)``
    filter hits the partition column, so the scan reads ONLY the probe
    buckets' files (verify with .explain: PartitionFilters is non-empty).
    ``bits``/``seed`` must match ``build_ann_index``."""
    idx = spark.read.parquet(index_path)
    qb = bucket_of(query_vec, bits=bits, seed=seed)
    cand = idx.where(F.col("bucket").isin(_probe_set(qb, bits, probe_hamming)))
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path alongside the
# hyperplane LSH.  Deterministic throughout: centroid init = lowest-id
# vectors, Lloyd updates are exact averages, ties break to the lower
# centroid index.
# ---------------------------------------------------------------------------

def _assign_clusters(df: DataFrame, centroids: np.ndarray, vec_col: str) -> DataFrame:
    """Input + ``cluster`` int column: index of the nearest centroid by L2
    (Arrow-batched matmul per batch; ties → lower index via argmin)."""
    import pandas as pd  # noqa: F811 (worker-side import)

    c = centroids.astype(np.float64)
    c_sq = (c * c).sum(axis=1)

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        # argmin over squared L2 = argmin(|c|² − 2·v·c) — |v|² is constant per row
        d = c_sq[None, :] - 2.0 * (m @ c.T)
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return df.withColumn("cluster", nearest(F.col(vec_col)))


def train_ivf(
    spark: SparkSession,
    df: DataFrame,
    *,
    k: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic Lloyd k-means coarse quantizer → (k, dim) centroids.

    Assignment is distributed (Arrow matmul per batch); the update step
    aggregates per-dimension sums with posexplode + groupBy — the only
    driver-side materialization is the k×dim centroid matrix itself, which
    is small BY DEFINITION (it gets broadcast every iteration anyway).
    Empty clusters keep their previous centroid.
    """
    init = (
        df.orderBy(id_col).limit(k).select(vec_col).toPandas()[vec_col].to_numpy()
    )
    centroids = np.stack(init).astype(np.float64)
    for _ in range(iters):
        assigned = _assign_clusters(df, centroids, vec_col)
        stats = (
            assigned.select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = centroids.copy()
        sums = np.zeros_like(centroids)
        counts = np.zeros(centroids.shape[0], dtype=np.int64)
        for r in stats:
            sums[r["cluster"], r["pos"]] += r["s"]
            counts[r["cluster"]] = r["n"]
        nonempty = counts > 0
        new[nonempty] = sums[nonempty] / counts[nonempty, None]
        centroids = new
    return centroids


def ivf_topk(
    spark: SparkSession,
    df: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    *,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe: scan only the ``nprobe`` clusters nearest the query, exact
    cosine top-k inside — scan fraction ≈ nprobe/n_clusters.  Persist the
    assignment partitioned by ``cluster`` (as build_ann_index does for
    buckets) when serving a query workload."""
    q = np.asarray(query_vec, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]
    assigned = _assign_clusters(df, centroids, vec_col)
    cand = assigned.where(F.col("cluster").isin(probes))
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# Integer-quantized hyperplane LSH — the engine-portable (oracle-gateable)
# variant: every arithmetic step is exact in int64/float64, so Spark, plain
# Python and a DuckDB SQL twin compute identical bucket codes bit-for-bit
# (no float-association sign flips at the hyperplane boundary).
# ---------------------------------------------------------------------------

_QUANT = 1024  # embedding quantization: floor(x * 2^10) — exact scaling
_PLANE_SCALE = 512  # hyperplane coefficients: floor(normal * 2^9)


def quantized_hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    """(dim, bits) int64 hyperplane matrix — seeded, shared verbatim by the
    Spark plan, the driver-side query-bucket computation and the SQL twin."""
    rng = np.random.default_rng(seed)
    return np.floor(rng.standard_normal((dim, bits)) * _PLANE_SCALE).astype(np.int64)


def hyperplane_buckets_quantized(
    df: DataFrame, planes: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Input + ``bucket`` long column, computed with pure JVM higher-order
    functions (zip_with product + aggregate sum over int64 — exact, no UDF):
    bit j of the bucket is the sign of <floor(v*1024), plane_j>."""
    qv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(_QUANT))).cast("long"),
    )
    out = df.withColumn("_qv", qv)
    bucket = F.lit(0).cast("long")
    for j in range(planes.shape[1]):
        plane = F.array(*[F.lit(int(v)).cast("long") for v in planes[:, j]])
        dot = F.aggregate(
            F.zip_with(F.col("_qv"), plane, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out.withColumn("bucket", bucket).drop("_qv")


def bucket_of_quantized(query_vec: list[float], planes: np.ndarray) -> int:
    """Driver-side twin of ``hyperplane_buckets_quantized`` for one vector."""
    qv = np.floor(np.asarray(query_vec, dtype=np.float64) * _QUANT).astype(np.int64)
    signs = (qv @ planes) > 0
    return int(signs @ (1 << np.arange(planes.shape[1])))


def ann_topk_quantized(
    spark: SparkSession,
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    bits: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``ann_topk`` over the quantized family — identical probe semantics
    (scan buckets within ``probe_hamming`` of the query's bucket, exact
    cosine inside), but every bucket code is engine-portable, so the whole
    ANN query sits under the DuckDB value-hash gate."""
    planes = quantized_hyperplanes(len(query_vec), bits, seed)
    bucketed = hyperplane_buckets_quantized(df, planes, vec_col)
    qb = bucket_of_quantized(query_vec, planes)
    cand = bucketed.where(F.col("bucket").isin(_probe_set(qb, bits, probe_hamming)))
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def build_ann_index_quantized(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    *,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
) -> None:
    """``build_ann_index`` for the engine-portable quantized family: the
    bucket assignment is pure JVM HOF arithmetic (no UDF, no broadcast),
    written ONCE as parquet partitioned by ``bucket`` — the serving-path
    index whose probe queries read only their buckets' files."""
    planes = quantized_hyperplanes(dim, bits, seed)
    b = hyperplane_buckets_quantized(df, planes, vec_col)
    b.write.mode("overwrite").partitionBy("bucket").parquet(path)


def ann_topk_indexed_quantized(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    *,
    bits: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``ann_topk_quantized`` served from a persisted index: identical
    probe set and result (both sides derive the query bucket from the same
    quantized planes), but the ``bucket IN (probes)`` filter hits the
    partition column, so the scan reads ONLY the probe buckets' files
    (PartitionFilters non-empty — plan-tested).  ``bits``/``seed`` must
    match ``build_ann_index_quantized``."""
    planes = quantized_hyperplanes(len(query_vec), bits, seed)
    idx = spark.read.parquet(index_path)
    qb = bucket_of_quantized(query_vec, planes)
    cand = idx.where(F.col("bucket").isin(_probe_set(qb, bits, probe_hamming)))
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def embedding_neardup_pairs(
    spark: SparkSession,
    df: DataFrame,
    *,
    dim: int,
    threshold: float = 0.95,
    bits: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    drop_stats: dict | None = None,
) -> DataFrame:
    """(a, b, cos) pairs with cosine ≥ threshold that share an LSH bucket.

    ``max_bucket_size`` caps degenerate buckets before the self-join (a
    bucket holding every near-constant embedding is quadratic otherwise);
    dropped volume is logged — see ``operators.dedup.cap_buckets``.
    Capped is the production-shaped default; pass ``max_bucket_size=None``
    to opt out explicitly.
    """
    b = hyperplane_buckets(spark, df, dim=dim, bits=bits, seed=seed, vec_col=vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "bucket"
    )
    if max_bucket_size is not None:
        from parallel_betweenness_centrality_using_bsp_spark.operators.dedup import cap_buckets

        b = cap_buckets(
            b.localCheckpoint(eager=True).transform(guard_stats), ["bucket"], max_bucket_size,
            "embedding_neardup_pairs", drop_stats,
        )
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.round(
                cosine(F.col("l.v").cast("array<double>"), F.col("r.v").cast("array<double>")),
                6,
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def kmeans_rounds(
    spark: SparkSession,
    df: DataFrame,
    *,
    k: int = 8,
    rounds: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Fixed-round Lloyd k-means, fully in-plan and engine-portable — the
    oracle-gateable twin of ``train_ivf`` (which keeps float64 numpy
    centroids driver-side for the IVF index build).

    Portability contract (the quantized-arithmetic family, like
    ``ann_topk_quantized``): every cross-engine-compared float is rounded
    to 6 decimals at the point it feeds a DISCRETE decision —

    - centroids (init = the ``k`` lowest-id vectors; update = per-dim
      mean over the cluster) are rounded before the next assignment,
    - squared L2 distances are rounded before the argmin,
    - argmin ties break toward the lower centroid id (``min(struct(d2,
      cid))`` — a lexicographic struct-min, one hash agg with map-side
      combine, NO window sort),

    so ulp-level summation-order noise can never flip an assignment and a
    depth-unrolled SQL twin replays the run exactly.

    Rounds run on ``superstep_loop`` with the assignment as the state: each
    superstep takes the cluster means from it, then reassigns.

    Plan shape per round: the k×dim centroid relation (small BY
    DEFINITION) broadcasts into the position-exploded vector table —
    (n·dim) × k multiply-accumulate rows reduced by ONE hash aggregation
    on (vec_id, cid), then the struct-min argmin on vec_id; the update is
    a hash mean on (cid, pos).  Everything shuffles on high-cardinality
    keys (vec_id / (cid, pos)); nothing is driver-side, no RDDs, no
    per-row Python.

    Returns ``(vec_id long, cluster long, d2 double)`` after ``rounds``
    assignment passes (the last assignment is returned; ``rounds`` ≥ 1).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    p = num_partitions or spark.sparkContext.defaultParallelism
    ex = (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
        )
        .repartition(p, "vec_id")
        .localCheckpoint(eager=True).transform(guard_stats)  # reused every round: explode once
    )
    # Seed centroids from the k SMALLEST actual ids (not `id < k`, which
    # silently under-seeds on 1-based/sparse id spaces).  The id relation is
    # distinct-then-limit — TakeOrderedAndProject, never a full sort — and at
    # most k ids ever touch the driver.
    seed_ids = [
        r[0]
        for r in ex.select("vec_id").distinct().orderBy("vec_id").limit(k).collect()
    ]
    if len(seed_ids) < k:
        raise ValueError(
            f"kmeans_rounds: k={k} but only {len(seed_ids)} distinct vectors"
        )

    def assign(cent: DataFrame) -> DataFrame:
        d2 = (
            ex.join(F.broadcast(cent), "pos")
            .groupBy("vec_id", "cid")
            .agg(
                F.round(
                    F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))),
                    6,
                ).alias("d2")
            )
        )
        best = d2.groupBy("vec_id").agg(F.min(F.struct("d2", "cid")).alias("_m"))
        return best.select("vec_id", F.col("_m.cid").alias("cluster"), F.col("_m.d2").alias("d2"))

    def update(asg: DataFrame, _k: int) -> DataFrame:
        return assign(
            ex.join(asg.select("vec_id", F.col("cluster").alias("cid")), "vec_id")
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), 6).alias("cval"))
        )

    seeds = ex.where(F.col("vec_id").isin(seed_ids)).select(
        F.col("vec_id").alias("cid"), "pos", F.round("val", 6).alias("cval")
    )
    return superstep_loop(
        spark, assign(seeds), update, algo="kmeans", max_supersteps=rounds - 1
    ).state
