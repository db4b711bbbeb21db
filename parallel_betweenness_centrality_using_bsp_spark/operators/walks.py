"""Deterministic random walks — DeepWalk/node2vec-style corpus generation
for embedding training, as iterative DataFrame joins.

True RNG walks are irreproducible across retries and engines; here step k
of the walk starting at s picks neighbor index ``md5int(s ':' k) mod
degree(v)`` — a fixed hash family (the portable 60-bit md5 value also used
by the SimHash oracle family), so walks are (a) deterministic under task
retries, (b) reproducible bit-for-bit by the DuckDB oracle
(``graph_random_walks``), and (c) still uniform-ish over neighbors.

Plan shape per step: the frontier (one row per live walk, at the newest
position) ⋈ degrees (pick the index) then ⋈ the indexed adjacency on
(vertex, idx) — two hash joins per step against tables that are partitioned
by vertex ONCE and persisted; the walk frontier is the only superstep
state, so each step materializes O(walks) rows, never the accumulated
corpus (total writes O(L·walks), not O(L²·walks)).  The corpus is the
union of the per-step frontiers, each already materialized.  Walks at a
vertex with no out-edges stop (the step join drops them).

The loop runs under ``plans.superstep.superstep_loop``, so with
``checkpoint_dir`` set every step's frontier lands as a resumable parquet
checkpoint with lineage + metrics; ``walk_corpus_from_checkpoints``
reassembles the full corpus (all positions) from those checkpoints, and a
crashed long-walk run continues from ``latest_checkpoint`` without
replaying its prefix.

Skew note (``salt_buckets``): ``indexed_adjacency`` assigns each source's
dense neighbor index with a per-src ``row_number`` window, which serializes
a 10^8-degree hub into one task.  ``salt_buckets=S`` splits the numbering
into S monotone dst-range buckets: local row_numbers within (src, bucket)
plus a per-src cumulative bucket-offset (a window over ≤ S tiny rows per
src) — identical indices, hub work spread over S tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.functions.hashing import md5_token_value
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import traversal_edges
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import (
    SuperstepRun,
    latest_checkpoint,
    superstep_loop,
)


def indexed_adjacency(
    edges: DataFrame, directed: bool = False, *, salt_buckets: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """(adj, deg): adjacency with a dense per-source neighbor index
    (ordered by dst — deterministic) and out-degrees.

    ``salt_buckets=S`` computes the same indices skew-safely: dst values are
    range-bucketed (monotone in dst, so ordering is preserved across
    buckets), each (src, bucket) numbers its rows locally in parallel, and
    a per-src running sum of bucket sizes supplies the offset.
    """
    e = traversal_edges(edges, directed)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    if salt_buckets is None or salt_buckets <= 1:
        w = Window.partitionBy("src").orderBy("dst")
        adj = e.withColumn("idx", F.row_number().over(w) - 1)
        return adj, deg

    lo, hi = e.agg(F.min("dst"), F.max("dst")).first()
    span = max(int(hi) - int(lo) + 1, 1)
    s = int(salt_buckets)
    # monotone in dst: bucket b < b' ⇒ every dst in b < every dst in b'
    bucket = F.floor((F.col("dst") - F.lit(int(lo))) * s / F.lit(span)).cast("int")
    b = e.withColumn("_b", bucket)
    local_w = Window.partitionBy("src", "_b").orderBy("dst")
    local = b.withColumn("_li", F.row_number().over(local_w) - 1)
    sizes = b.groupBy("src", "_b").agg(F.count(F.lit(1)).alias("_n"))
    off_w = (
        Window.partitionBy("src")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.withColumn(
        "_off", F.coalesce(F.sum("_n").over(off_w), F.lit(0))
    ).select("src", "_b", "_off")
    adj = (
        local.join(offsets, ["src", "_b"])
        .select("src", "dst", (F.col("_li") + F.col("_off")).cast("int").alias("idx"))
    )
    return adj, deg


def random_walks_run(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame,
    *,
    walk_length: int = 4,
    directed: bool = False,
    num_partitions: int | None = None,
    salt_buckets: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
) -> tuple[SuperstepRun, DataFrame]:
    """(run, corpus): run.state is the FINAL frontier (walk_id, pos,
    vertex); corpus is every position of every walk reached THIS run —
    the union of the per-step materialized frontiers (on a resumed run,
    positions before ``start_step`` live in the earlier checkpoints; use
    ``walk_corpus_from_checkpoints`` for the complete corpus).

    ``resume_state``/``start_step`` (from ``latest_checkpoint(spark, dir,
    "walks", run_id)``) restart a crashed checkpointed run mid-walk.
    ``walk_length`` is the ABSOLUTE target length: a run resumed from
    step s advances ``walk_length - s`` more supersteps (not
    ``walk_length`` more — nothing else stops a walk loop, unlike the
    converging kernels), so crashed and uncrashed runs produce
    identical-length walks.
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    adj, deg = indexed_adjacency(edges, directed, salt_buckets=salt_buckets)
    adj = adj.repartition(p, "src").persist()
    deg = deg.repartition(p, "src").persist()

    initial = starts.select(
        F.col("vertex").alias("walk_id"),
        F.lit(0).alias("pos"),
        F.col("vertex").alias("vertex"),
    )

    # step_fn receives the PREVIOUS materialized frontier — capture each one
    # so the corpus union is over already-checkpointed frames (no recompute)
    seen: list[DataFrame] = []

    def step(frontier: DataFrame, k: int) -> DataFrame:
        seen.append(frontier)
        choice = md5_token_value(
            F.concat_ws(":", F.col("walk_id").cast("string"), F.lit(str(k)))
        )
        # fresh aliases per step: the lineage joins adj/deg repeatedly and
        # Spark's self-join ambiguity check needs qualified references
        a, d = adj.alias(f"_a{k}"), deg.alias(f"_d{k}")
        fr = frontier.select("walk_id", F.col("vertex").alias("v"))
        return (
            fr.join(d, fr.v == F.col(f"_d{k}.src"))
            .select("walk_id", "v", (choice % F.col(f"_d{k}.deg")).alias("_choice"))
            .join(
                a,
                (F.col("v") == F.col(f"_a{k}.src"))
                & (F.col("_choice") == F.col(f"_a{k}.idx")),
            )
            .select(
                "walk_id",
                F.lit(k).alias("pos"),
                F.col(f"_a{k}.dst").alias("vertex"),
            )
        )

    run = superstep_loop(
        spark,
        resume_state if resume_state is not None else initial,
        step,
        algo="walks",
        max_supersteps=max(0, walk_length - start_step),
        converged_fn=None,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
    )
    corpus = run.state
    for fr in seen:
        corpus = corpus.unionByName(fr)
    adj.unpersist()
    deg.unpersist()
    return run, corpus


def walk_corpus_from_checkpoints(
    spark: SparkSession, checkpoint_dir: str, run_id: str
) -> DataFrame:
    """The complete corpus (every position) of a checkpointed walks run:
    the union of every complete superstep's frontier checkpoint."""
    found = latest_checkpoint(spark, checkpoint_dir, "walks", run_id)
    if found is None:
        raise ValueError(f"no walks checkpoints for run_id={run_id!r}")
    last, _ = found
    # every superstep 0..last is complete (latest_checkpoint requires the
    # _SUCCESS marker and supersteps commit in order)
    return spark.read.parquet(
        *[f"{checkpoint_dir}/walks/{run_id}/superstep={k}" for k in range(last + 1)]
    )


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame,
    *,
    walk_length: int = 4,
    directed: bool = False,
    num_partitions: int | None = None,
    salt_buckets: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> DataFrame:
    """(walk_id, pos, vertex) rows for walks of ``walk_length`` steps from
    each start vertex (walk_id = start vertex; pos 0 is the start).

    ``starts`` is a DataFrame(vertex long) — the start set stays
    distributed; nothing is collected.
    """
    _, corpus = random_walks_run(
        spark,
        edges,
        starts,
        walk_length=walk_length,
        directed=directed,
        num_partitions=num_partitions,
        salt_buckets=salt_buckets,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
    )
    return corpus


def node2vec_walks_run(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame,
    *,
    walk_length: int = 4,
    p: int = 1,
    q: int = 1,
    directed: bool = False,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    resume_state: DataFrame | None = None,
    start_step: int = 0,
) -> tuple[SuperstepRun, DataFrame]:
    """Second-order biased walks (node2vec, Grover & Leskovec 2016) with
    INTEGER return/in-out parameters ``p``/``q`` ≥ 1 — the walk corpus a
    pipeline feeds to skip-gram embedding training when it wants BFS-ish
    (q > 1) or DFS-ish (p > 1) neighborhoods instead of DeepWalk's uniform.

    node2vec's unnormalized weights α = 1/p (back to prev), 1 (common
    neighbor of prev), 1/q (farther) are scaled by p·q to the EXACT
    integers {q, p·q, p}, so the deterministic pick — cumulative weight
    crossing ``md5int(walk_id ':' k) mod Σw`` over candidates ordered by
    dst — is pure integer arithmetic: reproducible under retries, across
    engines, and by a SQL twin.  Step 1 has no prev (sentinel −1): every
    candidate weighs p — uniform, as in the paper.

    Plan shape per step: frontier ⋈ adjacency (fan out candidates, Σdeg
    rows) + one LEFT edge-membership join against the same persisted
    adjacency keyed on (prev, cand) for the d=1 test + one per-walk window
    (cumsum + total in a single pass; width = deg(cur) — the node2vec cost,
    inherent to second-order bias).  State carries (walk_id, pos, prev,
    vertex); the corpus is the union of materialized frontiers, exactly as
    ``random_walks_run``.
    """
    if p < 1 or q < 1 or int(p) != p or int(q) != q:
        raise ValueError("p and q must be integers >= 1 (weights p*q/alpha stay integral)")
    np_ = num_partitions or spark.sparkContext.defaultParallelism
    adj, _deg = indexed_adjacency(edges, directed)
    adj = adj.select("src", "dst").repartition(np_, "src").persist()
    adj.count()

    initial = starts.select(
        F.col("vertex").alias("walk_id"),
        F.lit(0).alias("pos"),
        F.lit(-1).cast("long").alias("prev"),
        F.col("vertex").alias("vertex"),
    )
    seen: list[DataFrame] = []

    def step(frontier: DataFrame, k: int) -> DataFrame:
        seen.append(frontier)
        a = adj.alias(f"_n{k}")
        pe = adj.alias(f"_p{k}")  # prev-edge membership probe
        fr = frontier.select(
            "walk_id", F.col("prev").alias("pv"), F.col("vertex").alias("v")
        )
        cand = (
            fr.join(a, fr.v == F.col(f"_n{k}.src"))
            .select("walk_id", "pv", "v", F.col(f"_n{k}.dst").alias("cand"))
            .join(
                pe,
                (F.col("pv") == F.col(f"_p{k}.src"))
                & (F.col("cand") == F.col(f"_p{k}.dst")),
                "left",
            )
            .select(
                "walk_id",
                "pv",
                "v",
                "cand",
                F.when(F.col("cand") == F.col("pv"), F.lit(int(q)))
                .when(F.col(f"_p{k}.src").isNotNull(), F.lit(int(p * q)))
                .otherwise(F.lit(int(p)))
                .alias("w"),
            )
        )
        cum = Window.partitionBy("walk_id").orderBy("cand").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        tot = Window.partitionBy("walk_id")
        r = md5_token_value(
            F.concat_ws(":", F.col("walk_id").cast("string"), F.lit(str(k)))
        )
        scored = cand.select(
            "walk_id",
            "v",
            "cand",
            "w",
            F.sum("w").over(cum).alias("cw"),
            (r % F.sum("w").over(tot)).alias("r"),
        )
        return scored.where(
            (F.col("cw") > F.col("r")) & (F.col("cw") - F.col("w") <= F.col("r"))
        ).select(
            "walk_id",
            F.lit(k).alias("pos"),
            F.col("v").alias("prev"),
            F.col("cand").alias("vertex"),
        )

    run = superstep_loop(
        spark,
        resume_state if resume_state is not None else initial,
        step,
        algo="node2vec",
        max_supersteps=max(0, walk_length - start_step),
        converged_fn=None,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
        start_step=start_step,
    )
    corpus = run.state.select("walk_id", "pos", "vertex")
    for fr in seen:
        corpus = corpus.unionByName(fr.select("walk_id", "pos", "vertex"))
    adj.unpersist()
    return run, corpus


def node2vec_walks(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame,
    *,
    walk_length: int = 4,
    p: int = 1,
    q: int = 1,
    directed: bool = False,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
) -> DataFrame:
    """(walk_id, pos, vertex) node2vec corpus; see node2vec_walks_run."""
    _, corpus = node2vec_walks_run(
        spark,
        edges,
        starts,
        walk_length=walk_length,
        p=p,
        q=q,
        directed=directed,
        num_partitions=num_partitions,
        checkpoint_dir=checkpoint_dir,
        run_id=run_id,
    )
    return corpus


def skipgram_pairs(corpus: DataFrame, window: int = 2) -> DataFrame:
    """(center long, context long, n long): skip-gram co-occurrence counts
    over a walk corpus (walk_id, pos, vertex) — the DeepWalk/node2vec →
    word2vec training-pair extraction (Perozzi et al. 2014 §4.2): every
    ordered pair of vertices at distance 1..window within the same walk,
    aggregated corpus-wide.

    One self-join keyed on walk_id (balanced — every walk contributes
    O(L·window) pairs regardless of vertex degree, so a hub inflates no
    single task) + one map-side-combined hash aggregation keyed on the
    pair.  Feeds negative-sampling embedding trainers directly; the pair
    counts are exact LONGs, so the op is gate-able bit-for-bit."""
    a = corpus.select(
        "walk_id", F.col("pos").alias("_pc"), F.col("vertex").alias("center")
    )
    b = corpus.select(
        "walk_id", F.col("pos").alias("_px"), F.col("vertex").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .where(
            (F.col("_px") != F.col("_pc"))
            & (F.abs(F.col("_px") - F.col("_pc")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
    )
