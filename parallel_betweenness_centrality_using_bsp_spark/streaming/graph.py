"""Streaming graph ingest — watermarked windowed degree / hot-vertex
detection over an EDGE stream.

The streaming × graph intersection: a crawler emits timestamped edges
continuously, and operations (crawl rate-limiting, link-spam alarms,
freshness dashboards) need per-window vertex degree and the set of
vertices whose in-window degree crosses a threshold — BEFORE any batch
kernel runs.  This is the standard first stage of keeping a 100 TB link
graph fresh: the stream maintains the hot set; the batch kernels
(pagerank warm-start, incremental components) consume its output.

Batch/stream parity, the module family's invariant: the transformation is
ONE function over a DataFrame, run identically on a batch frame (the
oracle-gateable twin) and on a watermarked ``readStream`` (bounded state:
the watermark closes windows, so per-window degree state is
|window| × |active vertices|, never the full history).  Both endpoints of
an edge count (the undirected-degree convention every batch kernel uses);
a directed variant is one ``unpivot`` removal away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EDGE_STREAM_SCHEMA = "src long, dst long, ts timestamp"


def windowed_degrees(
    edges: DataFrame, window: str = "1 hour", slide: str | None = None
) -> DataFrame:
    """(window_start, window_end, vertex, degree): per-event-time-window
    undirected degree — identical on a batch frame and a watermarked
    stream (a pure groupBy on (window, vertex), so Structured Streaming
    runs it with watermark-bounded state and map-side partial aggregation
    on both unpivoted halves)."""
    both = edges.select(F.col("src").alias("vertex"), "ts").unionByName(
        edges.select(F.col("dst").alias("vertex"), "ts")
    )
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        both.groupBy(w.alias("win"), "vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "vertex",
            "degree",
        )
    )


def hot_vertices(
    edges: DataFrame,
    threshold: int,
    window: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """``windowed_degrees`` filtered to degree ≥ threshold — the hot set.
    The filter sits ABOVE the aggregation, so streaming state is identical
    to ``windowed_degrees``'s; emission happens when the watermark closes
    a window (append mode)."""
    return windowed_degrees(edges, window, slide).where(
        F.col("degree") >= threshold
    )


def read_edge_stream(
    spark: SparkSession, path: str, watermark: str = "1 hour"
) -> DataFrame:
    """File-source stream of (src, dst, ts) parquet with an event-time
    watermark bounding the windowed-degree state."""
    return (
        spark.readStream.schema(EDGE_STREAM_SCHEMA)
        .parquet(path)
        .withWatermark("ts", watermark)
    )


def run_hot_vertices_once(
    spark: SparkSession,
    src_path: str,
    sink_path: str,
    checkpoint: str,
    threshold: int,
    window: str = "1 hour",
) -> None:
    """One availableNow pass: edge stream → hot vertices → parquet sink
    (append mode — rows emit as the watermark closes each window)."""
    q = (
        hot_vertices(read_edge_stream(spark, src_path), threshold, window)
        .writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# Streaming × batch maintenance loop: incremental triangle counting over an
# edge stream.  Each micro-batch of crawled edges is folded into a running
# (edge set, triangle count) state via the delta-sized inclusion–exclusion
# kernel (operators.triangles.incremental_triangles) — the accumulated edge
# set is only ever streamed through delta-keyed joins, never re-wedged.
# This closes the same loop as pagerank_warm_start and
# incremental_components: the stream maintains freshness, the batch kernel
# does delta-sized work per trigger.
# ---------------------------------------------------------------------------


def fold_edge_batch(spark: SparkSession, batch: DataFrame, state_dir: str) -> int:
    """Fold one batch of (src, dst) edges into the maintenance state under
    ``state_dir`` (``edges/``: accumulated canonical edge set, parquet;
    ``count/``: 1-row running total) and return the new total.

    The new-edge set appended to ``edges/`` is the batch anti-joined against
    the accumulated set, so replaying the same batch (foreachBatch retry
    semantics) adds zero edges and zero triangles — the fold is idempotent
    per batch content."""
    import os

    edges_dir = os.path.join(state_dir, "edges")
    count_dir = os.path.join(state_dir, "count")

    from parallel_betweenness_centrality_using_bsp_spark.operators.triangles import (
        incremental_triangles,
    )

    canon = (
        batch.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    if os.path.isdir(edges_dir):
        base = spark.read.parquet(edges_dir)
        old_total = spark.read.parquet(count_dir).collect()[0]["n_triangles"]
        new = incremental_triangles(spark, base, canon).collect()[0][
            "new_triangles"
        ]
        fresh = canon.join(base, ["src", "dst"], "left_anti")
    else:
        from parallel_betweenness_centrality_using_bsp_spark.operators.triangles import triangle_count

        old_total, new, fresh = 0, triangle_count(spark, canon), canon
    total = int(old_total) + int(new)
    # localCheckpoint before the writes: `fresh` reads edges_dir, which the
    # append below mutates — materialize first so the plan can't re-scan
    fresh = fresh.localCheckpoint(eager=True)
    fresh.write.mode("append").parquet(edges_dir)
    spark.createDataFrame([(total,)], "n_triangles long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(count_dir)
    return total


def run_triangle_maintenance_once(
    spark: SparkSession,
    src_path: str,
    state_dir: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
) -> int:
    """One availableNow pass of the maintenance loop: parquet edge-file
    stream → foreachBatch(fold_edge_batch) → running count under
    ``state_dir/count``.  ``max_files_per_trigger`` splits the backlog into
    that many-file micro-batches (exercising true multi-batch accumulation);
    returns the final running total."""
    reader = spark.readStream.schema("src long, dst long")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(src_path)
        .writeStream.foreachBatch(
            lambda batch, _id: fold_edge_batch(spark, batch, state_dir)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import os

    count_dir = os.path.join(state_dir, "count")
    if not os.path.isdir(count_dir):
        return 0
    return int(spark.read.parquet(count_dir).collect()[0]["n_triangles"])


def fold_component_batch(spark: SparkSession, batch: DataFrame, state_dir: str) -> int:
    """Fold one batch of (src, dst) edges into a running connected-components
    label table under ``state_dir/labels`` and return the current component
    count.  First batch = cold hash-min run on the batch alone; every later
    batch = ``incremental_components`` (a |delta|-sized label-graph fixpoint
    plus one broadcast relabel — the base edge set is never stored at all,
    labels are a complete summary for edge-ADD deltas).  The overwrite is
    safe because the new label table is materialized (localCheckpoint)
    before the old one is replaced; at cluster scale the staged-swap writer
    in sources/catalog.py plays this role."""
    import os

    from parallel_betweenness_centrality_using_bsp_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    labels_dir = os.path.join(state_dir, "labels")
    if os.path.isdir(labels_dir):
        old = spark.read.parquet(labels_dir)
        new = incremental_components(spark, old, batch)
    else:
        new = connected_components(spark, batch).state.select(
            "vertex", "label"
        )
    new = new.localCheckpoint(eager=True)
    new.write.mode("overwrite").parquet(labels_dir)
    return new.select("label").distinct().count()


def run_component_maintenance_once(
    spark: SparkSession,
    src_path: str,
    state_dir: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """One availableNow pass of the component-maintenance loop: parquet
    edge-file stream → foreachBatch(fold_component_batch) → label table
    under ``state_dir/labels``; returns the final labels DataFrame (equal
    to a cold run over every edge seen, by the incremental kernel's
    exactness contract)."""
    reader = spark.readStream.schema("src long, dst long")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(src_path)
        .writeStream.foreachBatch(
            lambda batch, _id: fold_component_batch(spark, batch, state_dir)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import os

    return spark.read.parquet(os.path.join(state_dir, "labels"))


def fold_pagerank_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    *,
    alpha: float = 0.85,
    tol: float = 1e-10,
    max_supersteps: int = 100,
) -> int:
    """Fold one batch of (src, dst) edges into a running PageRank table
    under ``state_dir/ranks`` and return the supersteps this fold used.

    Unlike component labels, a rank vector is NOT a complete summary of the
    graph (the walk matrix needs every edge), so the accumulated edge set
    lives under ``state_dir/edges`` like the triangle fold's — but the
    re-solve is WARM-STARTED from the previous rank vector
    (``pagerank_warm_start``): power iteration contracts error by the
    damping factor per step, so a micro-batch delta converges in a handful
    of supersteps instead of a cold start's full O(log(1/tol)/log(1/α)).
    The final vector equals a cold solve on everything seen (both converge
    to the same fixpoint within tolerance), which is what the pytest pins.
    The overwrite is safe because the new ranks are materialized
    (localCheckpoint) before the old table is replaced."""
    import os

    from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import (
        pagerank,
        pagerank_warm_start,
    )

    edges_dir = os.path.join(state_dir, "edges")
    ranks_dir = os.path.join(state_dir, "ranks")
    fresh = batch.select("src", "dst").localCheckpoint(eager=True)
    warm = os.path.isdir(ranks_dir)
    fresh.write.mode("append").parquet(edges_dir)
    all_edges = spark.read.parquet(edges_dir)
    if warm:
        prev = spark.read.parquet(ranks_dir)
        run = pagerank_warm_start(
            spark, all_edges, prev,
            alpha=alpha, tol=tol, max_supersteps=max_supersteps,
        )
    else:
        run = pagerank(
            spark, all_edges,
            alpha=alpha, tol=tol, max_supersteps=max_supersteps,
        )
    new = run.state.localCheckpoint(eager=True)
    new.write.mode("overwrite").parquet(ranks_dir)
    return run.supersteps


def run_pagerank_maintenance_once(
    spark: SparkSession,
    src_path: str,
    state_dir: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
    *,
    alpha: float = 0.85,
    tol: float = 1e-10,
) -> DataFrame:
    """One availableNow pass of the PageRank-maintenance loop: parquet
    edge-file stream → foreachBatch(fold_pagerank_batch) → rank table under
    ``state_dir/ranks``; returns the final ranks DataFrame (equal to a cold
    solve over every edge seen, to the convergence tolerance)."""
    reader = spark.readStream.schema("src long, dst long")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(src_path)
        .writeStream.foreachBatch(
            lambda b, _id: fold_pagerank_batch(
                spark, b, state_dir, alpha=alpha, tol=tol
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import os

    return spark.read.parquet(os.path.join(state_dir, "ranks"))
