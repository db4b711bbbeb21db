"""Minimum spanning forest — Borůvka's algorithm as BSP supersteps.

Borůvka (1926) is THE parallel MST algorithm: every round, each component
selects its minimum-weight outgoing edge (all components simultaneously —
no priority queue, no sequential edge scan), the selected edges join the
forest, and touching components merge.  The component count at least
halves per round, so O(log n) rounds total — the structure GHS, parallel
filter-Kruskal, and every MapReduce/Pregel MSF paper build on.

Determinism: the per-component minimum is taken over the TUPLE
(w, src, dst) (canonical src < dst), so weight ties break identically in
every engine — ``F.min(struct(w, src, dst))`` in Spark is the same
lexicographic order as ``ORDER BY w, src, dst LIMIT 1`` in SQL, which is
how the DuckDB twin replays the run round for round.  With all-distinct
weights this equals the unique MST/MSF; with ties it is still a valid
minimum spanning forest (exchange argument), just a pinned one.

Per round, all hash ops on the (shrinking) cross-component edge set:

1. annotate edges with both endpoints' component labels (two joins
   against the n-row label table), drop intra-component edges — the edge
   set only ever SHRINKS, the classic Borůvka filter;
2. per component: min (w, src, dst) over its incident cross edges — one
   map-side-combined aggregation after a 2× unpivot;
3. merge: the selected edges form a graph ON COMPONENTS (≤ one out-edge
   per component); new labels come from the engine's own
   ``connected_components(algorithm="starcontract")`` on that contracted
   graph — O(log n) inner rounds even on adversarial selection chains,
   and min-member-id labels keep the canonical form the oracle expects.

The contracted component graph has at most #components edges — it
shrinks geometrically, so the merge step's cost is dominated by round 1
and the TOTAL work is O(m log n) with no skew amplification (a hub's
edges partition across its component's aggregation like any other).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import endpoints
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import guard_stats



def boruvka_forest(
    spark: SparkSession,
    edges: DataFrame,
    *,
    weight_col: str = "w",
    rounds: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """(src long, dst long, w long, round int): the minimum-spanning-forest
    edges (canonical src < dst) with the Borůvka round that selected each
    (1-based).  ``rounds=None`` iterates until no cross-component edge
    remains (the full MSF — spanning every connected component);
    ``rounds=k`` stops after k rounds (the oracle-matched mode: the
    partial forest after k rounds is identical in both engines)."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.components import (
        connected_components,
    )

    p = num_partitions or spark.sparkContext.defaultParallelism
    e = (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col(weight_col).alias("w"),
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: keep the lightest
        .repartition(p, "src")
        .localCheckpoint(eager=True).transform(guard_stats)
    )
    labels = (
        endpoints(e)
        .distinct()
        .select("vertex", F.col("vertex").alias("comp"))
        .localCheckpoint(eager=True).transform(guard_stats)
    )

    chosen: list[DataFrame] = []
    k = 0
    while rounds is None or k < rounds:
        k += 1
        ec = (
            e.join(
                labels.select(F.col("vertex").alias("src"), F.col("comp").alias("cu")),
                "src",
            )
            .join(
                labels.select(F.col("vertex").alias("dst"), F.col("comp").alias("cv")),
                "dst",
            )
            .where(F.col("cu") != F.col("cv"))
            .localCheckpoint(eager=True).transform(guard_stats)
        )
        if ec.isEmpty():
            break
        cand = ec.select(F.col("cu").alias("comp"), "w", "src", "dst").unionByName(
            ec.select(F.col("cv").alias("comp"), "w", "src", "dst")
        )
        sel = (
            cand.groupBy("comp")
            .agg(F.min(F.struct("w", "src", "dst")).alias("m"))
            .select("m.src", "m.dst", "m.w")
            .distinct()  # an edge minimal for BOTH endpoints' components
            .localCheckpoint(eager=True).transform(guard_stats)
        )
        chosen.append(sel.select("src", "dst", "w", F.lit(k).alias("round")))

        comp_edges = (
            sel.join(
                labels.select(F.col("vertex").alias("src"), F.col("comp").alias("cu")),
                "src",
            )
            .join(
                labels.select(F.col("vertex").alias("dst"), F.col("comp").alias("cv")),
                "dst",
            )
            .select(F.col("cu").alias("src"), F.col("cv").alias("dst"))
        )
        merged = connected_components(
            spark, comp_edges, algorithm="starcontract"
        ).state  # (vertex=old comp, label=new comp, min member id)
        labels = (
            labels.join(
                merged.select(F.col("vertex").alias("comp"), "label"), "comp", "left"
            )
            .select(
                "vertex", F.coalesce(F.col("label"), F.col("comp")).alias("comp")
            )
            .localCheckpoint(eager=True).transform(guard_stats)
        )
        # the forest edge set keeps only still-relevant cross edges
        e = (
            ec.select("src", "dst", "w")
            .join(sel.select("src", "dst"), ["src", "dst"], "left_anti")
            .repartition(p, "src")
            .localCheckpoint(eager=True).transform(guard_stats)
        )

    out = None
    for c in chosen:
        out = c if out is None else out.unionByName(c)
    if out is None:
        return spark.createDataFrame([], "src long, dst long, w long, round int")
    return out
