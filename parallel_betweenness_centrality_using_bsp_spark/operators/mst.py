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

The loop's state is the labelled cross-component edge set
(src, dst, w, cu, cv): each edge with both endpoints' component labels,
only edges whose labels differ.  At the start every vertex is its own
component (cu = src, cv = dst), so every edge is a cross edge.  One
superstep:

1. per component: min (w, src, dst) over its incident cross edges — one
   map-side-combined aggregation after a 2× unpivot on cu / cv;
2. merge: the selected edges form a graph ON COMPONENTS (≤ one out-edge
   per component); new labels come from the engine's own
   ``connected_components(algorithm="starcontract")`` on that contracted
   graph — O(log n) inner rounds even on adversarial selection chains,
   and min-member-id labels keep the canonical form the oracle expects;
3. relabel cu / cv through that component-sized mapping and keep the
   edges whose labels still differ.  Labels only ever merge, so the edge
   set only ever SHRINKS (the classic Borůvka filter), and a selected
   edge drops out by itself because its endpoints merge.

The contracted component graph has at most #components edges — it
shrinks geometrically, so the merge step's cost is dominated by round 1
and the TOTAL work is O(m log n) with no skew amplification (a hub's
edges partition across its component's aggregation like any other).
"""

from __future__ import annotations

import sys
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import _observed_rows
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import superstep_loop


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
    e, obs = _observed_rows(
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.col(weight_col).alias("w"),
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))  # parallel edges: keep the lightest
        .repartition(p, "src")
        .select("src", "dst", "w", F.col("src").alias("cu"), F.col("dst").alias("cv"))
    )
    chosen: list[DataFrame] = []
    left: list[int] = []  # cross edges after each round, seen on its barrier

    def stop(_, n: int) -> bool:
        left.append(n)
        return n == 0

    def merge(ec: DataFrame, k: int) -> DataFrame:
        if (left[-1] if left else obs.get["rows"]) == 0:
            return ec  # an empty edge set has no component to merge
        pick = F.struct("w", "src", "dst", "cu", "cv")  # (src, dst) fixes (cu, cv)
        sel = (
            ec.select(F.col("cu").alias("comp"), pick.alias("m"))
            .unionByName(ec.select(F.col("cv").alias("comp"), pick.alias("m")))
            .groupBy("comp")
            .agg(F.min("m").alias("m"))
            .select("m.*")
            .distinct()  # an edge minimal for BOTH endpoints' components
        )
        chosen.append(sel.select("src", "dst", "w", F.lit(k).alias("round")))
        merged = connected_components(
            spark, sel.select(F.col("cu").alias("src"), F.col("cv").alias("dst")),
            algorithm="starcontract",
        ).state  # (vertex=old comp, label=new comp, min member id)
        return (
            ec.join(merged.select(F.col("vertex").alias("cu"), F.col("label").alias("nu")), "cu", "left")
            .join(merged.select(F.col("vertex").alias("cv"), F.col("label").alias("nv")), "cv", "left")
            .select("src", "dst", "w", F.coalesce("nu", "cu").alias("cu"), F.coalesce("nv", "cv").alias("cv"))
            .where(F.col("cu") != F.col("cv"))
        )

    superstep_loop(
        spark, e, merge, algo="boruvka",
        max_supersteps=sys.maxsize if rounds is None else rounds,
        converge_on=F.count(F.lit(1)), converged_fn=stop,
    )
    if not chosen:
        return spark.createDataFrame([], "src long, dst long, w long, round int")
    return reduce(DataFrame.unionByName, chosen)
