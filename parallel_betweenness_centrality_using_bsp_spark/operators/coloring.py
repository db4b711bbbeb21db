"""Distributed greedy graph coloring — Jones & Plassmann 1993 ("A parallel
graph coloring heuristic"), the BSP sibling of Luby MIS: instead of
deciding membership, each round's priority-local-minima pick the smallest
color unused by their already-colored neighbors (the "mex").

Synchronous rounds over the undirected graph; all vertices start
*uncolored*:

1. Priorities are the DETERMINISTIC md5 permutation
   ``md5('col:' || v) || ':' || lpad(v)`` — engine-portable strings
   (the md5-family pattern shared with MIS/MinHash/walks), so a DuckDB
   twin replays the exact run round for round.
2. An uncolored vertex whose priority is smaller than every uncolored
   neighbor's colors itself THIS round (the same local-minimum rule as
   MIS — each round's winner set is independent, so same-round winners
   can never conflict).
3. A winner's color is the mex of its already-colored neighbors' colors:
   sort the distinct neighbor colors, count the prefix where
   ``arr[i] == i`` — an all-JVM array expression, no UDF.  mex ≤ deg(v),
   so the palette never exceeds Δ+1 colors.
4. Repeat until every vertex is colored (or ``rounds`` is exhausted —
   the fixed-round form the oracle gate unrolls; the remainder comes
   back explicitly as ``color = -1``).

One round is one ``superstep_loop`` superstep over the state
``(vertex, prio, color, round)`` (color −1 while uncolored): the winner
election is MIS's own (``mis._local_minima``), then one edges×colored
join + collect_set (the palette lookup, keyed by winner — bounded by the
winner set, not the graph) and one join labels the winners' colors into
the state; the run stops when no vertex is uncolored.  Nothing is ever
driver-side.  Expected O(log n) rounds on bounded-degree graphs, same
argument as Luby.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.operators.mis import (
    _local_minima,
    _vertex_priorities,
)
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import superstep_loop


def _mex(sorted_colors) -> "F.Column":
    """Smallest non-negative int absent from a sorted distinct int array:
    the length of the prefix where arr[i] == i (after the first gap the
    strictly-increasing values can never re-align with their index)."""
    return F.coalesce(
        F.size(F.filter(sorted_colors, lambda x, i: x == i)), F.lit(0)
    )


def jones_plassmann_coloring(
    spark: SparkSession,
    edges: DataFrame,
    *,
    rounds: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """(vertex long, color int, round int): greedy coloring with the round
    each vertex was decided (1-based); ``color = -1, round = -1`` rows mark
    vertices a ``rounds`` cap left uncolored (never silent).
    ``rounds=None`` iterates to the fixpoint — a proper coloring of every
    vertex using at most Δ+1 colors."""
    p = num_partitions or spark.sparkContext.defaultParallelism
    e = symmetrize(edges).repartition(p, "src").persist()
    uncolored = F.col("color") < 0

    def step(state: DataFrame, k: int) -> DataFrame:
        won = _local_minima(e, state.where(uncolored))
        palette = (
            e.join(won.select(F.col("vertex").alias("src")), "src", "left_semi")
            .join(
                state.where(~uncolored).select(F.col("vertex").alias("dst"), "color"), "dst"
            )
            .groupBy(F.col("src").alias("vertex"))
            .agg(F.array_sort(F.collect_set("color")).alias("_cs"))
        )
        newly = won.join(palette, "vertex", "left").select(
            "vertex", _mex(F.col("_cs")).alias("_c")
        )
        return state.join(newly, "vertex", "left").select(
            "vertex",
            "prio",
            F.coalesce("_c", "color").alias("color"),
            F.when(F.col("_c").isNotNull(), k).otherwise(F.col("round")).alias("round"),
        )

    run = superstep_loop(
        spark,
        _vertex_priorities(e, "col:").select(
            "vertex", "prio", F.lit(-1).alias("color"), F.lit(-1).alias("round")
        ),
        step,
        algo="jones_plassmann_coloring",
        # each round colors the smallest uncolored priority, so the
        # convergence test always ends an uncapped run
        max_supersteps=sys.maxsize if rounds is None else rounds,
        converge_on=F.count_if(uncolored),
        converged_fn=lambda _prev, left: left == 0,
    )
    e.unpersist()
    return run.state.select("vertex", "color", "round")
