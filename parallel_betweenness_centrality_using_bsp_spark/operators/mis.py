"""Maximal independent set — Luby's algorithm (Luby 1986, "A Simple
Parallel Algorithm for the Maximal Independent Set Problem"), the classic
BSP/superstep symmetry-breaking kernel (the same round structure
greedy graph coloring and correlation clustering build on).

Synchronous rounds over the undirected graph; all vertices start
*undecided*:

1. Every undecided vertex draws a priority.  Ours is DETERMINISTIC —
   ``md5('mis:' || vertex) || ':' || lpad(vertex)`` — a fixed random
   permutation rather than per-round coin flips.  md5 hex + bytewise
   string comparison are identical in every engine, so the DuckDB twin
   replays the exact run (the md5-family pattern used by MinHash/SimHash/
   walks).  The trailing vertex id makes priorities strictly unique.
2. An undecided vertex with a priority smaller than every undecided
   neighbor's joins the MIS (``in``).
3. Undecided neighbors of new MIS members leave (``out``).
4. Repeat until no vertex is undecided (or ``rounds`` is exhausted —
   the fixed-round form the oracle gate unrolls).

One round is one ``superstep_loop`` superstep over the state
``(vertex, prio, status, round)``: an undecided×edges hash join plus a
min-aggregation elects the winners (``_local_minima``, shared with
Jones-Plassmann coloring), one winners×edges join finds the dominated
vertices, and both are labelled into the state; the run stops when no
vertex is undecided.  Nothing is driver-side.  A fixed priority
permutation gives expected O(log n) rounds on bounded-degree graphs
(per-round, each undecided vertex that is a local minimum leaves with its
neighborhood); the ``rounds`` cap plus the returned ``undecided`` rows
make partial progress explicit, never silent.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import endpoints
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import superstep_loop


def _priority(vcol, salt: str) -> "F.Column":
    """``md5(salt || v) || ':' || lpad(v, 12)``: a fixed random permutation
    of the vertices, unique per vertex and compared as a string."""
    return F.concat(
        F.md5(F.concat(F.lit(salt), vcol.cast("string"))),
        F.lit(":"),
        F.lpad(vcol.cast("string"), 12, "0"),
    )


def _vertex_priorities(e: DataFrame, salt: str) -> DataFrame:
    """(vertex, prio) for every endpoint of the symmetrized edges ``e``."""
    return endpoints(e).distinct().select("vertex", _priority(F.col("vertex"), salt).alias("prio"))


def _local_minima(e: DataFrame, und: DataFrame) -> DataFrame:
    """(vertex) of the undecided vertices ``und`` (vertex, prio) whose prio
    is below every undecided neighbour's over the symmetrized edges ``e``."""
    nbr_min = (
        e.join(und.select(F.col("vertex").alias("src"), F.col("prio").alias("_np")), "src")
        .groupBy(F.col("dst").alias("vertex"))
        .agg(F.min("_np").alias("_m"))
    )
    return (
        und.join(nbr_min, "vertex", "left")
        .where(F.col("_m").isNull() | (F.col("prio") < F.col("_m")))
        .select("vertex")
    )


def luby_mis(
    spark: SparkSession,
    edges: DataFrame,
    *,
    rounds: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """(vertex long, status string, round int): ``in`` (MIS member) /
    ``out`` (dominated) with the round it was decided (1-based), or
    ``undecided`` with round −1 when a ``rounds`` cap stopped the run
    early.  ``rounds=None`` iterates to the fixpoint (a true MIS:
    independent AND maximal)."""
    p = num_partitions or spark.sparkContext.defaultParallelism
    e = symmetrize(edges).repartition(p, "src").persist()
    undecided = F.col("status") == "undecided"

    def step(state: DataFrame, k: int) -> DataFrame:
        won = _local_minima(e, state.where(undecided)).withColumn("_won", F.lit(True))
        dominated = (
            e.join(won.select(F.col("vertex").alias("src")), "src")
            .select(F.col("dst").alias("vertex"), F.lit(True).alias("_dom"))
            .distinct()
        )
        lost = F.col("_dom") & undecided
        return state.join(won, "vertex", "left").join(dominated, "vertex", "left").select(
            "vertex",
            "prio",
            F.when(F.col("_won"), F.lit("in"))
            .when(lost, F.lit("out"))
            .otherwise(F.col("status"))
            .alias("status"),
            F.when(F.col("_won") | lost, k).otherwise(F.col("round")).alias("round"),
        )

    run = superstep_loop(
        spark,
        _vertex_priorities(e, "mis:").select(
            "vertex", "prio", F.lit("undecided").alias("status"), F.lit(-1).alias("round")
        ),
        step,
        algo="luby_mis",
        # each round decides the smallest undecided priority, so the
        # convergence test always ends an uncapped run
        max_supersteps=sys.maxsize if rounds is None else rounds,
        converge_on=F.count_if(undecided),
        converged_fn=lambda _prev, left: left == 0,
    )
    e.unpersist()
    return run.state.select("vertex", "status", "round")
