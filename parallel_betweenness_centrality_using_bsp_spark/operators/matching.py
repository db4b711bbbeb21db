"""Maximal matching — parallel greedy with local-minimum edges.

The third classic BSP symmetry-breaking kernel, next to Luby MIS
(operators/mis.py) and Jones-Plassmann coloring (operators/coloring.py):
repeatedly, every live edge whose priority is the strict minimum among all
live edges touching either endpoint enters the matching, then both its
endpoints (and every edge on them) leave.  Locally-minimal edges are
vertex-disjoint by construction, so same-round picks never conflict —
the Israeli-Itai round structure, derandomized with a fixed priority
permutation (Blelloch, Fineman & Shun 2012 show the sequential-order
equivalence below makes greedy matching this parallelizable).

Priorities are DETERMINISTIC — ``md5('match:' || src || ':' || dst)`` with
the canonical edge appended as a tiebreak, the md5-family pattern shared
with MIS/coloring/MinHash — so the DuckDB twin replays the exact run
round for round, and the whole run equals the SEQUENTIAL greedy matching
that scans edges by ascending priority taking any edge with both
endpoints free (an edge is taken by sequential greedy iff it is a local
minimum after its priority-smaller neighbors are decided — induction on
priority order), which the pytest recomputes in plain python.

One round is one ``superstep_loop`` superstep over the state
``(src, dst, prio, round)``: matched edges with their round plus the live
edges (round −1).  The winners come off the vertex table: one unpivot of
the live edges (edge → two (vertex, prio) rows) and a per-vertex
``min(prio)``; since priorities are unique, an edge is locally minimal
iff its prio is the minimum at exactly 2 vertices, and a vertex is
matched iff its minimum is such a prio.  Two joins with that vertex table
then label the live edges: won, dropped (touching a newly matched
endpoint) or still live.  Hash ops on the live edge set, nothing
driver-side; the run
stops when no edge is live.  Expected O(log m) rounds under a random
permutation, and the ``rounds`` cap plus the ``live`` leftover make
partial progress explicit, never silent.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import superstep_loop


def _edge_priority(src, dst) -> "F.Column":
    key = F.concat(src.cast("string"), F.lit(":"), dst.cast("string"))
    return F.concat(
        F.md5(F.concat(F.lit("match:"), key)),
        F.lit(":"),
        F.lpad(src.cast("string"), 12, "0"),
        F.lit(":"),
        F.lpad(dst.cast("string"), 12, "0"),
    )


def greedy_matching(
    spark: SparkSession,
    edges: DataFrame,
    *,
    rounds: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """(src long, dst long, round int): matched pairs (canonical src < dst)
    with the round each was decided (1-based), plus — only when a
    ``rounds`` cap stopped the run before the fixpoint — the still-live
    edges as round −1 rows.  ``rounds=None`` iterates to the fixpoint
    (a true MAXIMAL matching: no live edge has both endpoints free)."""
    p = num_partitions or spark.sparkContext.defaultParallelism
    is_live = F.col("round") == -1

    def step(state: DataFrame, k: int) -> DataFrame:
        live = state.where(is_live)
        vmin = (
            live.select(F.col("src").alias("vertex"), "prio")
            .unionByName(live.select(F.col("dst").alias("vertex"), "prio"))
            .groupBy("vertex")
            .agg(F.min("prio").alias("_m"))
        )
        # _won: the vertex's min-prio edge is locally minimal, so the
        # vertex is matched this round
        vt = vmin.join(
            vmin.groupBy("_m").count().where(F.col("count") == 2).select(
                "_m", F.lit(True).alias("_won")
            ),
            "_m",
            "left",
        )
        won = (F.col("prio") == F.col("_ms")) & (F.col("prio") == F.col("_md"))
        labelled = (
            live.join(
                vt.select(F.col("vertex").alias("src"), F.col("_m").alias("_ms"),
                          F.col("_won").alias("_ws")),
                "src",
            )
            .join(
                vt.select(F.col("vertex").alias("dst"), F.col("_m").alias("_md"),
                          F.col("_won").alias("_wd")),
                "dst",
            )
            .where(won | (F.col("_ws").isNull() & F.col("_wd").isNull()))
            .select("src", "dst", "prio", F.when(won, k).otherwise(-1).alias("round"))
        )
        return state.where(~is_live).unionByName(labelled)

    run = superstep_loop(
        spark,
        symmetrize(edges)
        .where(F.col("src") < F.col("dst"))
        .distinct()
        .repartition(p, "src")
        .select(
            "src",
            "dst",
            _edge_priority(F.col("src"), F.col("dst")).alias("prio"),
            F.lit(-1).alias("round"),
        ),
        step,
        algo="greedy_matching",
        # each round matches the smallest live priority, so the
        # convergence test always ends an uncapped run
        max_supersteps=sys.maxsize if rounds is None else rounds,
        converge_on=F.count_if(is_live),
        converged_fn=lambda _prev, left: left == 0,
    )
    return run.state.select("src", "dst", "round")
