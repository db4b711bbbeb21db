"""Link prediction over the undirected graph — common-neighbors and
Adamic-Adar scores, the standard "which edges are missing" primitives of
link-graph analytics (friend/citation/dependency suggestion).

For a candidate pair (u, v):

    common_neighbors(u, v) = |N(u) ∩ N(v)|
    adamic_adar(u, v)      = Σ_{w ∈ N(u) ∩ N(v)} 1 / ln(deg(w))

Plan shape: one self-join of the symmetrized adjacency on the shared
neighbor w (rows (w, u) ⋈ (w, v), u < v) + a hash aggregation per pair —
work is Σ_w deg(w)², never n².  Any w contributing to a pair has two
distinct neighbors, so deg(w) ≥ 2 and 1/ln(deg) is always finite.  Already
-adjacent pairs are anti-joined away (link PREDICTION scores absent edges).

Skew note: the self-join fans a degree-d hub into d² rows — at web scale
either cap hub degree (drop w with deg(w) > D: their 1/ln contribution is
the smallest anyway, the usual pruning) via ``max_neighbor_degree``, or
pre-split hubs with plans.skew.  The cap is logged, never silent.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import superstep_loop

log = logging.getLogger(__name__)


def adamic_adar_scores(
    edges: DataFrame,
    *,
    include_common_neighbors: bool = True,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """(a, b, [cn,] aa) for every non-adjacent pair sharing ≥1 neighbor,
    a < b; ``aa`` is the Adamic-Adar score, ``cn`` the common-neighbor
    count.  ``max_neighbor_degree`` drops shared-neighbor hubs above the
    bound (logged) — the standard pruning that bounds the d² fan-out."""
    adj = symmetrize(edges)  # (src=w's neighbor relation as (src, dst))
    nbrs = adj.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    deg = nbrs.groupBy("w").agg(F.count(F.lit(1)).alias("deg"))
    if max_neighbor_degree is not None:
        dropped = deg.where(F.col("deg") > max_neighbor_degree).count()
        if dropped:
            log.warning(
                "adamic_adar_scores: pruned %d shared-neighbor hub(s) with "
                "degree > %d; pairs connected ONLY through them are not scored",
                dropped, max_neighbor_degree,
            )
        deg = deg.where(F.col("deg") <= max_neighbor_degree)
    wn = nbrs.join(deg, "w")
    l, r = wn.alias("l"), wn.alias("r")
    scored = (
        l.join(
            r,
            (F.col("l.w") == F.col("r.w")) & (F.col("l.u") < F.col("r.u")),
        )
        .select(
            F.col("l.u").alias("a"),
            F.col("r.u").alias("b"),
            (F.lit(1.0) / F.log(F.col("l.deg").cast("double"))).alias("_c"),
        )
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum("_c").alias("aa"),
        )
    )
    # link prediction scores ABSENT edges: drop already-adjacent pairs
    existing = adj.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    out = scored.join(existing, ["a", "b"], "left_anti")
    if not include_common_neighbors:
        out = out.drop("cn")
    return out


def link_prediction_scores(
    edges: DataFrame,
    *,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """The four standard neighborhood link-prediction scores per candidate
    pair (Liben-Nowell & Kleinberg 2003) in ONE pass:

        cn      = |N(u) ∩ N(v)|                  (common neighbors)
        jaccard = cn / |N(u) ∪ N(v)|
        aa      = Σ_w 1 / ln(deg(w))             (Adamic-Adar)
        ra      = Σ_w 1 / deg(w)                 (resource allocation)

    Same plan as ``adamic_adar_scores`` — one shared-neighbor self-join +
    one aggregation — plus two broadcast-sized joins of the per-endpoint
    degree table for the Jaccard denominator (|N(u) ∪ N(v)| =
    deg(u) + deg(v) − cn).  Returns ``(a, b, cn, jaccard, aa, ra)`` for
    non-adjacent pairs with ≥1 shared neighbor, a < b.
    """
    adj = symmetrize(edges)
    nbrs = adj.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    deg = nbrs.groupBy("w").agg(F.count(F.lit(1)).alias("deg"))
    if max_neighbor_degree is not None:
        dropped = deg.where(F.col("deg") > max_neighbor_degree).count()
        if dropped:
            log.warning(
                "link_prediction_scores: pruned %d shared-neighbor hub(s) "
                "with degree > %d", dropped, max_neighbor_degree,
            )
        wdeg = deg.where(F.col("deg") <= max_neighbor_degree)
    else:
        wdeg = deg
    wn = nbrs.join(wdeg, "w")
    l, r = wn.alias("l"), wn.alias("r")
    scored = (
        l.join(
            r,
            (F.col("l.w") == F.col("r.w")) & (F.col("l.u") < F.col("r.u")),
        )
        .select(
            F.col("l.u").alias("a"),
            F.col("r.u").alias("b"),
            (F.lit(1.0) / F.log(F.col("l.deg").cast("double"))).alias("_aa"),
            (F.lit(1.0) / F.col("l.deg").cast("double")).alias("_ra"),
        )
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum("_aa").alias("aa"),
            F.sum("_ra").alias("ra"),
        )
    )
    existing = adj.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    cand = scored.join(existing, ["a", "b"], "left_anti")
    dega = deg.select(F.col("w").alias("a"), F.col("deg").alias("_da"))
    degb = deg.select(F.col("w").alias("b"), F.col("deg").alias("_db"))
    return (
        cand.join(dega, "a")
        .join(degb, "b")
        .select(
            "a",
            "b",
            "cn",
            (
                F.col("cn").cast("double")
                / (F.col("_da") + F.col("_db") - F.col("cn")).cast("double")
            ).alias("jaccard"),
            "aa",
            "ra",
        )
    )


def simrank(
    spark,
    edges: DataFrame,
    *,
    c: float = 0.8,
    iters: int = 2,
    num_partitions: int | None = None,
) -> DataFrame:
    """SimRank (Jeh & Widom, KDD 2002) truncated at ``iters`` iterations —
    "two objects are similar if they are referenced by similar objects":

        s_0 = I
        s_k(a, b) = c / (|I(a)|·|I(b)|) · Σ_{u∈I(a), v∈I(b)} s_{k-1}(u, v)
                    for a ≠ b;  s_k(a, a) = 1

    over DIRECTED in-neighborhoods I(·).  Returns the ORDERED sparse score
    table (u, v, s) — both orientations of every scored pair plus the unit
    diagonal; rows absent mean s = 0 (pairs with no common in-walk support).

    Plan shape: one iteration is s ⋈ in-edges (on u) ⋈ in-edges (on v) +
    one hash aggregation — work is Σ over scored pairs of
    |out(u)|·|out(v)|, i.e. sparse co-citation fan-out, never n².  The
    in-degree normalizers live in one small persisted dim joined after the
    aggregate.  Like the link-prediction self-join above, a degree-d hub
    fans into d² first-iteration pairs: at web scale sparsify or hub-cap
    the edge table first (the gated query runs the sparsified order graph).
    One iteration is one ``superstep_loop`` superstep (the score table
    re-enters its own next-round plan).
    """
    p = num_partitions or spark.sparkContext.defaultParallelism
    ein = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("a"))
        .where(F.col("u") != F.col("a"))
        .dropDuplicates(["u", "a"])
        .repartition(p, "u")
        .persist()
    )
    verts = (
        ein.select(F.col("u").alias("vertex"))
        .unionByName(ein.select(F.col("a").alias("vertex")))
        .distinct()
        .persist()
    )
    ind = (
        ein.groupBy("a")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
        .persist()
    )
    diag = verts.select(
        F.col("vertex").alias("u"), F.col("vertex").alias("v"), F.lit(1.0).alias("s")
    )

    def step(s: DataFrame, _k: int) -> DataFrame:
        raw = (
            s.join(ein, "u")
            .join(
                ein.select(F.col("u").alias("v"), F.col("a").alias("b")), "v"
            )
            .where(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum("s").alias("m"))
        )
        off = (
            raw.join(ind.select("a", F.col("d").alias("_ia")), "a")
            .join(ind.select(F.col("a").alias("b"), F.col("d").alias("_ib")), "b")
            .select(
                F.col("a").alias("u"),
                F.col("b").alias("v"),
                (F.lit(c) * F.col("m") / (F.col("_ia") * F.col("_ib"))).alias("s"),
            )
        )
        return diag.unionByName(off)

    run = superstep_loop(spark, diag, step, algo="simrank", max_supersteps=iters)
    ein.unpersist()
    ind.unpersist()
    verts.unpersist()
    return run.state
