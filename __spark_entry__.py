"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Coverage map (SURVEY.md §2):

* Relational support operators (Table B) — scans, projection, filter,
  hash/broadcast/sort-merge joins, semi/anti joins, hash aggregation,
  distinct, window functions, top-k, set ops, string/date/math
  functions: ``q1_pricing_summary`` … ``lineitem_topk``.
* Text-analysis + dedup pipeline — token counting, BPE-ish counting,
  language id, quality scoring, sha256 fingerprint exact-dup groups,
  exact n-gram Jaccard: ``doc_*`` / ``exact_dup_groups`` /
  ``jaccard_pairs_exact`` (full DuckDB oracles).  MinHash-LSH and
  SimHash near-dup (``minhash_neardup``, ``simhash_neardup``) run the
  engine-portable md5 hash families, so the ENTIRE LSH pipelines
  (signatures → band buckets → candidate join → verify) are under the
  value-hash gate; the faster xxhash64 families are the bulk defaults
  (identical algorithm, different hash constants).
* Similarity search — exact cosine top-k (oracle via
  ``list_cosine_similarity``); LSH-bucketed ANN oracle-gated via the
  integer-quantized hyperplane family (exact int64 bucket codes in
  both engines, so the probe set and result match bit-for-bit).
* Graph kernels (Table A) over a deterministic edge table derived from
  ``orders`` (SQL-expressible in both engines): degrees, triangle
  count, connected components (recursive-CTE oracle; both hash-min and
  star-contraction backends), PageRank (5 unrolled iterations in SQL),
  label propagation (3 unrolled rounds), and Brandes betweenness over
  a 64-source sample (recursive-CTE BFS distances + depth-unrolled
  sigma/delta DP in SQL).  The general-graph allclose-1e-6 oracle vs
  sequential Brandes additionally lives in tests/test_betweenness.py
  (per BASELINE.json north_star).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import endpoints

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Graph derived deterministically from orders — SQL-expressible in both
# engines, so the iterative kernels get real oracles.
# ---------------------------------------------------------------------------

GRAPH_MOD = 1000
EMB_DIM = 64  # embeddings fixture dimension — shared by the ann query (plane
              # generation from the query vector) and its SQL twin (literal
              # hyperplane lists); the query asserts the fixture still matches


def _order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edges(src, dst): (o_custkey % M) -> (o_orderkey % M), distinct, no loops."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            (F.col("o_custkey") % GRAPH_MOD).alias("src"),
            (F.col("o_orderkey") % GRAPH_MOD).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


_EDGES_SQL = f"""
  edges AS (
    SELECT DISTINCT (o_custkey % {GRAPH_MOD})::BIGINT AS src,
                    (o_orderkey % {GRAPH_MOD})::BIGINT AS dst
    FROM orders
    WHERE (o_custkey % {GRAPH_MOD}) != (o_orderkey % {GRAPH_MOD})
  ),
  und AS (
    -- explicit DISTINCT, not bare UNION: under WITH RECURSIVE, DuckDB 1.0
    -- treats a two-branch UNION CTE as a recursive union and skips
    -- cross-branch dedup, leaving duplicate rows when the directed edge set
    -- contains both orientations of a pair
    SELECT DISTINCT src, dst FROM (
      SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
  ),
  vertices AS (SELECT DISTINCT src AS vertex FROM und)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the order-derived link graph at sf0.001 —
    exercises edge derivation → superstep loop → top-k, end to end."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import pagerank

    edges = _order_edges(spark, SF_DEFAULT)
    run = pagerank(spark, edges, tol=0.0, max_supersteps=5)
    return (
        run.state.select("vertex", F.round("pr", 6).alias("pr"))
        .orderBy(F.desc("pr"), F.asc("vertex"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Relational support operators (SURVEY.md §2 Table B)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join: region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem ⋈ supplier
    (small dims are auto-broadcast; the lineitem joins shuffle)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        F.broadcast(r)
        .join(n, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(c, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("s_nationkey") == F.col("c_nationkey")))
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


def top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: rank customers by account balance within nation."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "c_nationkey", "rk", "c_custkey", F.round("c_acctbal", 2).alias("acctbal")
        )
        .orderBy("c_nationkey", "rk")
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers that placed no orders, counted per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_nationkey")
    )


def urgent_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: customers having at least one 1-URGENT order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_nationkey")
        .orderBy("c_custkey")
    )


def nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: nations with customers but no suppliers (EXCEPT),
    plus nations with both (INTERSECT), tagged."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    only_c = c.exceptAll(c.join(s, "nationkey", "left_semi")).distinct().withColumn(
        "tag", F.lit("customers_only")
    )
    both = c.intersect(s).withColumn("tag", F.lit("both"))
    return only_c.unionByName(both).orderBy("tag", "nationkey")


def events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions + aggregation over the events table."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .drop("approx_users")  # approx: no deterministic oracle — recompute exact
        .join(
            e.groupBy(
                F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
                "event_type",
            ).agg(F.countDistinct("user_id").alias("n_users")),
            ["day", "event_type"],
        )
        .orderBy("day", "event_type")
    )


def events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming transform (streaming/events.py) run in batch mode —
    identical logic feeds readStream/writeStream with a watermark; the DuckDB
    twin uses epoch-aligned time buckets."""
    from parallel_betweenness_centrality_using_bsp_spark.streaming.events import windowed_event_counts

    e = _t(spark, sf_dir, "events")
    out = windowed_event_counts(e, "1 hour")
    return (
        out.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function sessionization (30-min gap) — the batch twin of the
    stateful streaming operator (streaming/sessions.py); integer-microsecond
    time arithmetic keeps all three forms (batch, stream, oracle) exact."""
    from parallel_betweenness_centrality_using_bsp_spark.streaming.sessions import sessionize_batch

    e = _t(spark, sf_dir, "events")
    return sessionize_batch(e).orderBy("user_id", "session_seq")


def events_asof_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks the latest same-user event
    STRICTLY before it — gated against DuckDB's native ASOF JOIN.  Runs the
    skew-safe two-phase plan (ts_buckets=8: per-(key, time-bucket) local
    windows + a tiny carry window), which is result-identical to the
    single-window form (operators/asof.py) — the contract exercises the
    production-shaped path."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.asof import asof_prev

    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    anchors = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("us")
    )
    refs = e.select("user_id", us.alias("us"))
    return (
        asof_prev(anchors, refs, ["user_id"], "us", out_col="prev_us", ts_buckets=8)
        .where(F.col("prev_us").isNotNull())
        .select(
            "event_id",
            "prev_us",
            (F.col("us") - F.col("prev_us")).alias("gap_us"),
        )
        .orderBy("event_id")
    )


def events_followup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: for each anchor event, count same-user events in
    the following 10 minutes — equi key (user_id) + range predicate, the
    interval-join shape.  Catalyst plans the equi part as a hash/SMJ join
    and applies the range as a join filter, so work scales with per-user
    density, never |events|²."""
    e = _t(spark, sf_dir, "events")
    a = e.where(F.col("event_id") < 500).select(
        F.col("event_id").alias("a_id"),
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
    )
    b = e.select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"))
    return (
        a.join(
            b,
            (F.col("a_user") == F.col("b_user"))
            & (F.col("b_ts") > F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES")),
            "left",
        )
        .groupBy("a_id")
        .agg(F.count("b_ts").alias("n_follow"))
        .orderBy("a_id")
    )


def part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions + aggregation: brand stats over filtered parts."""
    p = _t(spark, sf_dir, "part")
    return (
        p.where(~F.col("p_type").startswith("SMALL"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_type").alias("n_types"),
            F.max("p_size").alias("max_size"),
            # sum, not avg: brands group in power-of-two sizes here, so an
            # average of 2-decimal prices lands exactly on a .xxxxxx5
            # boundary where Spark/DuckDB rounding modes diverge.
            F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
        )
        .orderBy("p_brand")
    )


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation: order counts/totals at (priority, status), per
    priority, and grand-total levels in one pass."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "total_price",
        )
        .orderBy("priority", "status")
    )


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube aggregation: event stats at (day, event_type), per day, per
    event_type, and grand total — all four grouping levels in one pass
    (the grouping-sets counterpart of ``orders_rollup``)."""
    e = _t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    return (
        e.select(day.alias("day"), "event_type", "value")
        .cube("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # 4dp: the grand-total row sums the whole table, where float
            # association order between engines costs ~1e-9 absolute
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n_events",
            "sum_value",
        )
        .orderBy("day", "event_type")
    )


def lineitem_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (TakeOrderedAndProject): 15 priciest shipped line items."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
            F.concat_ws("-", "l_returnflag", "l_linestatus").alias("flag"),
        )
        .orderBy(F.desc("price"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Text analysis + dedup (documents table)
# ---------------------------------------------------------------------------

def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_betweenness_centrality_using_bsp_spark.functions.text import (
        bpe_ish_token_count,
        token_count,
    )

    d = _t(spark, sf_dir, "documents")
    return (
        d.where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            token_count(F.col("text")).alias("n_tokens"),
            bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
            F.length("text").alias("n_chars_live"),
        )
        .orderBy("doc_id")
    )


def doc_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-PMI collocation extraction (Church & Hanks 1990) — top 30 by
    rounded PMI with a min-count floor.  Counts are exact BIGINTs in both
    engines; the sort keys (round(pmi,6), bigram) form a total order, so
    the LIMIT cuts identically."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import bigram_pmi

    d = _t(spark, sf_dir, "documents")
    return (
        bigram_pmi(d, min_count=5)
        .select("bigram", "n_xy", F.round("pmi", 6).alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(30)
    )


def doc_repetition_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 App. A1): the 40
    most n-gram-repetitive documents.  All counts are exact BIGINTs; the
    three fractions are single exact-int divisions rounded to 6 dp, and the
    sort keys (dup_trigram_frac, top_bigram_frac, doc_id) are a total
    order, so the LIMIT cuts identically in any engine."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import repetition_stats

    d = _t(spark, sf_dir, "documents")
    r = repetition_stats(d).where(F.col("n_tokens") >= 1)
    return (
        r.select(
            "doc_id",
            "n_tokens",
            F.round("distinct_ratio", 6).alias("distinct_ratio"),
            F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
            F.round("dup_trigram_frac", 6).alias("dup_trigram_frac"),
        )
        .orderBy(
            F.desc("dup_trigram_frac"), F.desc("top_bigram_frac"), F.asc("doc_id")
        )
        .limit(40)
    )


def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: char-20-gram overlap of every training
    document against the held-out set (doc_id % 20 == 0 — the deterministic
    eval split), the leakage check an LLM pipeline runs before training
    (GPT-3 App. C style).  The Spark side joins on xxhash64(gram) — the
    at-scale default (8-byte shuffle keys) — while the oracle joins raw
    strings: identical counts unless a 64-bit collision (≈|grams|²/2⁶⁴)."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import ngram_overlap

    d = _t(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 20 != 0)
    ev = d.where(F.col("doc_id") % 20 == 0)
    return (
        ngram_overlap(train, ev, n=20)
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            F.round("overlap_frac", 6).alias("overlap_frac"),
        )
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(50)
    )


def _pmi_sql() -> str:
    return r"""
WITH toks AS (
    SELECT regexp_extract_all(lower(trim(text)), '\S+') AS t FROM documents),
uni AS (
    SELECT term, count(*)::BIGINT AS c
    FROM (SELECT unnest(t) AS term FROM toks) GROUP BY term),
tot AS (
    SELECT sum(len(t))::BIGINT AS n_u,
           sum(greatest(len(t) - 1, 0))::BIGINT AS n_bg FROM toks),
pairs AS (
    SELECT string_split(bg, ' ')[1] AS x, string_split(bg, ' ')[2] AS y,
           count(*)::BIGINT AS n_xy
    FROM (SELECT unnest(list_transform(range(1, len(t)),
                                       i -> t[i] || ' ' || t[i + 1])) AS bg
          FROM toks WHERE len(t) >= 2)
    GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT p.x || ' ' || p.y AS bigram, p.n_xy,
       round(ln((p.n_xy::DOUBLE / t.n_bg::DOUBLE)
                / ((ux.c::DOUBLE / t.n_u::DOUBLE) * (uy.c::DOUBLE / t.n_u::DOUBLE))),
             6) AS pmi
FROM pairs p
JOIN uni ux ON ux.term = p.x
JOIN uni uy ON uy.term = p.y, tot t
ORDER BY pmi DESC, bigram LIMIT 30
"""


def orders_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order-year × order-status revenue matrix.  Sums run over
    DECIMAL(18,2) — exact in any engine and partition order — and only the
    final presentation cast is float."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.select(
            F.year("o_orderdate").alias("o_year"),
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        .groupBy("o_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("price"))
    )
    return piv.select(
        "o_year",
        F.round(F.col("F").cast("double"), 2).alias("rev_f"),
        F.round(F.col("O").cast("double"), 2).alias("rev_o"),
        F.round(F.col("P").cast("double"), 2).alias("rev_p"),
    ).orderBy("o_year")


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (not approx) per event type — Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the (n−1)·p
    linear-interpolation convention, so values agree at 6dp."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile("value", 0.25), 6).alias("p25"),
            F.round(F.percentile("value", 0.5), 6).alias("p50"),
            F.round(F.percentile("value", 0.75), 6).alias("p75"),
        )
        .orderBy("event_type")
    )


def orders_unpivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) of the year × status revenue matrix back to long
    form — `DataFrame.unpivot`, the Spark-native stack operator."""
    piv = orders_pivot_status(spark, sf_dir)
    return (
        piv.unpivot(["o_year"], ["rev_f", "rev_o", "rev_p"], "status", "revenue")
        .where(F.col("revenue").isNotNull())
        .orderBy("o_year", "status")
    )


def user_value_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 temporal dimension build: each event becomes a validity
    interval [ts, next ts) per user via lead() — the slowly-changing-
    dimension pattern every warehouse pipeline runs; the open row is
    flagged current."""
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts", 1).over(w)
    return e.select(
        "user_id",
        "event_id",
        F.round("value", 6).alias("value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    ).orderBy("user_id", "valid_from", "event_id")


def event_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection: (user × event_type) distinct-reduced, then a
    user-keyed self-join counts users sharing each type pair — the
    co-occurrence-graph build step of a recommender/feature pipeline.
    Per-user fan-out is |types-per-user|² (tiny here); at web scale the
    hub-user cap pattern from operators/dedup.py applies unchanged."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    a = e.select("user_id", F.col("event_type").alias("a"))
    b = e.select("user_id", F.col("event_type").alias("b"))
    return (
        a.join(b, "user_id")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("a", "b")
    )


def events_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame window aggregates: 4-row rolling mean + lag delta per
    user, ordered by (ts, event_id) — a unique total order, so frames are
    identical in any engine."""
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    roll = w.rowsBetween(-3, 0)
    return e.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(roll), 6).alias("roll_avg4"),
        F.round(F.col("value") - F.lag("value", 1).over(w), 6).alias("delta_prev"),
    ).orderBy("user_id", "event_id")


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_betweenness_centrality_using_bsp_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


def doc_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_betweenness_centrality_using_bsp_spark.functions.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", quality_score(F.col("text")).alias("quality"))
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .limit(25)
    )


def doc_tfidf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf·idf term weighting: top-3 terms per document (doc_id < 50) by
    ROUNDED tfidf desc then term asc — ranking on the rounded score keeps
    the tie-break order identical across engines.  Document frequency is
    computed over the full corpus."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import tf_idf_terms

    d = _t(spark, sf_dir, "documents")
    scored = tf_idf_terms(d).withColumn("tfidf", F.round("tfidf", 6))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.where(F.col("doc_id") < 50)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "rk", "term", "tf", "tfidf")
        .orderBy("doc_id", "rk")
    )


BM25_TOPK = 20


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 docs for the in-plan-derived 2-term query (the
    two highest-df terms, ties → term asc) — ranking on the ROUNDED score
    keeps the cross-engine order identical; the twin replays the same
    tokenize/df/length/idf pipeline in SQL."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import bm25_scores

    d = _t(spark, sf_dir, "documents")
    s = bm25_scores(d).withColumn("bm25", F.round("bm25", 6))
    return s.orderBy(F.desc("bm25"), "doc_id").limit(BM25_TOPK)


def _bm25_sql() -> str:
    return rf"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS term
    FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*)::BIGINT AS dfq FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS nd FROM tf),
dlen AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY doc_id),
ad AS (SELECT avg(dl) AS avgdl FROM dlen),
q AS (SELECT term FROM dfreq ORDER BY dfq DESC, term ASC LIMIT 2),
scored AS (
    SELECT t.doc_id,
           ln(1.0 + ((SELECT nd FROM n) - d.dfq + 0.5) / (d.dfq + 0.5))
             * t.tf * (1.2 + 1.0)
             / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / (SELECT avgdl FROM ad))) AS s
    FROM tf t JOIN q USING (term) JOIN dfreq d USING (term) JOIN dlen l USING (doc_id))
SELECT doc_id, round(sum(s), 6) AS bm25
FROM scored GROUP BY doc_id
ORDER BY round(sum(s), 6) DESC, doc_id LIMIT {BM25_TOPK}
"""


def doc_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% hash sample of documents, summarized per predicted
    language with EXACT percentile stats (median + p90 of token counts) —
    the reproducible train/eval-split primitive plus percentile coverage."""
    from parallel_betweenness_centrality_using_bsp_spark.functions.text import lang_id, token_count
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import (
        deterministic_sample,
    )

    d = _t(spark, sf_dir, "documents")
    s = deterministic_sample(d, 0.2).select(
        lang_id(F.col("text")).alias("lang"), token_count(F.col("text")).alias("n_tok")
    )
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.expr("percentile(n_tok, 0.5)"), 6).alias("median_tok"),
            F.round(F.expr("percentile(n_tok, 0.9)"), 6).alias("p90_tok"),
        )
        .orderBy("lang")
    )


MIX_RATES = {"en": 0.8, "de": 0.5, "es": 0.25, "fr": 0.1}
MIX_DEFAULT = 0.05  # zh and anything unlisted


def training_mix_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing primitive: downsample each language to its target
    weight with the deterministic md5-bucket threshold (nested across
    rate changes, stable under growth, broadcast-dim join — never a
    driver loop); returns the kept rows themselves so the gate checks
    membership row-for-row, not just counts."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import training_mix

    d = _t(spark, sf_dir, "documents")
    return (
        training_mix(d, MIX_RATES, default_rate=MIX_DEFAULT)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def _training_mix_sql() -> str:
    whens = " ".join(
        f"WHEN '{g}' THEN {int(round(r * 10_000))}"
        for g, r in sorted(MIX_RATES.items())
    )
    return f"""
        SELECT doc_id, lang, source FROM documents
        WHERE (('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT
               % 10000)
              < CASE lang {whens} ELSE {int(round(MIX_DEFAULT * 10_000))} END
        ORDER BY doc_id
    """


PACK_SEQ_LEN = 256


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM sequence packing: concatenate the corpus's token streams in
    doc_id order and slice into PACK_SEQ_LEN-token training chunks —
    output is the exact (doc × chunk) segment layout as LONGs, so the
    gate checks the packing bit-for-bit (the Spark side derives global
    offsets via the two-phase partition-prefix cumsum, never a
    single-partition window)."""
    from parallel_betweenness_centrality_using_bsp_spark.functions.text import token_count
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(d, PACK_SEQ_LEN).orderBy("chunk_id", "doc_id")


def _pack_sequences_sql() -> str:
    S = PACK_SEQ_LEN
    return f"""
        WITH d AS (SELECT doc_id, ({_NTOK})::BIGINT AS n FROM documents
                   WHERE ({_NTOK}) > 0),
        c AS (SELECT doc_id, n,
                     (sum(n) OVER (ORDER BY doc_id) - n)::BIGINT AS o
              FROM d),
        seg AS (SELECT doc_id, n, o,
                       unnest(generate_series(o // {S}, (o + n - 1) // {S}))::BIGINT
                         AS chunk_id
                FROM c)
        SELECT doc_id, chunk_id,
               (greatest(o, chunk_id*{S}) - chunk_id*{S})::BIGINT AS chunk_pos,
               (greatest(o, chunk_id*{S}) - o)::BIGINT AS doc_start,
               (least(o+n, (chunk_id+1)*{S}) - greatest(o, chunk_id*{S}))::BIGINT AS seg_len
        FROM seg ORDER BY chunk_id, doc_id
    """


def doc_encoded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style corpus encoding: a frequency-ranked vocabulary
    (count DESC, term ASC → dense ids, two-phase global ranking) built
    over the WHOLE corpus, then docs with doc_id < 20 encoded as
    (doc_id, pos, term_id) token-id streams — the long scalar layout
    that feeds sequence packing.  The twin rebuilds the identical
    vocabulary with a window rank and indexes the token arrays."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import (
        build_vocab,
        encode_docs,
    )

    d = _t(spark, sf_dir, "documents")
    vocab = build_vocab(d)
    return (
        encode_docs(d.where(F.col("doc_id") < 20), vocab)
        .orderBy("doc_id", "pos")
    )


def _encoded_sample_sql() -> str:
    return r"""
        WITH terms AS (
          SELECT unnest(regexp_extract_all(trim(text), '\S+')) AS term
          FROM documents),
        hist AS (SELECT term, count(*)::BIGINT AS count FROM terms GROUP BY term),
        vocab AS (SELECT term,
                         (row_number() OVER (ORDER BY count DESC, term) - 1)::BIGINT
                           AS term_id
                  FROM hist),
        t AS (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks
              FROM documents WHERE doc_id < 20),
        e AS (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks)))::BIGINT AS i
              FROM t)
        SELECT e.doc_id, (e.i - 1)::BIGINT AS pos, v.term_id
        FROM e JOIN vocab v ON v.term = e.toks[e.i]
        ORDER BY doc_id, pos
    """


def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean per-token unigram surprisal per doc under the corpus's own
    unigram LM (−ln p(term)) — the curation-pipeline quality signal; the
    SQL twin computes the identical distribution and mean."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import unigram_surprisal

    d = _t(spark, sf_dir, "documents")
    return (
        unigram_surprisal(d)
        .select("doc_id", "n_tok", F.round("surprisal", 6).alias("surprisal"))
        .orderBy("doc_id")
    )


def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sha256-fingerprint duplicate groups (n>1) over normalized text."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.dedup import exact_duplicate_groups

    d = _t(spark, sf_dir, "documents")
    return exact_duplicate_groups(d, "text", "doc_id").orderBy("fp")


def jaccard_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for consecutive-id doc pairs (the verification
    leg of MinHash dedup, on a deterministic candidate set)."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    ids = d.select(F.col("doc_id").alias("a"))
    pairs = ids.select("a", (F.col("a") + 1).alias("b")).unionByName(
        ids.select("a", (F.col("a") + 2).alias("b"))
    ).where(F.col("b") < 100)
    return (
        ngram_jaccard_pairs(d, pairs, "text", "doc_id", shingle_n=3, threshold=0.0)
        .orderBy("a", "b")
    )


def training_set_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline: language filter → quality filter
    → exact dedup (keep min doc_id per normalized-text group) → selected ids.
    One oracle-checked query exercising the full selection path."""
    from parallel_betweenness_centrality_using_bsp_spark.functions.text import lang_id, quality_score
    from parallel_betweenness_centrality_using_bsp_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    filtered = d.where(
        (lang_id(F.col("text")) == "en") & (quality_score(F.col("text")) >= 0.5)
    )
    return exact_dedup(filtered, "text", "doc_id").select("doc_id").orderBy("doc_id")


def training_set_selection_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation pipeline a Gopher-style corpus build runs:
    repetition filters (dup-trigram ≤ 0.2, top-bigram ≤ 0.5, ≥ 10 tokens,
    Rae et al. 2021 App. A1) ∧ language == en ∧ quality ≥ 0.5 → exact
    dedup → selected ids.  All four stages composed in one oracle-gated
    query; every threshold compares the same exact-int-division double in
    both engines."""
    from parallel_betweenness_centrality_using_bsp_spark.functions.text import lang_id, quality_score
    from parallel_betweenness_centrality_using_bsp_spark.operators.dedup import exact_dedup
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import repetition_stats

    d = _t(spark, sf_dir, "documents")
    rep_keep = (
        repetition_stats(d)
        .where(
            (F.col("n_tokens") >= 10)
            & (F.col("dup_trigram_frac") <= 0.2)
            & (F.col("top_bigram_frac") <= 0.5)
        )
        .select("doc_id")
    )
    filtered = d.join(rep_keep, "doc_id", "left_semi").where(
        (lang_id(F.col("text")) == "en") & (quality_score(F.col("text")) >= 0.5)
    )
    return exact_dedup(filtered, "text", "doc_id").select("doc_id").orderBy("doc_id")


def minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH pipeline — ORACLE-GATED: the md5 hash family
    (signature i = min of md5(i||':'||shingle) hex strings) is reproduced
    exactly by the DuckDB twin, so signatures → band keys → bucket self-join
    → exact-Jaccard verify all sit under the value-hash gate.  The faster
    xxhash64 family stays the bulk default — identical algorithm, different
    hash constants."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.dedup import minhash_dedup_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        d, "text", "doc_id", threshold=0.3, hash_family="md5"
    ).orderBy("a", "b")


def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SimHash pipeline — ORACLE-GATED: the 60-bit md5 family (token
    hash = first 15 md5 hex chars) lets the DuckDB twin reproduce the
    bit-vote fingerprints, chunk buckets and hamming verification exactly.
    max_hamming=3 — the regime where the 4-chunk pigeonhole bucketing
    guarantees full recall (beyond 3, bucketed candidates under-recall, so
    the stated threshold would overpromise).  The xxhash64 64-bit family
    stays the bulk default."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.dedup import simhash_dedup_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_dedup_pairs(
        d, "text", "doc_id", max_hamming=3, hash_family="md5"
    ).orderBy("a", "b")


# ---------------------------------------------------------------------------
# Similarity search (embeddings table)
# ---------------------------------------------------------------------------

def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 vs the vec_id=0 embedding."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return brute_force_topk(e.where(F.col("vec_id") != 0), list(q), k=10)


def embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ 0.3 over the first 200 vectors — the exact
    baseline the LSH variant approximates."""
    from parallel_betweenness_centrality_using_bsp_spark.functions.vectors import cosine

    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    l, r = e.alias("l"), e.alias("r")
    return (
        l.join(r, F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            F.round(cosine(F.col("l.v"), F.col("r.v")), 6).alias("cos"),
        )
        .where(F.col("cos") >= 0.3)
        .orderBy("a", "b")
    )


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 — ORACLE-GATED via the
    integer-quantized hyperplane family: floor(v·2^10) embeddings dotted
    with floor(N(0,1)·2^9) planes are exact in int64/float64, so Spark and
    the DuckDB twin compute identical bucket codes (no float-association
    sign flips) and hence the identical probe set and result.  The float
    family (``ann_topk``) remains for bulk use; recall tests cover both."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.similarity import (
        ann_topk_quantized,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    assert len(q) == EMB_DIM, (
        f"embeddings fixture dim changed ({len(q)} != {EMB_DIM}): update "
        "EMB_DIM so the oracle's hyperplane literals match"
    )
    return ann_topk_quantized(
        spark, e.where(F.col("vec_id") != 0), list(q), k=10, bits=8, probe_hamming=1
    )


def ann_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING-path ANN under the oracle gate: build the quantized
    bucket-partitioned index once, then answer the query by reading only
    the probe buckets' files (partition pruning — plan-tested in
    tests/test_similarity.py).  Result-identical to ``ann_topk`` (same
    quantized planes ⇒ same probe set), so the same DuckDB twin gates it;
    what this row additionally certifies is that the pruned index probe
    returns the exact same answer as the full scan."""
    import shutil
    import tempfile

    from parallel_betweenness_centrality_using_bsp_spark.operators.similarity import (
        ann_topk_indexed_quantized,
        build_ann_index_quantized,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    root = tempfile.mkdtemp(prefix="contract_ann_idx_")
    try:
        build_ann_index_quantized(
            spark, e.where(F.col("vec_id") != 0), root + "/idx", dim=len(q), bits=8
        )
        out = ann_topk_indexed_quantized(
            spark, root + "/idx", list(q), k=10, bits=8, probe_hamming=1
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


KMEANS_K = 8
KMEANS_ROUNDS = 2


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round in-plan Lloyd k-means over the embedding table —
    ORACLE-GATED via the quantized-arithmetic family: centroids and
    distances are rounded to 6dp before every discrete decision, so the
    depth-unrolled SQL twin replays both assignment rounds exactly."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.similarity import kmeans_rounds

    v = _t(spark, sf_dir, "embeddings")
    return kmeans_rounds(spark, v, k=KMEANS_K, rounds=KMEANS_ROUNDS).orderBy("vec_id")


def _kmeans_sql() -> str:
    """``KMEANS_ROUNDS`` Lloyd rounds unrolled: position-exploded vectors,
    rounded centroids, rounded squared-L2 argmin with cid tie-break —
    mirrors operators/similarity.py::kmeans_rounds."""
    parts = [
        f"""WITH f AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ex AS (SELECT vec_id, g.i AS pos, v[g.i]::DOUBLE AS val
       FROM f CROSS JOIN generate_series(1, 64) AS g(i)),
c1 AS (SELECT vec_id AS cid, pos, round(val, 6) AS cval
       FROM ex WHERE vec_id IN (
           SELECT DISTINCT vec_id FROM ex ORDER BY vec_id LIMIT {KMEANS_K}))"""
    ]
    for r in range(1, KMEANS_ROUNDS + 1):
        parts.append(
            f""",
d{r} AS (SELECT e.vec_id, c.cid,
               round(sum((e.val - c.cval) * (e.val - c.cval)), 6) AS d2
         FROM ex e JOIN c{r} c USING (pos) GROUP BY 1, 2),
a{r} AS (SELECT vec_id, cid, d2 FROM (
           SELECT vec_id, cid, d2,
                  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
           FROM d{r}) WHERE rk = 1)"""
        )
        if r < KMEANS_ROUNDS:
            parts.append(
                f""",
c{r + 1} AS (SELECT a.cid, e.pos, round(avg(e.val), 6) AS cval
             FROM a{r} a JOIN ex e USING (vec_id) GROUP BY 1, 2)"""
            )
    parts.append(
        f"""
SELECT vec_id, cid AS cluster, d2 FROM a{KMEANS_ROUNDS} ORDER BY vec_id
"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Graph kernels on the order-derived edge table
# ---------------------------------------------------------------------------

def graph_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_betweenness_centrality_using_bsp_spark.operators.edges import degrees

    e = _order_edges(spark, sf_dir)
    return (
        degrees(e, "out")
        .orderBy(F.desc("degree"), F.asc("vertex"))
        .limit(20)
    )


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity — ORACLE-GATED with exact-integer
    sufficient statistics (BIGINT Σdudv/Σdu/Σdu² are partition-order-proof),
    so the twin is one identical double expression, no quantization."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.edges import degree_assortativity

    e = _order_edges(spark, sf_dir)
    a = degree_assortativity(e)
    return a.select("n_dir_edges", F.round("assortativity", 6).alias("assortativity"))


def _assortativity_sql() -> str:
    return f"""
WITH {_EDGES_SQL},
deg AS (SELECT src AS vertex, count(*)::BIGINT AS degree FROM und GROUP BY src),
s AS (
    SELECT count(*)::BIGINT AS m,
           sum(du.degree * dv.degree)::BIGINT AS sxy,
           sum(du.degree)::BIGINT AS sx,
           sum(du.degree * du.degree)::BIGINT AS sxx
    FROM und e
    JOIN deg du ON du.vertex = e.src
    JOIN deg dv ON dv.vertex = e.dst)
SELECT m AS n_dir_edges,
       round((sxy::DOUBLE / md - (sx::DOUBLE / md) * (sx::DOUBLE / md))
             / NULLIF(sxx::DOUBLE / md - (sx::DOUBLE / md) * (sx::DOUBLE / md), 0),
             6) AS assortativity
FROM (SELECT *, NULLIF(m::DOUBLE, 0) AS md FROM s)
"""


def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed reciprocity of the order graph (fraction of edges whose
    reverse edge exists) — one co-partitioned self-semi-join, no driver
    state."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.edges import reciprocity

    return reciprocity(_order_edges(spark, sf_dir))


def _reciprocity_sql() -> str:
    return f"""
WITH {_EDGES_SQL}
SELECT count(*)::BIGINT AS n_dir_edges,
       (count(*) FILTER (WHERE EXISTS
           (SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src)
       ))::BIGINT AS n_reciprocal,
       round((count(*) FILTER (WHERE EXISTS
           (SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src)
       ))::DOUBLE / count(*), 6) AS reciprocity
FROM edges e
"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_betweenness_centrality_using_bsp_spark.operators.triangles import triangle_triples

    e = _order_edges(spark, sf_dir)
    return triangle_triples(spark, e).agg(F.count(F.lit(1)).alias("n_triangles"))


ANF_K = 16
ANF_HOPS = 2


def graph_anf_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighborhood function: per-vertex bottom-k (KMV) sketch
    of the 2-hop ball, k=16, over the portable md5 hash family — the
    HyperANF-style web-graph ball-growth primitive.  Every sketch operation
    is integer-exact (union + keep-k-smallest), so the DuckDB twin replays
    the identical rounds and the per-vertex estimates hash-match at 6dp."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.anf import (
        anf_sketches,
        neighborhood_estimates,
    )

    e = _order_edges(spark, sf_dir)
    sk = anf_sketches(spark, e, hops=ANF_HOPS, k=ANF_K)
    return (
        neighborhood_estimates(sk, ANF_K)
        .select("vertex", "n_hashes", F.round("ball_est", 6).alias("ball_est"))
        .orderBy("vertex")
    )


def _anf_sql() -> str:
    """The KMV propagation replayed round-for-round: distinct union with
    the neighbor flow, then row_number ≤ k per vertex.  MATERIALIZED for
    the same reason as the sssp unroll — each round is referenced twice."""
    rounds = [
        "s0 AS MATERIALIZED (SELECT vertex, ('0x' || substr(md5('nf:' ||"
        " vertex::VARCHAR), 1, 15))::BIGINT AS h FROM vertices)"
    ]
    for i in range(ANF_HOPS):
        rounds.append(
            f"""s{i + 1} AS MATERIALIZED (
                SELECT vertex, h FROM (
                    SELECT vertex, h,
                           row_number() OVER (PARTITION BY vertex ORDER BY h)
                               AS rn
                    FROM (
                        SELECT DISTINCT vertex, h FROM (
                            SELECT vertex, h FROM s{i}
                            UNION ALL
                            SELECT u.dst AS vertex, s.h
                            FROM s{i} s JOIN und u ON u.src = s.vertex
                        )
                    )
                ) WHERE rn <= {ANF_K}
            )"""
        )
    chain = ",\n".join(rounds)
    return f"""
        WITH {_EDGES_SQL},
        {chain}
        SELECT vertex, count(*) AS n_hashes,
               round(CASE WHEN count(*) < {ANF_K}
                          THEN count(*)::DOUBLE
                          ELSE ({ANF_K - 1}.0 * 1152921504606846976.0)
                               / max(h)
                     END, 6) AS ball_est
        FROM s{ANF_HOPS}
        GROUP BY vertex ORDER BY vertex
    """


def graph_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The neighborhood function N(h) = Σ_v |ball(v, h)| for h = 0..2,
    estimated from the same bottom-k propagation as graph_anf_sketch —
    the curve effective diameter is read from.  One row per hop; the twin
    replays every round and applies the identical KMV estimator."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.anf import (
        neighborhood_function,
    )

    e = _order_edges(spark, sf_dir)
    return (
        neighborhood_function(spark, e, hops=ANF_HOPS, k=ANF_K)
        .select("hop", F.round("nf_est", 4).alias("nf_est"))
        .orderBy("hop")
    )


def graph_harmonic_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall-style approximate harmonic centrality for EVERY vertex
    from the same bottom-k propagation (Boldi-Vigna with KMV counters):
    H(v) = Σ_h (|B(v,h)|−|B(v,h−1)|)/h.  The all-vertex counterpart of the
    sampled-source closeness gates; the twin replays every round and the
    identical estimator/difference arithmetic."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.anf import harmonic_sketch

    e = _order_edges(spark, sf_dir)
    return (
        harmonic_sketch(spark, e, hops=ANF_HOPS, k=ANF_K)
        .select("vertex", F.round("harmonic_est", 6).alias("harmonic_est"))
        .orderBy("vertex")
    )


def _harmonic_sketch_sql() -> str:
    """Per-hop KMV ball estimates over the _anf_sql round chain, folded
    into Σ (b_h − b_{h−1})/h per vertex."""
    base = _anf_sql()
    tail_start = base.rindex("SELECT vertex, count(*)")
    est = (
        f"CASE WHEN count(*) < {ANF_K} THEN count(*)::DOUBLE "
        f"ELSE ({ANF_K - 1}.0 * 1152921504606846976.0) / max(h) END"
    )
    ball_ctes = ",\n".join(
        f"b{i} AS (SELECT vertex, {est} AS est FROM s{i} GROUP BY vertex)"
        for i in range(ANF_HOPS + 1)
    )
    diff_terms = " + ".join(
        f"(b{i}.est - b{i - 1}.est) / {i}.0" for i in range(1, ANF_HOPS + 1)
    )
    joins = "".join(
        f" JOIN b{i} ON b{i}.vertex = b0.vertex" for i in range(1, ANF_HOPS + 1)
    )
    return (
        base[:tail_start]
        + ",\n"
        + ball_ctes
        + f"""
        SELECT b0.vertex, round({diff_terms}, 6) AS harmonic_est
        FROM b0{joins} ORDER BY b0.vertex
    """
    )


def _nf_sql() -> str:
    """Per-round KMV totals over the _anf_sql round chain."""
    rounds = [
        "s0 AS MATERIALIZED (SELECT vertex, ('0x' || substr(md5('nf:' ||"
        " vertex::VARCHAR), 1, 15))::BIGINT AS h FROM vertices)"
    ]
    for i in range(ANF_HOPS):
        rounds.append(
            f"""s{i + 1} AS MATERIALIZED (
                SELECT vertex, h FROM (
                    SELECT vertex, h,
                           row_number() OVER (PARTITION BY vertex ORDER BY h)
                               AS rn
                    FROM (
                        SELECT DISTINCT vertex, h FROM (
                            SELECT vertex, h FROM s{i}
                            UNION ALL
                            SELECT u.dst AS vertex, s.h
                            FROM s{i} s JOIN und u ON u.src = s.vertex
                        )
                    )
                ) WHERE rn <= {ANF_K}
            )"""
        )
    ests = []
    for i in range(ANF_HOPS + 1):
        ests.append(
            f"""SELECT {i} AS hop, round(sum(est), 4) AS nf_est FROM (
                SELECT CASE WHEN count(*) < {ANF_K}
                            THEN count(*)::DOUBLE
                            ELSE ({ANF_K - 1}.0 * 1152921504606846976.0)
                                 / max(h)
                       END AS est
                FROM s{i} GROUP BY vertex)"""
        )
    chain = ",\n".join(rounds)
    union = "\nUNION ALL\n".join(ests)
    return f"""
        WITH {_EDGES_SQL},
        {chain}
        SELECT hop, nf_est FROM ({union}) ORDER BY hop
    """


def graph_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row (eff_diameter): the smallest hop h ≤ 2 with N(h) ≥ 0.9·N(2),
    read from the gated neighborhood function — the standard "90% effective
    diameter at horizon H" summary, computed in-plan (min over a filtered
    self-join against the horizon row, no driver-side selection)."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.anf import (
        neighborhood_function,
    )

    e = _order_edges(spark, sf_dir)
    nf = neighborhood_function(spark, e, hops=ANF_HOPS, k=ANF_K)
    horizon = nf.agg(F.max("hop").alias("mh")).join(nf, F.col("mh") == nf.hop).select(
        F.col("nf_est").alias("nf_max")
    )
    return (
        nf.crossJoin(F.broadcast(horizon))
        .where(F.col("nf_est") >= 0.9 * F.col("nf_max"))
        .agg(F.min("hop").alias("eff_diameter"))
    )


def _eff_diameter_sql() -> str:
    nf = _nf_sql()
    return f"""
        WITH nf AS ({nf})
        SELECT min(hop) AS eff_diameter FROM nf
        WHERE nf_est >= 0.9 * (SELECT nf_est FROM nf
                               WHERE hop = (SELECT max(hop) FROM nf))
    """


def graph_triangles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental triangle maintenance: a deterministic 90/10 hash split of
    the edge table plays the roles of existing graph and crawl delta; the
    cold kernel counts the 90% base, then ``incremental_triangles`` folds
    the 10% delta in via delta-edge inclusion–exclusion — never rescanning
    the base wedge space.  ORACLE-GATED against the FULL-graph count twin:
    base + new == cold-full by construction."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.triangles import (
        incremental_triangles,
        triangle_triples,
    )

    e = _order_edges(spark, sf_dir)
    bucket = F.pmod(F.xxhash64("src", "dst"), F.lit(10))
    base, delta = e.where(bucket < 9), e.where(bucket >= 9)
    cold_base = triangle_triples(spark, base).agg(
        F.count(F.lit(1)).alias("base_triangles")
    )
    new = incremental_triangles(spark, base, delta)
    return cold_base.crossJoin(new).select(
        (F.col("base_triangles") + F.col("new_triangles")).alias("n_triangles")
    )


def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parallel_betweenness_centrality_using_bsp_spark.operators.components import connected_components

    e = _order_edges(spark, sf_dir)
    return connected_components(spark, e).state.orderBy("vertex")


def graph_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same answer as graph_components via the O(log n)-round alternating
    star-contraction backend (Kiveris et al. 2014) — both oracle-gated."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.components import connected_components

    e = _order_edges(spark, sf_dir)
    return connected_components(spark, e, algorithm="starcontract").state.orderBy("vertex")


def graph_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components: a deterministic 90/10 hash split of
    the edge table plays the roles of existing graph and edge delta; labels
    come from a cold run on the 90% base, then ``incremental_components``
    folds the 10% delta in — a |delta|-sized label-graph fixpoint plus one
    broadcast relabel, never re-touching the base edges.  ORACLE-GATED
    against the FULL-graph components twin: incremental == cold by
    construction of hash-min labels (min vertex id per merged component)."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.components import (
        connected_components,
        incremental_components,
    )

    e = _order_edges(spark, sf_dir)
    bucket = F.pmod(F.xxhash64("src", "dst"), F.lit(10))
    labels = connected_components(spark, e.where(bucket < 9)).state
    return (
        incremental_components(spark, labels, e.where(bucket >= 9))
        .orderBy("vertex")
    )


def graph_pagerank5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 5 power iterations (tol=0 disables early convergence) so the
    unrolled DuckDB oracle computes the identical fixed prefix."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import pagerank

    e = _order_edges(spark, sf_dir)
    run = pagerank(spark, e, tol=0.0, max_supersteps=5)
    return run.state.select("vertex", F.round("pr", 6).alias("pr")).orderBy("vertex")


def graph_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between undirected degree and 5-iteration
    PageRank — "does PageRank just recover degree here?", the standard
    sanity analytic on a new link graph.  Ranks are tie-broken total
    orders ((6dp score DESC, vertex ASC)) built with the two-phase global
    ranking (no single-partition window), so Σd² is an exact LONG and the
    only float is the final coefficient — engine-portable at 6dp."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.edges import (
        densify_vertices,
        symmetrize,
    )
    from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import pagerank

    e = _order_edges(spark, sf_dir)
    pr = pagerank(spark, e, tol=0.0, max_supersteps=5).state.select(
        "vertex",
        (-F.round(F.round("pr", 6) * 1e6)).cast("long").alias("_negmicro"),
    )
    rp = densify_vertices(pr, ["_negmicro", "vertex"], id_col="rp").select(
        "vertex", "rp"
    )
    deg = (
        symmetrize(e)
        .groupBy(F.col("src").alias("vertex"))
        .agg((-F.count(F.lit(1))).alias("_negdeg"))
    )
    rd = densify_vertices(deg, ["_negdeg", "vertex"], id_col="rd").select(
        "vertex", "rd"
    )
    d2 = (F.col("rp") - F.col("rd")) * (F.col("rp") - F.col("rd"))
    return rp.join(rd, "vertex").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d2).alias("sum_d2"),
        F.round(
            F.lit(1.0)
            - F.lit(6.0)
            * F.sum(d2)
            / (F.count(F.lit(1)) * (F.count(F.lit(1)).cast("double") * F.count(F.lit(1)) - 1)),
            6,
        ).alias("spearman"),
    )


def _spearman_sql() -> str:
    base = _pagerank5_sql()
    tail = "SELECT vertex, round(pr, 6) AS pr FROM pr5 ORDER BY vertex"
    assert base.endswith(tail)
    return (
        base[: -len(tail)]
        + """,
  prr AS (SELECT vertex, round(pr, 6) AS pr FROM pr5),
  degt AS (SELECT src AS vertex, count(*)::BIGINT AS deg FROM und GROUP BY src),
  rp AS (SELECT vertex, (row_number() OVER (ORDER BY pr DESC, vertex) - 1)::BIGINT AS r
         FROM prr),
  rd AS (SELECT vertex, (row_number() OVER (ORDER BY deg DESC, vertex) - 1)::BIGINT AS r
         FROM degt)
SELECT count(*)::BIGINT AS n,
       sum((rp.r - rd.r) * (rp.r - rd.r))::BIGINT AS sum_d2,
       round(1.0 - 6.0 * sum((rp.r - rd.r) * (rp.r - rd.r))
             / (count(*) * (count(*)::DOUBLE * count(*) - 1)), 6) AS spearman
FROM rp JOIN rd ON rd.vertex = rp.vertex
"""
    )


def graph_pagerank5_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank, 5 fixed iterations: out-edge shares are
    pr·w/Σ_out w with deterministic integral weights w=(src+dst)%7+1 —
    the oracle unrolls the identical weighted iterations."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import pagerank

    e = _order_edges(spark, sf_dir).select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("w")
    )
    run = pagerank(spark, e, tol=0.0, max_supersteps=5, weight_col="w")
    return run.state.select("vertex", F.round("pr", 6).alias("pr")).orderBy("vertex")


def graph_katz3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz centrality (3 walk lengths, α=0.1) over the directed
    order graph — the oracle unrolls the identical x_{k+1} = α·Aᵀ(1+x_k)
    recurrence; round(6) absorbs float summation-order noise exactly as in
    the pagerank5 family."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import katz

    e = _order_edges(spark, sf_dir)
    run = katz(spark, e, alpha=0.1, max_supersteps=3)
    return run.state.select("vertex", F.round("katz", 6).alias("katz")).orderBy(
        "vertex"
    )


def graph_eigenvector4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality, 4 fixed power iterations with per-step L2
    normalization over the directed order graph — the dominant-eigenvector
    sibling of katz/pagerank.  The oracle unrolls the identical
    x' = Aᵀx / ‖Aᵀx‖₂ recurrence; round(6) absorbs float summation-order
    noise exactly as in the pagerank5 family."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import eigenvector_centrality

    e = _order_edges(spark, sf_dir)
    run = eigenvector_centrality(spark, e, max_supersteps=4)
    return run.state.select("vertex", F.round("x", 6).alias("eig")).orderBy("vertex")


def graph_simrank2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimRank (2 iterations, c=0.8) over the SPARSIFIED order graph (the
    SCC gates' variant — the full order graph's in-degree fan-out squares
    into too dense a pair table for a twin-engine gate).  Emits unordered
    scored pairs at 6dp with a deterministic ≥0.01 floor; the oracle
    replays the identical truncated recurrence as unrolled CTEs."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.linkpred import simrank

    e = _order_edges_sparse(spark, sf_dir)
    s = simrank(spark, e, c=0.8, iters=2)
    return (
        s.where(F.col("u") < F.col("v"))
        .select(
            F.col("u").alias("a"),
            F.col("v").alias("b"),
            F.round("s", 6).alias("simrank"),
        )
        .where(F.col("simrank") >= 0.01)
        .orderBy("a", "b")
    )


def graph_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rectangle (4-cycle) count over the undirected order graph — the
    quadrilateral sibling of triangle counting, the standard bipartite-ish
    cohesion statistic.  Non-induced C4 = Σ_{u<v} C(codeg(u,v), 2) / 2
    (each cycle is counted once per opposite pair); codegrees come from ONE
    2-path self-join + hash agg, work Σ_w deg(w)² exactly like the
    link-prediction kernel.  All-integer until the final division: Σ m(m−1)
    is divisible by 4, so n_squares is exact."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize

    und = symmetrize(_order_edges(spark, sf_dir))
    a = und.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    b = und.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    codeg = (
        a.join(b, "w")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    mm = F.col("m") * (F.col("m") - F.lit(1))
    # `div` (integral division), not `/`: float division detours through
    # double and loses exactness past 2^53 — wedge sums on a 10^12-edge
    # graph get there
    return codeg.agg(F.sum(mm).alias("_s")).select(
        F.expr("_s div 2").alias("n_copair_wedges"),
        F.expr("_s div 4").alias("n_squares"),
    )


def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the undirected degree distribution — the
    one-scalar skew statistic that tells you whether hub-salting will
    matter.  Ranks are the tie-broken (deg ASC, vertex ASC) total order via
    the two-phase global ranking (no single-partition window over a
    10^9-vertex degree table); all sums are exact BIGINTs, the only float
    is the final coefficient at 6dp."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.edges import (
        densify_vertices,
        symmetrize,
    )

    e = _order_edges(spark, sf_dir)
    deg = (
        symmetrize(e)
        .groupBy(F.col("src").alias("vertex"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    rk = densify_vertices(deg, ["deg", "vertex"], id_col="r0")
    n = F.count(F.lit(1))
    return rk.agg(
        n.cast("long").alias("n_vertices"),
        F.round(
            F.lit(2.0)
            * F.sum((F.col("r0") + 1) * F.col("deg"))
            / (n * F.sum("deg"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


def doc_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope of ln(frequency) on ln(rank) over the corpus's top-100
    terms — the Zipf-law fit, the standard sanity analytic on a new text
    corpus (slope ≈ −1 for natural language).  The rank order is the
    tie-broken (count DESC, term ASC) total order; only the top-100 rows
    ever enter a single-partition window, so the plan is TakeOrdered +
    a 100-row window + one aggregate at any corpus size."""
    from pyspark.sql import Window

    from parallel_betweenness_centrality_using_bsp_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(tokens("text")).alias("term"))
        .where(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = tc.orderBy(F.col("cnt").desc(), "term").limit(100)
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("cnt").desc(), "term"))
    )
    x, y = F.log(F.col("r").cast("double")), F.log(F.col("cnt").cast("double"))
    n = F.count(F.lit(1)).cast("double")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(
            (n * F.sum(x * y) - F.sum(x) * F.sum(y))
            / (n * F.sum(x * x) - F.sum(x) * F.sum(x)),
            6,
        ).alias("zipf_slope"),
    )


def _pagerank5_weighted_sql() -> str:
    """The weighted twin of ``_pagerank5_sql``: outdeg becomes the per-src
    weight sum and each contribution is pr·w/od."""
    a = 0.85
    parts = [
        f"WITH {_EDGES_SQL},",
        """
  wedges AS (SELECT src, dst, ((src + dst) % 7 + 1)::DOUBLE AS w FROM edges),
  dverts AS (SELECT DISTINCT src AS vertex FROM edges
             UNION SELECT DISTINCT dst FROM edges),
  n_tot AS (SELECT count(*)::DOUBLE AS n FROM dverts),
  outdeg AS (SELECT src AS vertex, sum(w) AS od FROM wedges GROUP BY src),
  tele AS (SELECT vertex, 1.0 / (SELECT n FROM n_tot) AS t FROM dverts),
  pr0 AS (SELECT vertex, t AS pr FROM tele)
""",
    ]
    for k in range(1, 6):
        p = f"pr{k - 1}"
        parts.append(
            f""",
  dm{k} AS (SELECT coalesce(sum(pr), 0.0) AS m FROM {p}
            WHERE vertex NOT IN (SELECT vertex FROM outdeg)),
  c{k} AS (SELECT e.dst AS vertex, sum(p.pr * e.w / o.od) AS c
           FROM {p} p JOIN wedges e ON e.src = p.vertex
           JOIN outdeg o ON o.vertex = p.vertex GROUP BY e.dst),
  pr{k} AS (SELECT v.vertex,
              (1.0 - {a}) * v.t
              + {a} * (coalesce(c.c, 0.0) + (SELECT m FROM dm{k}) * v.t) AS pr
            FROM tele v LEFT JOIN c{k} c ON c.vertex = v.vertex)
"""
        )
    parts.append("SELECT vertex, round(pr, 6) AS pr FROM pr5 ORDER BY vertex")
    return "".join(parts)


def graph_ppr5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank, 5 fixed iterations: teleport concentrated on
    the seed set {v < 10} (dangling mass redistributed by the same vector);
    oracle = the unrolled SQL twin with the matching CASE teleport column."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import pagerank

    e = _order_edges(spark, sf_dir)
    verts = endpoints(e).distinct()
    seeds = sorted(
        r["vertex"] for r in verts.where(F.col("vertex") < PPR_SEED_CAP).collect()
    )
    run = pagerank(spark, e, tol=0.0, max_supersteps=5, personalize=seeds)
    return run.state.select("vertex", F.round("pr", 6).alias("pr")).orderBy("vertex")


def graph_labelprop3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 synchronous LPA rounds; deterministic (count desc, label asc)
    argmax makes the unrolled SQL oracle bit-identical."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.labelprop import label_propagation

    e = _order_edges(spark, sf_dir)
    run = label_propagation(spark, e, max_supersteps=3)
    return run.state.orderBy("vertex")


def graph_labelprop3_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 synchronous WEIGHTED LPA rounds (argmax over summed integral edge
    weight w=(src+dst)%7+1 — symmetric by construction); deterministic
    (weight desc, label asc) order keeps the unrolled SQL twin
    bit-identical."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.labelprop import label_propagation

    e = _order_edges(spark, sf_dir).select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("w")
    )
    run = label_propagation(spark, e, max_supersteps=3, weight_col="w")
    return run.state.orderBy("vertex")


def _labelprop3_weighted_sql() -> str:
    parts = [
        f"WITH {_EDGES_SQL},",
        """
  und_w AS (SELECT src, dst, sum(w)::BIGINT AS w FROM (
      SELECT src AS src, dst AS dst, (src + dst) % 7 + 1 AS w FROM edges
      UNION ALL
      SELECT dst AS src, src AS dst, (src + dst) % 7 + 1 AS w FROM edges)
    WHERE src != dst GROUP BY src, dst),
  lp0 AS (SELECT vertex, vertex AS label FROM vertices)
""",
    ]
    for k in range(1, 4):
        p = f"lp{k - 1}"
        parts.append(
            f""",
  cnt{k} AS (SELECT u.dst AS vertex, p.label, sum(u.w) AS cnt
             FROM {p} p JOIN und_w u ON u.src = p.vertex
             GROUP BY u.dst, p.label),
  best{k} AS (SELECT vertex, label FROM (
      SELECT vertex, label,
             row_number() OVER (PARTITION BY vertex ORDER BY cnt DESC, label ASC) AS rn
      FROM cnt{k}) WHERE rn = 1),
  lp{k} AS (SELECT p.vertex, coalesce(b.label, p.label) AS label
            FROM {p} p LEFT JOIN best{k} b ON b.vertex = p.vertex)
"""
        )
    parts.append("SELECT vertex, label FROM lp3 ORDER BY vertex")
    return "".join(parts)


def graph_community_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community embedding centroids (first 4 dims) + member counts
    for the 3-round LPA communities — the cross-modal graph × embeddings
    composition; the twin extends the lp3 CTEs with the identical
    unnest + averages."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import (
        community_feature_centroids,
    )
    from parallel_betweenness_centrality_using_bsp_spark.operators.labelprop import label_propagation

    e = _order_edges(spark, sf_dir)
    labels = label_propagation(spark, e, max_supersteps=3).state
    emb = _t(spark, sf_dir, "embeddings")
    return (
        community_feature_centroids(labels, emb, dims=4)
        .select("label", "pos", F.round("centroid", 6).alias("centroid"), "size")
        .orderBy("label", "pos")
    )


def _community_centroids_sql() -> str:
    return _labelprop3_ctes() + """,
  f AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  j AS (SELECT l.label, f.v FROM lp3 l JOIN f ON f.vec_id = l.vertex),
  sz AS (SELECT label, count(*)::BIGINT AS size FROM j GROUP BY label),
  ex AS (SELECT label, g.i - 1 AS pos, v[g.i] AS val
         FROM j CROSS JOIN generate_series(1, 4) AS g(i))
SELECT e.label, e.pos, round(avg(e.val), 6) AS centroid, sz.size
FROM ex e JOIN sz ON sz.label = e.label
GROUP BY e.label, e.pos, sz.size ORDER BY e.label, e.pos
"""


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 3-round LPA communities — composes the LPA
    kernel with the modularity aggregation; the twin extends the unrolled
    lp3 CTEs with the identical Q computation."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.labelprop import (
        label_propagation,
        modularity,
    )

    e = _order_edges(spark, sf_dir)
    labels = label_propagation(spark, e, max_supersteps=3).state
    return modularity(spark, e, labels).select(
        "n_communities", F.round("modularity", 6).alias("modularity")
    )


BC_SOURCE_CAP = 64  # betweenness partial sums over sources with id < cap
BC_MAX_DEPTH = 12   # > graph diameter at every sf (measured: 8 @ sf0.001, 3 @ sf0.01)


def graph_bfs_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS distances (the reference's per-source dist[] array)
    from sources {v ∈ V : v < 8}; oracle = recursive-CTE BFS."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import bfs_distances

    e = _order_edges(spark, sf_dir)
    verts = endpoints(e).distinct()
    sources = sorted(r["vertex"] for r in verts.where(F.col("vertex") < 8).collect())
    return bfs_distances(spark, e, sources).orderBy("source", "vertex")


WALK_LEN = 4
WALK_START_CAP = 30


def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks (DeepWalk corpus generation): 4 steps from
    every vertex < 30, neighbor choice = md5int(walk ':' step) mod degree —
    the DuckDB twin replays the identical walks step by step.  Runs the
    skew-safe salted adjacency numbering (salt_buckets=8), which assigns
    identical neighbor indices to the single-window form — the contract
    exercises the production-shaped path."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.walks import random_walks

    e = _order_edges(spark, sf_dir)
    verts = endpoints(e).distinct()
    starts = verts.where(F.col("vertex") < WALK_START_CAP)
    return random_walks(
        spark, e, starts, walk_length=WALK_LEN, salt_buckets=8
    ).orderBy("walk_id", "pos")


def graph_skipgram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram pair extraction over the deterministic walk corpus
    (window ±2): the top-30 (center, context) co-occurrence pairs — the
    DeepWalk → word2vec training-pair bridge; the twin re-derives the
    identical corpus and self-joins it."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.walks import (
        random_walks,
        skipgram_pairs,
    )

    e = _order_edges(spark, sf_dir)
    verts = endpoints(e).distinct()
    starts = verts.where(F.col("vertex") < WALK_START_CAP)
    corpus = random_walks(spark, e, starts, walk_length=WALK_LEN, salt_buckets=8)
    return (
        skipgram_pairs(corpus, window=SKIPGRAM_WINDOW)
        .orderBy(F.desc("n"), "center", "context")
        .limit(SKIPGRAM_TOPK)
    )


def graph_node2vec3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec biased walks (p=4, q=2): 3 second-order steps from every
    vertex < 30.  The bias weights are the exact integers {q, p·q, p}
    (α·p·q) and the pick is cumulative-weight crossing of
    md5int(walk ':' step) mod Σw over dst-ordered candidates — all integer
    arithmetic, so the DuckDB twin replays the identical walks."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.walks import node2vec_walks

    e = _order_edges(spark, sf_dir)
    verts = endpoints(e).distinct()
    starts = verts.where(F.col("vertex") < WALK_START_CAP)
    return node2vec_walks(spark, e, starts, walk_length=3, p=4, q=2).orderBy(
        "walk_id", "pos"
    )


def _walks_corpus_parts() -> tuple[list[str], str]:
    """Shared scaffolding: the walk-corpus CTEs (identical md5 picks to
    operators/walks.py) and the corpus union subquery — used by the walks
    gate and the skip-gram gate."""
    md5i = (
        "(('0x' || substr(md5(s.walk_id::VARCHAR || ':' || '{k}'), 1, 15))::BIGINT"
        " % d.deg)"
    )
    parts = [
        f"WITH {_EDGES_SQL},",
        f"""
  adj AS (SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
          FROM und),
  deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
  w0 AS (SELECT vertex AS walk_id, vertex AS v FROM vertices
         WHERE vertex < {WALK_START_CAP})
""",
    ]
    for k in range(1, WALK_LEN + 1):
        parts.append(
            f""",
  w{k} AS (SELECT s.walk_id, a.dst AS v
           FROM w{k - 1} s JOIN deg d ON d.src = s.v
           JOIN adj a ON a.src = s.v AND a.idx = {md5i.format(k=k)})
"""
        )
    union = " UNION ALL ".join(
        f"SELECT walk_id, {k} AS pos, v AS vertex FROM w{k}"
        for k in range(WALK_LEN + 1)
    )
    return parts, union


def _random_walks_sql() -> str:
    parts, union = _walks_corpus_parts()
    parts.append(f"SELECT * FROM ({union}) ORDER BY walk_id, pos")
    return "".join(parts)


SKIPGRAM_WINDOW = 2
SKIPGRAM_TOPK = 30


def _skipgram_sql() -> str:
    parts, union = _walks_corpus_parts()
    parts.append(
        f""",
  corpus AS MATERIALIZED ({union})
SELECT a.vertex AS center, b.vertex AS context, count(*)::BIGINT AS n
FROM corpus a JOIN corpus b ON b.walk_id = a.walk_id
WHERE b.pos != a.pos AND abs(b.pos - a.pos) <= {SKIPGRAM_WINDOW}
GROUP BY 1, 2 ORDER BY n DESC, center, context LIMIT {SKIPGRAM_TOPK}"""
    )
    return "".join(parts)


def _node2vec3_sql(p: int = 4, q: int = 2) -> str:
    """3 unrolled node2vec steps matching operators/walks.py::node2vec_walks:
    integer weights {q, p·q, p}, cumulative pick over dst-ordered
    candidates at md5int(walk ':' k) mod Σw; step 1's prev is the −1
    sentinel (uniform, weight p everywhere)."""
    parts = [
        f"WITH {_EDGES_SQL},",
        f"""
  n2v0 AS (SELECT vertex AS walk_id, (-1)::BIGINT AS pv, vertex AS v
           FROM vertices WHERE vertex < {WALK_START_CAP})
""",
    ]
    for k in range(1, 4):
        md5i = f"(('0x' || substr(md5(walk_id::VARCHAR || ':' || '{k}'), 1, 15))::BIGINT"
        parts.append(
            f""",
  cand{k} AS (SELECT s.walk_id, s.v, a.dst AS cand,
              CASE WHEN a.dst = s.pv THEN {q}
                   WHEN pe.src IS NOT NULL THEN {p * q}
                   ELSE {p} END AS w
              FROM n2v{k - 1} s JOIN und a ON a.src = s.v
              LEFT JOIN und pe ON pe.src = s.pv AND pe.dst = a.dst),
  pick{k} AS (SELECT *,
              sum(w) OVER (PARTITION BY walk_id ORDER BY cand
                           ROWS UNBOUNDED PRECEDING) AS cw,
              {md5i} % sum(w) OVER (PARTITION BY walk_id)) AS r
              FROM cand{k}),
  n2v{k} AS (SELECT walk_id, v AS pv, cand AS v FROM pick{k}
             WHERE cw > r AND cw - w <= r)
"""
        )
    union = " UNION ALL ".join(
        f"SELECT walk_id, {k} AS pos, v AS vertex FROM n2v{k}" for k in range(4)
    )
    parts.append(f"SELECT * FROM ({union}) ORDER BY walk_id, pos")
    return "".join(parts)


def graph_egonet2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-2 ego network around vertex 0 — the per-node subgraph
    extraction a GNN pipeline runs per labeled example: (vertex, dist,
    ego_deg) where ego_deg is the vertex's degree INSIDE the induced
    subgraph.  Exact int arithmetic throughout; the twin recurses the same
    2-hop ball and induces the same edge set."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import ego_network

    members, ind = ego_network(spark, _order_edges(spark, sf_dir), 0, radius=2)
    egod = ind.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("ego_deg")
    )
    return (
        members.join(egod, "vertex", "left")
        .select(
            "vertex",
            "dist",
            F.coalesce("ego_deg", F.lit(0)).cast("long").alias("ego_deg"),
        )
        .orderBy("vertex")
    )


def _egonet2_sql() -> str:
    return f"""
WITH RECURSIVE {_EDGES_SQL},
  walk(v, d) AS (
    SELECT 0::BIGINT, 0
    UNION
    SELECT u.dst, w.d + 1 FROM walk w JOIN und u ON u.src = w.v WHERE w.d < 2
  ),
  members AS (SELECT v AS vertex, min(d)::INT AS dist FROM walk GROUP BY v),
  ind AS (SELECT u.src, u.dst FROM und u
          JOIN members a ON a.vertex = u.src
          JOIN members b ON b.vertex = u.dst),
  egod AS (SELECT src AS vertex, count(*)::BIGINT AS ego_deg FROM ind GROUP BY src)
SELECT m.vertex, m.dist, coalesce(e.ego_deg, 0)::BIGINT AS ego_deg
FROM members m LEFT JOIN egod e ON e.vertex = m.vertex ORDER BY m.vertex
"""


def graph_neighbor_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style neighbor mean aggregation over the order-derived
    graph, node features from the embeddings table (first 8 dims): long
    (vertex, pos, nbr_mean) layout — every cell scalar, one join + one
    hash agg."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import (
        neighbor_feature_means,
    )

    e = _order_edges(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    return (
        neighbor_feature_means(e, emb, dims=8)
        .select("vertex", "pos", F.round("nbr_mean", 6).alias("nbr_mean"))
        .orderBy("vertex", "pos")
    )


def graph_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality: h(v) = Σ_{s ∈ sample, s ≠ v} 1/d(s, v)
    over the source sample {s < 8} — the standard estimator shape (same
    sampling rationale as betweenness); reuses the BFS kernel, oracle =
    the recursive-CTE BFS with the same 1/d aggregation."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import bfs_distances

    e = _order_edges(spark, sf_dir)
    verts = endpoints(e).distinct()
    sources = sorted(r["vertex"] for r in verts.where(F.col("vertex") < 8).collect())
    d = bfs_distances(spark, e, sources)
    return (
        d.where(F.col("dist") > 0)
        .groupBy("vertex")
        .agg(F.round(F.sum(F.lit(1.0) / F.col("dist")), 6).alias("harmonic"))
        .orderBy("vertex")
    )


KCORE_K = 20
KCORE_ROUNDS = 8


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=KCORE_K=20, exactly 8 rounds — fixed rounds keep the
    oracle quantity pinned whether or not the cascade has converged):
    surviving vertices with their degree in the peeled subgraph.  k=20 sits inside the
    sf0.01 degree range (16-49): 8 rounds peel 27 vertices and 973 survive
    — a genuine cascade, not a no-op or a collapse."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.kcore import k_core

    e = _order_edges(spark, sf_dir)
    return k_core(spark, e, KCORE_K, fixed_rounds=KCORE_ROUNDS).orderBy("vertex")


def _kcore_sql() -> str:
    # AS MATERIALIZED throughout: DuckDB inlines plain CTEs, and each round
    # references the previous one three times (directly + twice via k_i), so
    # un-materialized rounds expand 3^R-fold
    parts = [f"WITH {_EDGES_SQL},", "\n  e0 AS MATERIALIZED (SELECT src, dst FROM und)"]
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f""",
  k{i} AS MATERIALIZED (SELECT src FROM e{i - 1} GROUP BY src HAVING count(*) >= {KCORE_K}),
  e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i - 1} e
           JOIN k{i} a ON a.src = e.src JOIN k{i} b ON b.src = e.dst)
"""
        )
    parts.append(
        f"""
SELECT src AS vertex, count(*) AS deg FROM e{KCORE_ROUNDS}
GROUP BY src ORDER BY vertex
"""
    )
    return "".join(parts)


CORENESS_ROUNDS = 3


def graph_coreness3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core-number decomposition, exactly 3 h-index rounds (Lü et al.
    2016: c_{t+1}(v) = h-index of neighbors' c_t, c_0 = degree — converges
    down onto the core number; fixed rounds keep the oracle quantity
    pinned whether or not the fixpoint is reached).  The twin replays the
    identical rounds: per-vertex distinct-value counts, a descending
    cumulative window, H = max(least(c, #≥c))."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.coreness import coreness

    e = _order_edges(spark, sf_dir)
    return coreness(spark, e, fixed_rounds=CORENESS_ROUNDS).orderBy("vertex")


def _coreness_sql() -> str:
    parts = [
        f"WITH {_EDGES_SQL},",
        "\n  c0 AS MATERIALIZED (SELECT src AS vertex, count(*)::BIGINT AS c"
        " FROM und GROUP BY src)",
    ]
    for i in range(1, CORENESS_ROUNDS + 1):
        parts.append(
            f""",
  c{i} AS MATERIALIZED (
    SELECT src AS vertex, max(least(c, ge))::BIGINT AS c FROM (
      SELECT src, c, sum(k) OVER (PARTITION BY src ORDER BY c DESC)::BIGINT AS ge
      FROM (SELECT e.src, p.c, count(*) AS k
            FROM und e JOIN c{i - 1} p ON p.vertex = e.dst
            GROUP BY e.src, p.c)
    ) GROUP BY src
  )
"""
        )
    parts.append(
        f"""
SELECT vertex, c AS core FROM c{CORENESS_ROUNDS} ORDER BY vertex
"""
    )
    return "".join(parts)


def graph_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DESCRIBE-GRAPH: sizes, reciprocity, degree stats, density,
    wedges, global clustering (3·triangles/wedges), power-law MLE α
    (Clauset et al. 2009, x_min = 1) — all hash aggregates + one-row
    crossJoins, counts exact BIGINTs, ratios rounded to 6dp."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.edges import graph_profile

    e = _order_edges(spark, sf_dir)
    return graph_profile(spark, e)


def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(deg, n_vertices): the undirected degree distribution — the first
    plot anyone makes on a new link graph (and the input the profile's
    power-law α summarizes); one degree aggregation + one histogram
    aggregation, both map-side combined."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize

    e = _order_edges(spark, sf_dir)
    return (
        symmetrize(e)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
        .orderBy("deg")
    )


_DEGREE_HISTOGRAM_SQL = """
    WITH {edges}
    SELECT deg, count(*)::BIGINT AS n_vertices FROM (
      SELECT src, count(*)::BIGINT AS deg FROM und GROUP BY src)
    GROUP BY deg ORDER BY deg
"""


def _graph_profile_sql() -> str:
    return f"""
        WITH {_EDGES_SQL},
        undc AS (SELECT src, dst FROM und WHERE src < dst),
        deg AS (SELECT src AS vertex, count(*)::BIGINT AS deg FROM und GROUP BY src),
        ds AS (SELECT count(*)::BIGINT AS n_vertices,
                      min(deg)::BIGINT AS min_degree,
                      max(deg)::BIGINT AS max_degree,
                      sum((deg * (deg - 1)) // 2)::BIGINT AS wedges,
                      sum(ln(deg / 0.5)) AS lnsum
               FROM deg),
        sz AS (SELECT (SELECT count(*) FROM edges)::BIGINT AS n_edges_directed,
                      (SELECT count(*) FROM undc)::BIGINT AS n_edges),
        rc AS (SELECT count(*)::BIGINT AS recip FROM edges e
               WHERE EXISTS (SELECT 1 FROM edges r
                             WHERE r.src = e.dst AND r.dst = e.src)),
        tr AS (SELECT count(*)::BIGINT AS triangles
               FROM und e1 JOIN und e2 ON e1.dst = e2.src
                           JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst
               WHERE e1.src < e1.dst AND e2.src < e2.dst)
        SELECT n_vertices, n_edges_directed, n_edges,
               round(recip / n_edges_directed, 6) AS reciprocity,
               min_degree, max_degree,
               round(2.0 * n_edges / n_vertices, 6) AS avg_degree,
               round(2.0 * n_edges / (n_vertices * (n_vertices - 1)), 6) AS density,
               wedges, triangles,
               round(3.0 * triangles / wedges, 6) AS global_clustering,
               round(1.0 + n_vertices / lnsum, 6) AS alpha_mle
        FROM ds, sz, rc, tr
    """


WL_ROUNDS = 3


def graph_wl3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Lehman color refinement, 3 rounds — ORACLE-GATED
    round-for-round: colors are the engine-portable commutative-hash WL
    variant (pair = md5_60(color || '#' || count) per distinct neighbor
    color, new color = md5_60(own || '|' || exact decimal Σ pair)), so
    the DuckDB twin (HUGEINT sums, identical md5 strings) reproduces
    every color bit-for-bit."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.wl import wl_refinement

    e = _order_edges(spark, sf_dir)
    return wl_refinement(spark, e, WL_ROUNDS).orderBy("vertex")


def _wl_sql() -> str:
    md5i = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"
    parts = [
        f"WITH {_EDGES_SQL},",
        "\n  w0 AS MATERIALIZED (SELECT src AS vertex, count(*)::BIGINT AS c"
        " FROM und GROUP BY src)",
    ]
    pair = md5i.format(expr="c::VARCHAR || '#' || k::VARCHAR")
    for i in range(1, WL_ROUNDS + 1):
        new = md5i.format(expr="own.c::VARCHAR || '|' || t.total::VARCHAR")
        parts.append(
            f""",
  w{i} AS MATERIALIZED (
    SELECT t.src AS vertex, {new} AS c
    FROM (
      SELECT src, sum({pair})::VARCHAR AS total
      FROM (SELECT e.src, p.c, count(*)::BIGINT AS k
            FROM und e JOIN w{i - 1} p ON p.vertex = e.dst
            GROUP BY e.src, p.c)
      GROUP BY src
    ) t JOIN w{i - 1} own ON own.vertex = t.src
  )
"""
        )
    parts.append(
        f"""
SELECT vertex, c AS color FROM w{WL_ROUNDS} ORDER BY vertex
"""
    )
    return "".join(parts)


def graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled eccentricity: ecc(s) = max_v d(s, v) per sampled source
    (max over the reached set) plus the count reached — the
    diameter-lower-bound estimator (max ecc over any sample ≤ diameter);
    reuses the BFS kernel and its recursive-CTE oracle."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import bfs_distances

    e = _order_edges(spark, sf_dir)
    verts = endpoints(e).distinct()
    sources = sorted(r["vertex"] for r in verts.where(F.col("vertex") < 8).collect())
    d = bfs_distances(spark, e, sources)
    return (
        d.groupBy("source")
        .agg(F.max("dist").alias("ecc"), F.count(F.lit(1)).alias("n_reached"))
        .orderBy("source")
    )


HITS_ITERS = 3


def graph_hits3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities, exactly 3 L1-normalized power iterations on
    the DIRECTED edge set — the oracle unrolls the identical iterations in
    SQL (the pagerank-oracle pattern), with both normalizing sums computed
    the same way, so 6-decimal rounding matches."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.hits import hits

    e = _order_edges(spark, sf_dir)
    run = hits(spark, e, tol=0.0, max_supersteps=HITS_ITERS)
    return run.state.select(
        "vertex", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    ).orderBy("vertex")


def _hits3_sql() -> str:
    """HITS_ITERS unrolled iterations matching operators/hits.py exactly:
    auth' = L1-normalized Aᵀ·hub, then hub' = L1-normalized A·auth'."""
    parts = [
        f"WITH {_EDGES_SQL},",
        """
  hverts AS (SELECT DISTINCT src AS vertex FROM edges
             UNION SELECT DISTINCT dst FROM edges),
  n_h AS (SELECT count(*)::DOUBLE AS n FROM hverts),
  h0 AS (SELECT vertex, 1.0 / (SELECT n FROM n_h) AS hub FROM hverts)
""",
    ]
    for k in range(1, HITS_ITERS + 1):
        parts.append(
            f""",
  ra{k} AS (SELECT e.dst AS vertex, sum(h.hub) AS ra
            FROM h{k - 1} h JOIN edges e ON e.src = h.vertex GROUP BY e.dst),
  sa{k} AS (SELECT sum(ra) AS s FROM ra{k}),
  a{k} AS (SELECT v.vertex, coalesce(r.ra, 0.0) / (SELECT s FROM sa{k}) AS auth
           FROM hverts v LEFT JOIN ra{k} r ON r.vertex = v.vertex),
  rh{k} AS (SELECT e.src AS vertex, sum(a.auth) AS rh
            FROM a{k} a JOIN edges e ON e.dst = a.vertex GROUP BY e.src),
  sh{k} AS (SELECT sum(rh) AS s FROM rh{k}),
  h{k} AS (SELECT v.vertex, coalesce(r.rh, 0.0) / (SELECT s FROM sh{k}) AS hub
           FROM hverts v LEFT JOIN rh{k} r ON r.vertex = v.vertex)
"""
        )
    parts.append(
        f"""
SELECT h.vertex, round(h.hub, 6) AS hub, round(a.auth, 6) AS auth
FROM h{HITS_ITERS} h JOIN a{HITS_ITERS} a ON a.vertex = h.vertex
ORDER BY h.vertex
"""
    )
    return "".join(parts)


HOT_VERTEX_THRESHOLD = 3


def events_hot_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming hot-vertex detector (streaming/graph.py) run in batch
    mode over a timestamped edge stream derived from events (user →
    event-bucket edges): per-hour-window undirected degree ≥ threshold —
    identical logic feeds the watermarked readStream path (batch/stream
    parity pytest-checked with exactly-once re-run semantics)."""
    from parallel_betweenness_centrality_using_bsp_spark.streaming.graph import hot_vertices

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        (F.col("event_id") % GRAPH_MOD).alias("dst"),
        "ts",
    )
    out = hot_vertices(edges, HOT_VERTEX_THRESHOLD, "1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm").alias("win_start"),
        "vertex",
        "degree",
    ).orderBy("win_start", "vertex")


def _hot_vertices_sql() -> str:
    return f"""
        WITH be AS (
          SELECT user_id::BIGINT AS vertex, ts FROM events
          UNION ALL
          SELECT (event_id % {GRAPH_MOD})::BIGINT AS vertex, ts FROM events),
        d AS (SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                              '%Y-%m-%d %H:%M') AS win_start,
                     vertex, count(*)::BIGINT AS degree
              FROM be GROUP BY 1, 2)
        SELECT win_start, vertex, degree FROM d
        WHERE degree >= {HOT_VERTEX_THRESHOLD}
        ORDER BY win_start, vertex
    """


FUNNEL_STAGES = ["view", "click", "purchase"]


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-stage funnel over the events stream: users completing
    view → click → purchase in order (each stage strictly after the
    earliest completion of the previous one) — one user-keyed join + min
    aggregation per stage."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.funnel import funnel

    e = _t(spark, sf_dir, "events")
    return funnel(e, FUNNEL_STAGES).orderBy("stage")


def _funnel_sql() -> str:
    parts = []
    for i, s in enumerate(FUNNEL_STAGES, start=1):
        if i == 1:
            parts.append(
                f"s1 AS (SELECT user_id, min(ts) AS t FROM events"
                f" WHERE event_type = '{s}' GROUP BY user_id)"
            )
        else:
            parts.append(
                f"""s{i} AS (SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s{i - 1} p ON p.user_id = e.user_id
  WHERE e.event_type = '{s}' AND e.ts > p.t GROUP BY e.user_id)"""
            )
    tails = [
        f"SELECT {i} AS stage, '{s}' AS event_type,"
        f" (SELECT count(*) FROM s{i})::BIGINT AS users"
        for i, s in enumerate(FUNNEL_STAGES, start=1)
    ]
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL ".join(tails)
        + "\nORDER BY stage"
    )


def graph_motif_open2path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphFrames-style motif query over the order graph: the top-20
    vertices starting the most OPEN directed 2-paths
    ('(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)' — the negated term compiles
    to a left_anti join); deterministic (count DESC, a ASC) top-k."""
    from parallel_betweenness_centrality_using_bsp_spark.plans.motifs import find

    e = _order_edges(spark, sf_dir)
    m = find(e, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
    return (
        m.groupBy("a")
        .agg(F.count(F.lit(1)).alias("n_open"))
        .orderBy(F.desc("n_open"), "a")
        .limit(20)
    )


_MOTIF_SQL = """
    WITH {edges}
    SELECT e1.src AS a, count(*)::BIGINT AS n_open
    FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
    WHERE NOT EXISTS (SELECT 1 FROM edges e3
                      WHERE e3.src = e1.src AND e3.dst = e2.dst)
    GROUP BY e1.src
    ORDER BY n_open DESC, a LIMIT 20
"""


BORUVKA_ROUNDS = 2


def graph_boruvka2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest, exactly 2 rounds on the
    order-derived graph with the deterministic integral weights
    w = (src+dst) % 7 + 1 (the sssp convention) — ORACLE-GATED round for
    round: per-component minima break ties on the (w, src, dst) tuple, so
    the DuckDB twin (row_number per component + recursive min-label merge)
    reproduces the selected edge set exactly."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.mst import boruvka_forest

    e = _order_edges(spark, sf_dir).select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("w")
    )
    return boruvka_forest(spark, e, rounds=BORUVKA_ROUNDS).orderBy(
        "round", "src", "dst"
    )


def _boruvka_sql() -> str:
    parts = [
        f"""WITH RECURSIVE {_EDGES_SQL},
ew0 AS MATERIALIZED (
  SELECT least(src, dst) AS src, greatest(src, dst) AS dst,
         min((src + dst) %% 7 + 1)::BIGINT AS w
  FROM edges GROUP BY 1, 2),
l0 AS MATERIALIZED (
  SELECT vertex, vertex AS comp FROM (
    SELECT src AS vertex FROM ew0 UNION SELECT dst FROM ew0))""".replace("%%", "%")
    ]
    for r in range(1, BORUVKA_ROUNDS + 1):
        p = r - 1
        parts.append(
            f""",
ec{r} AS MATERIALIZED (
  SELECT e.src, e.dst, e.w, lu.comp AS cu, lv.comp AS cv
  FROM ew{p} e JOIN l{p} lu ON lu.vertex = e.src
               JOIN l{p} lv ON lv.vertex = e.dst
  WHERE lu.comp != lv.comp),
sel{r} AS MATERIALIZED (
  SELECT DISTINCT src, dst, w FROM (
    SELECT comp, src, dst, w,
           row_number() OVER (PARTITION BY comp ORDER BY w, src, dst) AS rn
    FROM (SELECT cu AS comp, w, src, dst FROM ec{r}
          UNION ALL SELECT cv, w, src, dst FROM ec{r}))
  WHERE rn = 1),
cgu{r} AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT lu.comp AS a, lv.comp AS b FROM sel{r} s
    JOIN l{p} lu ON lu.vertex = s.src JOIN l{p} lv ON lv.vertex = s.dst)
  UNION
  SELECT lv.comp, lu.comp FROM sel{r} s
    JOIN l{p} lu ON lu.vertex = s.src JOIN l{p} lv ON lv.vertex = s.dst),
reach{r}(c, lab) AS (
  SELECT a, a FROM cgu{r}
  UNION
  SELECT u.b, rr.lab FROM reach{r} rr JOIN cgu{r} u ON u.a = rr.c),
m{r} AS MATERIALIZED (SELECT c, min(lab) AS newcomp FROM reach{r} GROUP BY c),
l{r} AS MATERIALIZED (
  SELECT l.vertex, coalesce(m.newcomp, l.comp) AS comp
  FROM l{p} l LEFT JOIN m{r} m ON m.c = l.comp),
ew{r} AS MATERIALIZED (
  SELECT e.src, e.dst, e.w FROM ec{r} e
  WHERE NOT EXISTS (SELECT 1 FROM sel{r} s
                    WHERE s.src = e.src AND s.dst = e.dst))"""
        )
    tails = [
        f"SELECT src, dst, w, {r} AS round FROM sel{r}"
        for r in range(1, BORUVKA_ROUNDS + 1)
    ]
    parts.append("\n" + "\nUNION ALL ".join(tails) + "\nORDER BY round, src, dst")
    return "".join(parts)


SALSA_ITERS = 3


def graph_salsa3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hubs & authorities (Lempel-Moran degree-normalized walk),
    exactly 3 iterations on the DIRECTED edge set — the oracle unrolls
    the identical iterations (auth' = Σ hub/outdeg over in-edges, hub' =
    Σ fresh-auth/indeg over out-edges; no normalization step exists to
    mismatch), 6-decimal rounding."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.hits import salsa

    e = _order_edges(spark, sf_dir)
    run = salsa(spark, e, tol=0.0, max_supersteps=SALSA_ITERS)
    return run.state.select(
        "vertex", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    ).orderBy("vertex")


def _salsa3_sql() -> str:
    """SALSA_ITERS unrolled iterations matching operators/hits.py::salsa
    exactly — the _hits3_sql scaffolding with per-edge degree division in
    place of global L1 normalization."""
    parts = [
        f"WITH {_EDGES_SQL},",
        """
  hverts AS (SELECT DISTINCT src AS vertex FROM edges
             UNION SELECT DISTINCT dst FROM edges),
  n_h AS (SELECT count(*)::DOUBLE AS n FROM hverts),
  od AS (SELECT src, count(*)::BIGINT AS od FROM edges GROUP BY src),
  idg AS (SELECT dst, count(*)::BIGINT AS idg FROM edges GROUP BY dst),
  h0 AS (SELECT vertex, 1.0 / (SELECT n FROM n_h) AS hub FROM hverts)
""",
    ]
    for k in range(1, SALSA_ITERS + 1):
        parts.append(
            f""",
  ra{k} AS (SELECT e.dst AS vertex, sum(h.hub / o.od) AS ra
            FROM h{k - 1} h JOIN edges e ON e.src = h.vertex
                            JOIN od o ON o.src = e.src
            GROUP BY e.dst),
  a{k} AS (SELECT v.vertex, coalesce(r.ra, 0.0) AS auth
           FROM hverts v LEFT JOIN ra{k} r ON r.vertex = v.vertex),
  rh{k} AS (SELECT e.src AS vertex, sum(a.auth / i.idg) AS rh
            FROM a{k} a JOIN edges e ON e.dst = a.vertex
                        JOIN idg i ON i.dst = e.dst
            GROUP BY e.src),
  h{k} AS (SELECT v.vertex, coalesce(r.rh, 0.0) AS hub
           FROM hverts v LEFT JOIN rh{k} r ON r.vertex = v.vertex)
"""
        )
    parts.append(
        f"""
SELECT h.vertex, round(h.hub, 6) AS hub, round(a.auth, 6) AS auth
FROM h{SALSA_ITERS} h JOIN a{SALSA_ITERS} a ON a.vertex = h.vertex
ORDER BY h.vertex
"""
    )
    return "".join(parts)


def _order_edges_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order graph SPARSIFIED by a deterministic row filter on the raw
    keys (kept iff (7·custkey + orderkey) % 4 == 0) — the full graph is one
    giant SCC, so the SCC/condensation gates use this variant (75 SCCs at
    sf0.01, a genuinely layered condensation DAG)."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_custkey") * 7 + F.col("o_orderkey")) % 4 == 0
    )
    return (
        o.select(
            (F.col("o_custkey") % GRAPH_MOD).alias("src"),
            (F.col("o_orderkey") % GRAPH_MOD).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


_EDGES_SPARSE_SQL = f"""
  edges AS (
    SELECT DISTINCT (o_custkey % {GRAPH_MOD})::BIGINT AS src,
                    (o_orderkey % {GRAPH_MOD})::BIGINT AS dst
    FROM orders
    WHERE (o_custkey % {GRAPH_MOD}) != (o_orderkey % {GRAPH_MOD})
      AND (o_custkey * 7 + o_orderkey) % 4 = 0
  )
"""


KTRUSS_K = 4
KTRUSS_ROUNDS = 3


def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss peeling (k=KTRUSS_K=4, exactly 3 rounds — fixed rounds keep
    the oracle quantity pinned mid-cascade): the surviving symmetrized edge
    set.  At sf0.01 the cascade is genuine: 29500 → 6760 → 1386 → 458
    edges, so every peel round does real work in both engines."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.truss import k_truss

    e = _order_edges(spark, sf_dir)
    return k_truss(spark, e, KTRUSS_K, fixed_rounds=KTRUSS_ROUNDS).orderBy("src", "dst")


def _ktruss_sql() -> str:
    ms = KTRUSS_K - 2
    parts = [f"WITH {_EDGES_SQL},", """
  e0 AS MATERIALIZED (SELECT src, dst FROM und)
"""]
    prev = "e0"
    for i in range(1, KTRUSS_ROUNDS + 1):
        parts.append(f""",
  e{i} AS MATERIALIZED (
    SELECT x.src, x.dst FROM {prev} x
    JOIN {prev} a ON a.src = x.src
    JOIN {prev} b ON b.src = x.dst AND b.dst = a.dst
    GROUP BY x.src, x.dst HAVING count(*) >= {ms})
""")
        prev = f"e{i}"
    parts.append(f"SELECT src, dst FROM {prev} ORDER BY src, dst")
    return "".join(parts)


def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (coloring algorithm, nested BSP
    loops) on the DIRECTED sparsified edge set (75 nontrivial SCCs at
    sf0.01); labels canonicalized to the minimum member id, so the DuckDB
    twin — recursive-CTE transitive closure + mutual-reach pairing —
    reproduces them exactly."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.scc import (
        strongly_connected_components,
    )

    e = _order_edges_sparse(spark, sf_dir)
    return strongly_connected_components(spark, e).orderBy("vertex")


def _scc_sql() -> str:
    return f"""
WITH RECURSIVE {_EDGES_SPARSE_SQL},
  dverts AS (SELECT DISTINCT src AS vertex FROM edges
             UNION SELECT DISTINCT dst FROM edges),
  reach AS (
    SELECT src AS u, dst AS v FROM edges
    UNION
    SELECT r.u, e.dst FROM reach r JOIN edges e ON e.src = r.v
  ),
  mutual AS (
    SELECT r1.u AS a, r1.v AS b
    FROM reach r1 JOIN reach r2 ON r1.u = r2.v AND r1.v = r2.u
  )
SELECT d.vertex,
       least(d.vertex, coalesce(min(m.b), d.vertex)) AS scc
FROM dverts d LEFT JOIN mutual m ON m.a = d.vertex
GROUP BY d.vertex
ORDER BY d.vertex
"""


def graph_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC condensation DAG with longest-path layers (the build-order
    depth a dependency scheduler uses) and component sizes: (scc, size,
    layer) per component.  Composes three engine operators — SCC,
    condense, DAG max-propagation — and the DuckDB twin recomputes all
    three from the transitive closure."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.scc import (
        condense,
        dag_longest_path_layers,
        strongly_connected_components,
    )

    e = _order_edges_sparse(spark, sf_dir)
    labels = strongly_connected_components(spark, e).localCheckpoint(eager=True)
    cond = condense(spark, e, labels)
    sccs = labels.select(F.col("scc").alias("vertex")).distinct()
    layers = dag_longest_path_layers(spark, cond, vertices=sccs)
    sizes = labels.groupBy("scc").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.join(layers.select(F.col("vertex").alias("scc"), "layer"), "scc")
        .select("scc", "size", "layer")
        .orderBy("scc")
    )


def _condensation_sql() -> str:
    return f"""
WITH RECURSIVE {_EDGES_SPARSE_SQL},
  dverts AS (SELECT DISTINCT src AS vertex FROM edges
             UNION SELECT DISTINCT dst FROM edges),
  reach AS (
    SELECT src AS u, dst AS v FROM edges
    UNION
    SELECT r.u, e.dst FROM reach r JOIN edges e ON e.src = r.v
  ),
  mutual AS (
    SELECT r1.u AS a, r1.v AS b
    FROM reach r1 JOIN reach r2 ON r1.u = r2.v AND r1.v = r2.u
  ),
  sccmap AS (
    SELECT d.vertex, least(d.vertex, coalesce(min(m.b), d.vertex)) AS scc
    FROM dverts d LEFT JOIN mutual m ON m.a = d.vertex
    GROUP BY d.vertex
  ),
  cond AS (
    SELECT DISTINCT sa.scc AS a, sb.scc AS b
    FROM edges e
    JOIN sccmap sa ON sa.vertex = e.src
    JOIN sccmap sb ON sb.vertex = e.dst
    WHERE sa.scc != sb.scc
  ),
  paths AS (
    SELECT a, b, 1 AS d FROM cond
    UNION
    SELECT p.a, c.b, p.d + 1 FROM paths p JOIN cond c ON c.a = p.b
  ),
  sccs AS (SELECT DISTINCT scc FROM sccmap),
  layer AS (
    SELECT s.scc, coalesce(max(p.d), 0)::BIGINT AS layer
    FROM sccs s LEFT JOIN paths p ON p.b = s.scc GROUP BY s.scc
  ),
  sz AS (SELECT scc, count(*)::BIGINT AS size FROM sccmap GROUP BY scc)
SELECT l.scc, z.size, l.layer
FROM layer l JOIN sz z ON z.scc = l.scc
ORDER BY l.scc
"""


def graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex (degree ≥ 2):
    cc = 2·triangles(v) / (deg·(deg−1)) — the per-vertex leg of the
    triangle machinery; integer counts + one float division make the SQL
    twin digit-exact at 6dp."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.triangles import (
        local_clustering_coefficients,
    )

    e = _order_edges(spark, sf_dir)
    return (
        local_clustering_coefficients(spark, e)
        .select("vertex", "deg", "tri", F.round("cc", 6).alias("cc"))
        .orderBy("vertex")
    )


def _clustering_sql() -> str:
    return f"""
WITH {_EDGES_SQL},
  deg AS (SELECT src AS vertex, count(*)::BIGINT AS deg FROM und GROUP BY src),
  tri AS (
    SELECT a.src AS vertex, count(*)::BIGINT AS t
    FROM und a JOIN und b ON a.src = b.src AND a.dst < b.dst
    JOIN und e ON e.src = a.dst AND e.dst = b.dst
    GROUP BY a.src)
SELECT d.vertex, d.deg, coalesce(t.t, 0)::BIGINT AS tri,
       round(2.0 * coalesce(t.t, 0) / (d.deg * (d.deg - 1)), 6) AS cc
FROM deg d LEFT JOIN tri t ON t.vertex = d.vertex
WHERE d.deg >= 2 ORDER BY d.vertex
"""


AA_TOPK = 20


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction: top-20 non-adjacent pairs by Adamic-Adar score
    (Σ 1/ln(deg(w)) over shared neighbors w), with the common-neighbor
    count — one adjacency self-join on the shared neighbor + a hash agg;
    ordering on the 6dp-rounded score keeps the top-k cut identical in
    both engines."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.linkpred import (
        adamic_adar_scores,
    )

    e = _order_edges(spark, sf_dir)
    return (
        adamic_adar_scores(e)
        .select("a", "b", "cn", F.round("aa", 6).alias("aa"))
        .orderBy(F.desc("aa"), "a", "b")
        .limit(AA_TOPK)
    )


def _adamic_adar_sql() -> str:
    return f"""
WITH {_EDGES_SQL},
  deg AS (SELECT src AS w, count(*)::BIGINT AS deg FROM und GROUP BY src),
  wn AS (SELECT u.src AS w, u.dst AS u, d.deg FROM und u JOIN deg d ON d.w = u.src),
  pairs AS (
    SELECT l.u AS a, r.u AS b, count(*)::BIGINT AS cn,
           sum(1.0 / ln(l.deg)) AS aa
    FROM wn l JOIN wn r ON l.w = r.w AND l.u < r.u
    GROUP BY l.u, r.u),
  nonadj AS (
    SELECT p.* FROM pairs p
    WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.src = p.a AND e.dst = p.b))
SELECT a, b, cn, round(aa, 6) AS aa
FROM nonadj ORDER BY round(aa, 6) DESC, a, b LIMIT {AA_TOPK}
"""


DIAM_SWEEP_CAP = 60  # recursive-CTE depth cap; far above any fixture diameter


def graph_diameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound on the sparsified undirected
    graph: BFS from the minimum vertex, then BFS from the farthest vertex
    found (ties → lowest id) — (far_vertex, ecc_lb, n_reached).  The twin
    chains two recursive-CTE BFS passes."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import double_sweep_diameter

    e = _order_edges_sparse(spark, sf_dir)
    return double_sweep_diameter(spark, e)


def _diameter_sweep_sql() -> str:
    return f"""
WITH RECURSIVE {_EDGES_SPARSE_SQL},
  und AS (SELECT DISTINCT src, dst FROM (
      SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)),
  verts AS (SELECT DISTINCT src AS vertex FROM und),
  s0 AS (SELECT min(vertex) AS s FROM verts),
  w1(v, d) AS (
    SELECT (SELECT s FROM s0), 0
    UNION
    SELECT u.dst, w.d + 1 FROM w1 w JOIN und u ON u.src = w.v
    WHERE w.d < {DIAM_SWEEP_CAP}
  ),
  d1 AS (SELECT v, min(d) AS d FROM w1 GROUP BY v),
  far AS (SELECT v FROM d1 ORDER BY d DESC, v LIMIT 1),
  w2(v, d) AS (
    SELECT (SELECT v FROM far), 0
    UNION
    SELECT u.dst, w.d + 1 FROM w2 w JOIN und u ON u.src = w.v
    WHERE w.d < {DIAM_SWEEP_CAP}
  ),
  d2 AS (SELECT v, min(d) AS d FROM w2 GROUP BY v)
SELECT (SELECT v FROM far)::BIGINT AS far_vertex,
       max(d)::INT AS ecc_lb, count(*)::BIGINT AS n_reached
FROM d2
"""


SSSP_HOPS = 8


def graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted SSSP (Bellman-Ford supersteps) from sources {v < 8} with
    deterministic integer weights w = (src+dst) % 7 + 1 (symmetric), run
    exactly 8 relaxation rounds — the oracle computes the identical
    min-cost-over-≤8-hop-paths quantity with a recursive CTE."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.sssp import sssp

    e = _order_edges(spark, sf_dir).select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("w")
    )
    verts = endpoints(e).distinct()
    sources = sorted(r["vertex"] for r in verts.where(F.col("vertex") < 8).collect())
    return sssp(
        spark, e, sources, max_hops=SSSP_HOPS, early_stop=False
    ).orderBy("source", "vertex")


SSSP_BF_ROUNDS = 16  # ≥ measured weighted-hop diameter at every shipped sf
                     # (11 at sf0.001, 6 at sf0.01, 4 at sf0.1) — the unrolled
                     # oracle is converged, so it equals TRUE shortest dists


def graph_sssp_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-stepping SSSP (Δ=2, Meyer & Sanders bucketed Dijkstra as a BSP
    frontier predicate) run to its fixpoint — the TRUE shortest weighted
    distances, unlike graph_sssp's hop-capped mode.  The oracle unrolls
    Bellman-Ford min-fold rounds past the measured weighted-hop diameter of
    every shipped scale factor, so both sides are converged and identical.
    Gates the delta_width code path (bucket limits, pending-row queueing)
    under the driver's hash check, not just pytest."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.sssp import sssp

    e = _order_edges(spark, sf_dir).select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("w")
    )
    verts = endpoints(e).distinct()
    sources = sorted(r["vertex"] for r in verts.where(F.col("vertex") < 8).collect())
    return sssp(
        spark, e, sources, max_hops=200, early_stop=True, delta_width=2
    ).orderBy("source", "vertex")


def _sssp_delta_sql() -> str:
    """Bellman-Ford unrolled to SSSP_BF_ROUNDS min-fold rounds: each round's
    relation is capped at |sources|x|vertices| rows (unlike the path-walk
    recursive CTE, whose distinct (path-cost, hops) pairs explode past ~10
    hops), so running it to convergence stays cheap."""
    # every CTE is MATERIALIZED: each round references its predecessor twice,
    # so DuckDB's default inlining would expand the chain exponentially (and
    # re-open the parquet scan under wund once per copy — EMFILE in practice)
    rounds = [
        "d0 AS MATERIALIZED (SELECT s::BIGINT AS s, s::BIGINT AS v,"
        " 0::BIGINT AS dist FROM src)"
    ]
    for k in range(SSSP_BF_ROUNDS):
        rounds.append(
            f"""d{k + 1} AS MATERIALIZED (
                SELECT s, v, min(dist) AS dist FROM (
                    SELECT s, v, dist FROM d{k}
                    UNION ALL
                    SELECT d.s, u.dst AS v, d.dist + u.w AS dist
                    FROM d{k} d JOIN wund u ON u.src = d.v
                ) GROUP BY s, v
            )"""
        )
    chain = ",\n".join(rounds)
    return f"""
        WITH {_EDGES_SQL},
        wund AS MATERIALIZED (
            SELECT src, dst, (src + dst) % 7 + 1 AS w FROM und),
        src AS (SELECT vertex AS s FROM vertices WHERE vertex < 8),
        {chain}
        SELECT s AS source, v AS vertex, dist
        FROM d{SSSP_BF_ROUNDS} ORDER BY source, vertex
    """


def graph_neighbor_features_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two message-passing layers: hop 2 averages the in-neighbors' hop-1
    means (the GraphSAGE layer stack), first 4 dims."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.features import (
        k_hop_feature_means,
    )

    e = _order_edges(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    return (
        k_hop_feature_means(e, emb, hops=2, dims=4)
        .select("vertex", "pos", F.round("nbr_mean", 6).alias("nbr_mean"))
        .orderBy("vertex", "pos")
    )


def dedup_kept_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exact dedup: rows kept after dropping normalized-text
    duplicates (min doc_id kept per group)."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id").agg(F.count(F.lit(1)).alias("n_kept"))


LOUVAIN_ROUNDS = 2


def graph_louvain2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-level Louvain local moves (2 parity-alternating rounds from
    singleton labels) on the undirected order graph — ORACLE-GATED: the
    integer gain score 2m·k_{v,C} − k_v·Σtot(C∖v) makes every move
    decision exact long arithmetic, so the DuckDB twin (same two rounds
    unrolled as CTEs) reproduces the labels bit-for-bit.  The
    modularity-improvement property test lives in tests/test_labelprop.py."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.labelprop import louvain_one_level

    e = _order_edges(spark, sf_dir)
    return louvain_one_level(spark, e, rounds=LOUVAIN_ROUNDS).orderBy("vertex")


def graph_louvain2_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED one-level Louvain (w=(src+dst)%7+1, the weighted-LPA edge
    family): k_v, k_{v,C}, Σtot and 2m are summed integral weights, the
    gain score stays exact BIGINT, labels bit-match the weighted twin."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.labelprop import louvain_one_level

    e = _order_edges(spark, sf_dir).select(
        "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("w")
    )
    return louvain_one_level(
        spark, e, rounds=LOUVAIN_ROUNDS, weight_col="w"
    ).orderBy("vertex")


def _louvain2_sql(weighted: bool = False) -> str:
    """Unrolled one-level Louvain twin; ``weighted=True`` swaps every count
    for the summed integral weight w=(src+dst)%7+1 (the weighted-LPA edge
    family) — k_v, k_{v,C}, Σtot and 2m all weighted, score still exact
    BIGINT arithmetic."""
    if weighted:
        und_cte = """
  undl AS (SELECT src, dst, sum(w)::BIGINT AS w FROM (
      SELECT src AS src, dst AS dst, (src + dst) % 7 + 1 AS w FROM edges
      UNION ALL
      SELECT dst AS src, src AS dst, (src + dst) % 7 + 1 AS w FROM edges)
    WHERE src != dst GROUP BY src, dst),"""
        degv, m2, k = "sum(w)::BIGINT", "sum(w)::BIGINT", "sum(w)::BIGINT"
    else:
        und_cte = """
  undl AS (SELECT src, dst, 1 AS w FROM und),"""
        degv, m2, k = "count(*)::BIGINT", "count(*)::BIGINT", "count(*)::BIGINT"
    parts = [
        f"""WITH {_EDGES_SQL},{und_cte}
  deg AS (SELECT src AS vertex, {degv} AS degv FROM undl GROUP BY src),
  mm AS (SELECT {m2} AS m2 FROM undl),
  lab0 AS (SELECT vertex, vertex AS label FROM vertices)
"""
    ]
    for r in range(LOUVAIN_ROUNDS):
        parts.append(f""",
  stot{r} AS (SELECT l.label, sum(d.degv) AS stot
              FROM lab{r} l JOIN deg d USING (vertex) GROUP BY l.label),
  cand{r} AS (SELECT vertex, cand, sum(k) AS k FROM (
                SELECT u.src AS vertex, l.label AS cand, {k} AS k
                FROM undl u JOIN lab{r} l ON l.vertex = u.dst GROUP BY u.src, l.label
                UNION ALL
                SELECT vertex, label AS cand, 0::BIGINT FROM lab{r})
              GROUP BY vertex, cand),
  best{r} AS (
    SELECT vertex, cand AS new_label,
           row_number() OVER (
             PARTITION BY vertex
             ORDER BY mm.m2 * c.k
                      - d.degv * (s.stot - CASE WHEN c.cand = l.label
                                                THEN d.degv ELSE 0 END) DESC,
                      c.cand ASC) AS rn
    FROM cand{r} c
    JOIN deg d USING (vertex) JOIN stot{r} s ON s.label = c.cand
    JOIN lab{r} l USING (vertex) CROSS JOIN mm
    WHERE vertex % 2 = {r % 2}),
  lab{r + 1} AS (
    SELECT l.vertex, coalesce(b.new_label, l.label) AS label
    FROM lab{r} l
    LEFT JOIN (SELECT vertex, new_label FROM best{r} WHERE rn = 1) b USING (vertex))
""")
    parts.append(
        f"SELECT vertex, label FROM lab{LOUVAIN_ROUNDS} ORDER BY vertex"
    )
    return "".join(parts)


BCW_SOURCE_CAP = 8   # weighted-betweenness source sample: vertex id < cap
BCW_MAX_HOPS = 16    # shared hop cap: BOTH engines compute min cost over
                     # paths of ≤ this many hops (and sigma/delta over ≤ this
                     # many DAG edges), so they agree at ANY sf even when the
                     # cap truncates; at the gate sf it exceeds the deepest
                     # shortest path (0.01: unweighted diameter 3 × max
                     # weight 5 ⇒ ≤ 15 hops), so the result is the exact
                     # fixpoint there


def _weighted_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order graph with deterministic integral weights
    w = 1 + (src·7 + dst·13) mod 5 ∈ [1,5] — reproducible in both engines,
    and heavy direct edges genuinely lose to light multi-hop paths."""
    e = _order_edges(spark, sf_dir)
    return e.select(
        "src", "dst", (F.lit(1) + (F.col("src") * 7 + F.col("dst") * 13) % 5).alias("w")
    )


_WEDGES_SQL = f"""
  wedges AS MATERIALIZED (
    SELECT src, dst, 1 + (src * 7 + dst * 13) % 5 AS w FROM (
      SELECT DISTINCT (o_custkey % {GRAPH_MOD})::BIGINT AS src,
                      (o_orderkey % {GRAPH_MOD})::BIGINT AS dst
      FROM orders
      WHERE (o_custkey % {GRAPH_MOD}) != (o_orderkey % {GRAPH_MOD}))
  ),
  wund AS MATERIALIZED (
    -- symmetrize keeping the MIN weight per direction-pair
    SELECT src, dst, min(w) AS w FROM (
      SELECT src, dst, w FROM wedges UNION ALL SELECT dst, src, w FROM wedges)
    GROUP BY src, dst
  ),
  wverts AS MATERIALIZED (SELECT DISTINCT src AS vertex FROM wund)
"""


def graph_betweenness_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dijkstra-Brandes (weighted betweenness) partial sums over the
    source sample {v < 8} — ORACLE-GATED: the DuckDB twin computes
    weighted distances by a cost-capped recursive walk, the shortest-path
    DAG by the dist(u)+w = dist(v) certificate, then hop-unrolled DP for
    sigma (forward) and delta (backward) — the quantities
    ``betweenness_weighted`` computes in two superstep-loop runs (one
    fused dist+sigma fixpoint, one backward delta sweep).  The allclose-1e-6
    oracle vs ``networkx.betweenness_centrality(weight=...)`` on arbitrary
    graphs lives in tests/test_betweenness.py."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        betweenness_weighted,
    )

    we = _weighted_order_edges(spark, sf_dir)
    verts = endpoints(we).distinct()
    sources = sorted(
        r["vertex"] for r in verts.where(F.col("vertex") < BCW_SOURCE_CAP).collect()
    )
    res = betweenness_weighted(
        spark, we, sources=sources, directed=False, max_hops=BCW_MAX_HOPS
    )
    return (
        res.bc.join(verts, "vertex")
        .select("vertex", F.round("bc", 6).alias("bc"))
        .orderBy("vertex")
    )


def graph_betweenness_weighted_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same weighted-Brandes scores via the CSR fast path: source-parallel
    Dial's-level Dijkstra-Brandes in numpy over a worker-cached weighted
    CSR (betweenness_weighted.betweenness_weighted_csr_sweep).  The sweep
    is CONVERGED shortest paths; it shares graph_betweenness_weighted's
    16-hop-capped oracle because the weighted-hop diameter from these
    sources is ≤ 11 at every shipped sf (measured via BF-to-fixpoint in
    DuckDB), so capped == converged — the gate proves the join formulation
    and the Arrow kernel agree on identical scores."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
        betweenness_weighted_csr_sweep,
        prepare_csr_weighted,
    )

    we = _weighted_order_edges(spark, sf_dir)
    verts = endpoints(we).distinct()
    sources = sorted(
        r["vertex"] for r in verts.where(F.col("vertex") < BCW_SOURCE_CAP).collect()
    )
    art, _ = prepare_csr_weighted(spark, we, directed=False)
    try:
        # the sweep's bc is localCheckpoint-materialized before return, so
        # the artifact can be removed as soon as the sweep completes
        res = betweenness_weighted_csr_sweep(spark, art, sources)
    finally:
        art.cleanup()
    return (
        res.bc.join(verts, "vertex")
        .select("vertex", F.round("bc", 6).alias("bc"))
        .orderBy("vertex")
    )


def _betweenness_weighted_sql() -> str:
    """Weighted Brandes in SQL: recursive cost-capped walk → min cost per
    (source, vertex); DAG edges via the additive certificate; sigma as
    hop-count-unrolled path-count DP over the DAG; delta as the same DP
    reversed.  Unroll depth = BCW_MAX_HOPS ≥ the deepest shortest path's
    hop count at the gate sf, the exact analogue of BC_MAX_DEPTH."""
    H = BCW_MAX_HOPS
    parts = [
        f"""WITH RECURSIVE {_WEDGES_SQL},
  wsrc AS (SELECT vertex AS s FROM wverts WHERE vertex < {BCW_SOURCE_CAP}),
  -- hop-capped walk (h in the recursion tuple): wdist = min cost over
  -- paths of <= H hops, the IDENTICAL truncation the Spark kernel's H
  -- Bellman-Ford rounds compute, so the twin matches even mid-truncation
  wwalk(s, v, c, h) AS (
    SELECT s, s, 0, 0 FROM wsrc
    UNION
    SELECT w.s, u.dst, w.c + u.w, w.h + 1 FROM wwalk w JOIN wund u ON u.src = w.v
    WHERE w.h < {H}
  ),
  wdist AS MATERIALIZED (SELECT s, v, min(c) AS c FROM wwalk GROUP BY s, v),
  wdag AS MATERIALIZED (
    SELECT du.s, u.src, u.dst
    FROM wund u
    JOIN wdist du ON du.v = u.src
    JOIN wdist dv ON dv.s = du.s AND dv.v = u.dst
    WHERE du.c + u.w = dv.c
  ),
  wsig0 AS (SELECT s, s AS v, 1.0::DOUBLE AS sigma FROM wsrc)
""",
    ]
    for k in range(1, H + 1):
        parts.append(
            f""",
  wsig{k} AS (
    SELECT p.s, g.dst AS v, sum(p.sigma) AS sigma
    FROM wsig{k - 1} p JOIN wdag g ON g.s = p.s AND g.src = p.v
    GROUP BY p.s, g.dst)
"""
        )
    # total sigma(v) = Σ_k (paths of exactly k DAG edges); the DAG is
    # acyclic with depth ≤ H, so the union is complete
    parts.append(
        ",\n  wsig AS MATERIALIZED (SELECT s, v, sum(sigma) AS sigma FROM ("
        + " UNION ALL ".join(f"SELECT * FROM wsig{k}" for k in range(H + 1))
        + ") GROUP BY s, v)"
    )
    parts.append(",\n  wdel0 AS (SELECT s, v, 0.0::DOUBLE AS delta FROM wsig)")
    for k in range(1, H + 1):
        parts.append(
            f""",
  wdel{k} AS (
    SELECT g.s, g.v,
           coalesce(sum(g.sigma / sw.sigma * (1.0 + sw.delta)), 0.0) AS delta
    FROM wsig g
    LEFT JOIN wdag e ON e.s = g.s AND e.src = g.v
    LEFT JOIN (SELECT w1.s, w1.v, w1.sigma, d1.delta
               FROM wsig w1 JOIN wdel{k - 1} d1 ON d1.s = w1.s AND d1.v = w1.v) sw
      ON sw.s = e.s AND sw.v = e.dst
    GROUP BY g.s, g.v, g.sigma)
"""
        )
    parts.append(
        f""",
  wbc AS (SELECT v AS vertex, sum(delta) AS b
          FROM wdel{H} WHERE v != s GROUP BY v)
SELECT vt.vertex, round(coalesce(b, 0.0) * 0.5, 6) AS bc
FROM wverts vt LEFT JOIN wbc USING (vertex) ORDER BY vertex
"""
    )
    return "".join(parts)


def graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes betweenness partial sums over the source sample
    {v ∈ V : v < 64} — ORACLE-GATED: the DuckDB twin computes the identical
    quantity with a recursive-CTE BFS (dist), then depth-unrolled DP for
    sigma (path counts) and the reverse-order delta accumulation.  Source
    sampling is the standard estimator (Brandes & Pich 2007) and both sides
    compute the sampled partial sums exactly.  The full allclose-1e-6 oracle
    vs sequential Brandes on arbitrary graphs lives in
    tests/test_betweenness.py."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness import betweenness_csr

    e = _order_edges(spark, sf_dir)
    verts = endpoints(e).distinct()
    sources = sorted(
        r["vertex"] for r in verts.where(F.col("vertex") < BC_SOURCE_CAP).collect()
    )
    res = betweenness_csr(spark, e, sources=sources, directed=False)
    return (
        res.bc.join(verts, "vertex")
        .select("vertex", F.round("bc", 6).alias("bc"))
        .orderBy("vertex")
    )


def graph_betweenness_bsp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JOIN-formulation Brandes (``betweenness_bsp`` — frontier joins +
    reverse dependency sweep, the engine's cluster-scale path) over the
    identical {v < 64} source sample and against the IDENTICAL SQL Brandes
    oracle as ``graph_betweenness`` (CSR path): hash-green on both rows is
    the driver-gate proof that the two physical implementations compute the
    same scores, not just in pytest."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness import betweenness_bsp

    e = _order_edges(spark, sf_dir)
    verts = endpoints(e).distinct()
    sources = sorted(
        r["vertex"] for r in verts.where(F.col("vertex") < BC_SOURCE_CAP).collect()
    )
    res = betweenness_bsp(spark, e, sources=sources, directed=False)
    return (
        res.bc.join(verts, "vertex")
        .select("vertex", F.round("bc", 6).alias("bc"))
        .orderBy("vertex")
    )


def graph_edge_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge betweenness (Girvan-Newman's split criterion) over the same
    {v < 64} source sample as graph_betweenness — ORACLE-GATED: the DuckDB
    twin reuses the full Brandes scaffolding (recursive-CTE BFS +
    depth-unrolled sigma/delta DP) and derives per-edge credit
    sigma_v/sigma_w*(1+delta_w) for every DAG edge, exactly the one extra
    join pass the engine runs over its BSP state."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness import edge_betweenness_bsp

    e = _order_edges(spark, sf_dir)
    verts = endpoints(e).distinct()
    sources = sorted(
        r["vertex"] for r in verts.where(F.col("vertex") < BC_SOURCE_CAP).collect()
    )
    eb = edge_betweenness_bsp(spark, e, sources=sources)
    return eb.select("a", "b", F.round("ebc", 6).alias("ebc")).orderBy("a", "b")


def graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled closeness centrality (Wasserman-Faust corrected, the
    NetworkX convention) from sources {v < 8} — same estimator rationale
    as harmonic/betweenness; oracle = the recursive-CTE BFS with the
    closeness aggregation."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import closeness_sampled

    e = _order_edges(spark, sf_dir)
    verts = endpoints(e).distinct()
    sources = sorted(r["vertex"] for r in verts.where(F.col("vertex") < 8).collect())
    return (
        closeness_sampled(spark, e, sources)
        .select("vertex", "reached", F.round("closeness", 6).alias("closeness"))
        .orderBy("vertex")
    )


def graph_closeness_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled closeness over WEIGHTED distances (sources {v < 8}, the
    Dijkstra sibling of graph_closeness): distances from the frontier
    Bellman-Ford kernel, aggregation identical — the twin recurses the
    same cost-capped walk the weighted-betweenness twin uses (shared
    BCW_MAX_HOPS cap, so both engines agree at any sf)."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import (
        closeness_weighted_sampled,
    )

    we = _weighted_order_edges(spark, sf_dir)
    verts = endpoints(we).distinct()
    sources = sorted(
        r["vertex"] for r in verts.where(F.col("vertex") < BCW_SOURCE_CAP).collect()
    )
    return (
        closeness_weighted_sampled(spark, we, sources, max_hops=BCW_MAX_HOPS)
        .select("vertex", "reached", F.round("closeness", 6).alias("closeness"))
        .orderBy("vertex")
    )


def graph_harmonic_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality over WEIGHTED distances — h(v) =
    Σ 1/d_w(s, v) from the {v < 8} sample, distances from the frontier
    Bellman-Ford kernel; twin = the shared cost-capped walk + the same
    reciprocal aggregation."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.sssp import sssp

    we = _weighted_order_edges(spark, sf_dir)
    verts = endpoints(we).distinct()
    sources = sorted(
        r["vertex"] for r in verts.where(F.col("vertex") < BCW_SOURCE_CAP).collect()
    )
    d = sssp(spark, we, sources, max_hops=BCW_MAX_HOPS)
    return (
        d.where(F.col("dist") > 0)
        .groupBy("vertex")
        .agg(F.round(F.sum(F.lit(1.0) / F.col("dist")), 6).alias("harmonic"))
        .orderBy("vertex")
    )


def _harmonic_weighted_sql() -> str:
    return f"""
WITH RECURSIVE {_WEDGES_SQL},
  wsrc AS (SELECT vertex AS s FROM wverts WHERE vertex < {BCW_SOURCE_CAP}),
  wwalk(s, v, c, h) AS (
    SELECT s, s, 0, 0 FROM wsrc
    UNION
    SELECT w.s, u.dst, w.c + u.w, w.h + 1 FROM wwalk w JOIN wund u ON u.src = w.v
    WHERE w.h < {BCW_MAX_HOPS}
  ),
  wdist AS (SELECT s, v, min(c)::BIGINT AS c FROM wwalk GROUP BY s, v)
SELECT v AS vertex, round(sum(1.0 / c), 6) AS harmonic
FROM wdist WHERE c > 0 GROUP BY v ORDER BY vertex
"""


def _closeness_weighted_sql() -> str:
    return f"""
WITH RECURSIVE {_WEDGES_SQL},
  wsrc AS (SELECT vertex AS s FROM wverts WHERE vertex < {BCW_SOURCE_CAP}),
  wwalk(s, v, c, h) AS (
    SELECT s, s, 0, 0 FROM wsrc
    UNION
    SELECT w.s, u.dst, w.c + u.w, w.h + 1 FROM wwalk w JOIN wund u ON u.src = w.v
    WHERE w.h < {BCW_MAX_HOPS}
  ),
  wdist AS (SELECT s, v, min(c)::BIGINT AS c FROM wwalk GROUP BY s, v),
  nn AS (SELECT count(*)::BIGINT AS n FROM wverts),
  agg AS (SELECT v AS vertex, count(*)::BIGINT AS reached, sum(c)::BIGINT AS sd
          FROM wdist WHERE c > 0 GROUP BY v)
SELECT vertex, reached,
       round((reached::DOUBLE / sd::DOUBLE)
             * (reached::DOUBLE / (nn.n - 1)::DOUBLE), 6) AS closeness
FROM agg, nn ORDER BY vertex
"""


MIS_ROUNDS = 3


def graph_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby maximal-independent-set, 3 fixed synchronous rounds —
    ORACLE-GATED round-for-round: priorities are the engine-portable
    md5('mis:'||v)||':'||lpad(v) strings, so the DuckDB twin unrolls the
    identical rounds (win = smaller than every undecided neighbor,
    dominate = neighbor of a winner) and the still-undecided remainder
    matches exactly."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.mis import luby_mis

    e = _order_edges(spark, sf_dir)
    return luby_mis(spark, e, rounds=MIS_ROUNDS).orderBy("vertex")


MATCHING_ROUNDS = 3


def graph_matching3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel greedy maximal matching (local-minimum edges), 3 fixed
    rounds — ORACLE-GATED round-for-round: edge priorities are the
    engine-portable md5('match:'||src||':'||dst)||tiebreak strings, so
    the DuckDB twin unrolls the identical rounds (win = strict minimum
    among all live edges on either endpoint, then both endpoints leave)
    and the still-live remainder (round −1) matches exactly."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.matching import greedy_matching

    e = _order_edges(spark, sf_dir)
    return greedy_matching(spark, e, rounds=MATCHING_ROUNDS).orderBy(
        "round", "src", "dst"
    )


def _matching_sql() -> str:
    """Greedy-matching twin, ``MATCHING_ROUNDS`` rounds unrolled on the
    identical md5 edge priorities — mirrors
    operators/matching.py::greedy_matching round for round."""
    parts = [
        f"""WITH {_EDGES_SQL},
l0 AS MATERIALIZED (SELECT src, dst,
              md5('match:' || src::VARCHAR || ':' || dst::VARCHAR) || ':'
                || lpad(src::VARCHAR, 12, '0') || ':'
                || lpad(dst::VARCHAR, 12, '0') AS prio
       FROM und WHERE src < dst)"""
    ]
    for k in range(1, MATCHING_ROUNDS + 1):
        p = k - 1
        parts.append(
            f""",
vm{k} AS MATERIALIZED (SELECT vertex, min(prio) AS m FROM (
            SELECT src AS vertex, prio FROM l{p}
            UNION ALL SELECT dst AS vertex, prio FROM l{p})
          GROUP BY vertex),
w{k} AS MATERIALIZED (SELECT l.src, l.dst FROM l{p} l
         JOIN vm{k} a ON a.vertex = l.src AND l.prio = a.m
         JOIN vm{k} b ON b.vertex = l.dst AND l.prio = b.m),
l{k} AS MATERIALIZED (SELECT l.* FROM l{p} l
         WHERE l.src NOT IN (SELECT src FROM w{k} UNION ALL SELECT dst FROM w{k})
           AND l.dst NOT IN (SELECT src FROM w{k} UNION ALL SELECT dst FROM w{k}))"""
        )
    tails = [f"SELECT src, dst, -1 AS round FROM l{MATCHING_ROUNDS}"]
    for k in range(1, MATCHING_ROUNDS + 1):
        tails.append(f"SELECT src, dst, {k} AS round FROM w{k}")
    parts.append("\n" + "\nUNION ALL ".join(tails) + "\nORDER BY round, src, dst")
    return "".join(parts)


COLORING_ROUNDS = 3
SP_SRC, SP_DST = 0, 777


def graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical shortest-path EXTRACTION (pos, vertex) from SP_SRC to
    SP_DST — parent(v) = min predecessor on a shortest path, so the
    backtracked path is deterministic in any engine; the DuckDB twin
    replays dist → min-parent map → recursive backtrack identically."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import shortest_path

    e = _order_edges(spark, sf_dir)
    return shortest_path(spark, e, SP_SRC, SP_DST, max_depth=BC_MAX_DEPTH).orderBy(
        "pos"
    )


def _shortest_path_sql() -> str:
    return f"""
WITH RECURSIVE {_EDGES_SQL},
walk(v, d) AS (
    SELECT {SP_SRC}::BIGINT, 0
    UNION
    SELECT u.dst, w.d + 1 FROM walk w JOIN und u ON u.src = w.v
    WHERE w.d < {BC_MAX_DEPTH}
),
dist AS (SELECT v AS vertex, min(d) AS dist FROM walk GROUP BY v),
parents AS (
    SELECT e.dst AS vertex, min(e.src) AS parent
    FROM und e
    JOIN dist a ON a.vertex = e.src
    JOIN dist b ON b.vertex = e.dst
    WHERE a.dist + 1 = b.dist
    GROUP BY e.dst),
back(pos, vertex) AS (
    SELECT dist::INT, {SP_DST}::BIGINT FROM dist WHERE vertex = {SP_DST}
    UNION ALL
    SELECT b.pos - 1, p.parent FROM back b JOIN parents p ON p.vertex = b.vertex
    WHERE b.pos > 0
)
SELECT pos, vertex FROM back ORDER BY pos
"""


def graph_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jones-Plassmann greedy coloring, 3 fixed synchronous rounds —
    ORACLE-GATED round-for-round on the portable md5('col:'||v) priority
    permutation: winners are priority-local-minima among the uncolored
    (an independent set, so same-round picks never conflict) and take the
    mex of their already-colored neighbors' colors; the still-uncolored
    remainder surfaces as color = -1."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.coloring import (
        jones_plassmann_coloring,
    )

    e = _order_edges(spark, sf_dir)
    return jones_plassmann_coloring(spark, e, rounds=COLORING_ROUNDS).orderBy("vertex")


def _coloring_sql() -> str:
    """Jones-Plassmann twin, ``COLORING_ROUNDS`` rounds unrolled: identical
    md5 priorities, per round win = smaller than every uncolored neighbor,
    color = mex over colored-neighbor colors via the sorted-prefix trick
    (len of the prefix where arr[i] == i-1, 1-based lambda index) —
    mirrors operators/coloring.py::jones_plassmann_coloring."""
    parts = [
        f"""WITH {_EDGES_SQL},
u0 AS (SELECT vertex,
              md5('col:' || vertex::VARCHAR) || ':'
                || lpad(vertex::VARCHAR, 12, '0') AS prio
       FROM vertices),
c0 AS (SELECT vertex, 0::INT AS color, 0 AS round FROM vertices WHERE false)"""
    ]
    for k in range(1, COLORING_ROUNDS + 1):
        p = k - 1
        parts.append(
            f""",
nm{k} AS (SELECT e.dst AS vertex, min(pr.prio) AS m
          FROM und e JOIN u{p} pr ON pr.vertex = e.src
          WHERE e.dst IN (SELECT vertex FROM u{p})
          GROUP BY e.dst),
w{k} AS (SELECT u.vertex FROM u{p} u LEFT JOIN nm{k} ON nm{k}.vertex = u.vertex
         WHERE nm{k}.m IS NULL OR u.prio < nm{k}.m),
pal{k} AS (SELECT e.src AS vertex, list_sort(list(DISTINCT c.color)) AS cs
           FROM und e JOIN c{p} c ON c.vertex = e.dst
           WHERE e.src IN (SELECT vertex FROM w{k})
           GROUP BY e.src),
wc{k} AS (SELECT w.vertex,
                 coalesce(len(list_filter(pal{k}.cs, (x, i) -> x = i - 1)), 0)::INT AS color
          FROM w{k} w LEFT JOIN pal{k} ON pal{k}.vertex = w.vertex),
c{k} AS (SELECT * FROM c{p}
         UNION ALL SELECT vertex, color, {k} AS round FROM wc{k}),
u{k} AS (SELECT u.* FROM u{p} u
         WHERE u.vertex NOT IN (SELECT vertex FROM w{k}))"""
        )
    parts.append(
        f"""
SELECT vertex, color, round FROM c{COLORING_ROUNDS}
UNION ALL
SELECT vertex, -1 AS color, -1 AS round FROM u{COLORING_ROUNDS}
ORDER BY vertex"""
    )
    return "".join(parts)


LINKPRED_TOPK = 50


def graph_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 non-adjacent pairs by Jaccard coefficient with all four
    neighborhood link-prediction scores (common-neighbors, Jaccard,
    Adamic-Adar, resource-allocation) — one shared-neighbor self-join +
    degree joins, mirrored exactly by the SQL twin."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.linkpred import (
        link_prediction_scores,
    )

    e = _order_edges(spark, sf_dir)
    s = link_prediction_scores(e)
    return (
        s.select(
            "a",
            "b",
            "cn",
            F.round("jaccard", 6).alias("jaccard"),
            F.round("aa", 6).alias("aa"),
            F.round("ra", 6).alias("ra"),
        )
        .orderBy(F.desc("jaccard"), "a", "b")
        .limit(LINKPRED_TOPK)
    )


def _closeness_sql() -> str:
    """Sampled Wasserman-Faust closeness twin: the harmonic twin's
    recursive-CTE BFS, aggregated as (reached/Σd)·(reached/(n−1)) —
    mirrors operators/bfs.py::closeness_sampled."""
    return f"""
WITH RECURSIVE {_EDGES_SQL},
src AS (SELECT vertex AS s FROM vertices WHERE vertex < 8),
walk(s, v, d) AS (
    SELECT s, s, 0 FROM src
    UNION
    SELECT w.s, u.dst, w.d + 1 FROM walk w JOIN und u ON u.src = w.v
    WHERE w.d < {BC_MAX_DEPTH}
),
dist AS (SELECT s, v, min(d) AS d FROM walk GROUP BY s, v),
nn AS (SELECT count(*)::BIGINT AS n FROM vertices),
agg AS (SELECT v AS vertex, count(*)::BIGINT AS reached, sum(d)::BIGINT AS sd
        FROM dist WHERE d > 0 GROUP BY v)
SELECT vertex, reached,
       round((reached::DOUBLE / sd::DOUBLE)
             * (reached::DOUBLE / (nn.n - 1)::DOUBLE), 6) AS closeness
FROM agg, nn ORDER BY vertex
"""


def _mis_sql() -> str:
    """Luby MIS twin, ``MIS_ROUNDS`` rounds unrolled: the identical
    md5-priority permutation (md5('mis:'||v) || ':' || lpad(v, 12, '0')),
    per round win = smaller than every undecided neighbor, dominate =
    undecided neighbor of a winner — mirrors operators/mis.py::luby_mis
    round for round.  Every CTE of the chain is ``AS MATERIALIZED``: each
    ``u{k}`` is referenced four times by the next round, so an inlined chain
    grows exponentially in ``MIS_ROUNDS`` (DuckDB ran out of memory on it
    at sf0.001)."""
    parts = [
        f"""WITH {_EDGES_SQL},
u0 AS MATERIALIZED (SELECT vertex,
              md5('mis:' || vertex::VARCHAR) || ':'
                || lpad(vertex::VARCHAR, 12, '0') AS prio
       FROM vertices)"""
    ]
    for k in range(1, MIS_ROUNDS + 1):
        p = k - 1
        parts.append(
            f""",
nm{k} AS MATERIALIZED (SELECT e.dst AS vertex, min(pr.prio) AS m
          FROM und e JOIN u{p} pr ON pr.vertex = e.src
          WHERE e.dst IN (SELECT vertex FROM u{p})
          GROUP BY e.dst),
w{k} AS MATERIALIZED (SELECT u.vertex FROM u{p} u LEFT JOIN nm{k} ON nm{k}.vertex = u.vertex
         WHERE nm{k}.m IS NULL OR u.prio < nm{k}.m),
d{k} AS MATERIALIZED (SELECT DISTINCT e.dst AS vertex FROM und e
         WHERE e.src IN (SELECT vertex FROM w{k})
           AND e.dst IN (SELECT vertex FROM u{p})
           AND e.dst NOT IN (SELECT vertex FROM w{k})),
u{k} AS MATERIALIZED (SELECT u.* FROM u{p} u
         WHERE u.vertex NOT IN (SELECT vertex FROM w{k})
           AND u.vertex NOT IN (SELECT vertex FROM d{k}))"""
        )
    tails = [
        f"SELECT vertex, 'undecided' AS status, -1 AS round FROM u{MIS_ROUNDS}"
    ]
    for k in range(1, MIS_ROUNDS + 1):
        tails.append(f"SELECT vertex, 'in' AS status, {k} AS round FROM w{k}")
        tails.append(f"SELECT vertex, 'out' AS status, {k} AS round FROM d{k}")
    parts.append("\n" + "\nUNION ALL ".join(tails) + "\nORDER BY vertex")
    return "".join(parts)


def _linkpred_sql() -> str:
    """All-four-score link-prediction twin: the adamic-adar twin's
    shared-neighbor self-join widened with resource-allocation and the
    degree-join Jaccard denominator (deg(a)+deg(b)−cn) — mirrors
    operators/linkpred.py::link_prediction_scores."""
    return f"""
WITH {_EDGES_SQL},
  deg AS (SELECT src AS w, count(*)::BIGINT AS deg FROM und GROUP BY src),
  wn AS (SELECT u.src AS w, u.dst AS u, d.deg FROM und u JOIN deg d ON d.w = u.src),
  pairs AS (
    SELECT l.u AS a, r.u AS b, count(*)::BIGINT AS cn,
           sum(1.0 / ln(l.deg)) AS aa,
           sum(1.0 / l.deg) AS ra
    FROM wn l JOIN wn r ON l.w = r.w AND l.u < r.u
    GROUP BY l.u, r.u),
  nonadj AS (
    SELECT p.* FROM pairs p
    WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.src = p.a AND e.dst = p.b)),
  scored AS (
    SELECT n.a, n.b, n.cn,
           n.cn::DOUBLE / (da.deg + db.deg - n.cn)::DOUBLE AS jaccard,
           n.aa, n.ra
    FROM nonadj n JOIN deg da ON da.w = n.a JOIN deg db ON db.w = n.b)
SELECT a, b, cn, round(jaccard, 6) AS jaccard, round(aa, 6) AS aa,
       round(ra, 6) AS ra
FROM scored ORDER BY round(jaccard, 6) DESC, a, b LIMIT {LINKPRED_TOPK}
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing (deterministic fake decode — rows-only)
# ---------------------------------------------------------------------------

def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic assets → decode (fake codec via mapInPandas) → per-type
    size stats — ORACLE-GATED: the payload generator is pure column
    expressions (repeat(sha2(...), 4) cast binary), so the DuckDB twin
    regenerates the identical bytes and reproduces the decode stats
    (length, sha256-of-payload) the Arrow UDF computes — gating the
    mapInPandas plumbing itself, not just the aggregation."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.multimodal import (
        decode_media,
        synth_assets,
    )

    assets = synth_assets(spark, n=300, seed=42)
    dec = decode_media(assets, mode="fake")
    return (
        dec.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("sha256").alias("n_unique"),
        )
        .orderBy("media_type")
    )


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB) twins
# ---------------------------------------------------------------------------

_TOKENS = r"regexp_extract_all(lower(trim(text)), '\S+')"
_SHINGLES = (
    "list_distinct([array_to_string(t[i:least(i+2, len(t))], ' ') "
    "for i in generate_series(1, greatest(len(t)-2, 1))])"
)

_LANG_MARKERS_SQL = [
    ("en", r"\b(the|and|of|to|is|in|that|it)\b"),
    ("de", r"\b(der|die|das|und|ist|nicht|ein|zu)\b"),
    ("fr", r"\b(le|la|les|et|est|une|que|pour)\b"),
    ("es", r"\b(el|los|las|es|una|que|por|para)\b"),
    ("zh", r"[一-鿿]"),
]


def _lang_case() -> str:
    score = {
        lang: f"len(regexp_extract_all(lower(text), '{pat}'))"
        for lang, pat in _LANG_MARKERS_SQL
    }
    langs = [l for l, _ in _LANG_MARKERS_SQL]
    total = " + ".join(score.values())
    whens = [f"WHEN ({total}) = 0 THEN 'und'"]
    for i, lang in enumerate(langs[:-1]):
        cond = " AND ".join(
            f"{score[lang]} >= {score[other]}" for other in langs[i + 1 :]
        )
        whens.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(whens) + f" ELSE '{langs[-1]}' END"


_NTOK = (
    "CASE WHEN length(trim(text)) = 0 THEN 0 "
    r"ELSE len(regexp_extract_all(trim(text), '\S+')) END"
)
_STOPWORD_RE = r"\b(the|a|an|and|or|of|to|is|in|on|that|it|as|for|with)\b"
_PUNCT_RE = r"[\.,;:!\?\"''\(\)\[\]\{\}-]"


def _quality_sql() -> str:
    ntok = _NTOK
    mtl = (
        f"CASE WHEN {ntok} = 0 THEN 0.0 ELSE "
        r"length(regexp_replace(trim(text), '\s+', '', 'g'))::DOUBLE"
        f" / {ntok} END"
    )
    stop = (
        f"CASE WHEN {ntok} = 0 THEN 0.0 ELSE "
        f"len(regexp_extract_all(lower(text), '{_STOPWORD_RE}'))::DOUBLE / {ntok} END"
    )
    punct = (
        "CASE WHEN length(text) = 0 THEN 0.0 ELSE "
        f"len(regexp_extract_all(text, '{_PUNCT_RE}'))::DOUBLE / length(text) END"
    )
    return (
        f"round(0.4 * least({ntok}::DOUBLE / 100.0, 1.0) "
        f"+ 0.3 * (CASE WHEN ({mtl}) >= 3.0 AND ({mtl}) <= 10.0 THEN 1.0 ELSE 0.5 END) "
        f"+ 0.2 * ({stop}) "
        f"+ 0.1 * (1.0 - least(({punct}) * 5.0, 1.0)), 6)"
    )


def _pagerank5_sql(tele_expr: str | None = None) -> str:
    """5 unrolled power iterations matching operators/pagerank.py exactly:
    ``pr' = (1-a)·t + a·(contribs + dangling_mass·t)`` with a per-vertex
    teleport column t — uniform ``1/n`` by default, or the given SQL
    expression over ``dverts`` (personalized PageRank)."""
    a = 0.85
    tele = tele_expr or "1.0 / (SELECT n FROM n_tot)"
    parts = [
        f"WITH {_EDGES_SQL},",
        f"""
  dverts AS (SELECT DISTINCT src AS vertex FROM edges
             UNION SELECT DISTINCT dst FROM edges),
  n_tot AS (SELECT count(*)::DOUBLE AS n FROM dverts),
  outdeg AS (SELECT src AS vertex, count(*)::DOUBLE AS od FROM edges GROUP BY src),
  tele AS (SELECT vertex, ({tele}) AS t FROM dverts),
  pr0 AS (SELECT vertex, t AS pr FROM tele)
""",
    ]
    for k in range(1, 6):
        p = f"pr{k - 1}"
        parts.append(
            f""",
  dm{k} AS (SELECT coalesce(sum(pr), 0.0) AS m FROM {p}
            WHERE vertex NOT IN (SELECT vertex FROM outdeg)),
  c{k} AS (SELECT e.dst AS vertex, sum(p.pr / o.od) AS c
           FROM {p} p JOIN edges e ON e.src = p.vertex
           JOIN outdeg o ON o.vertex = p.vertex GROUP BY e.dst),
  pr{k} AS (SELECT v.vertex,
              (1.0 - {a}) * v.t
              + {a} * (coalesce(c.c, 0.0) + (SELECT m FROM dm{k}) * v.t) AS pr
            FROM tele v LEFT JOIN c{k} c ON c.vertex = v.vertex)
"""
        )
    parts.append("SELECT vertex, round(pr, 6) AS pr FROM pr5 ORDER BY vertex")
    return "".join(parts)


def _katz3_sql() -> str:
    """3 unrolled Katz iterations matching operators/pagerank.py::katz:
    ``x_{k+1} = α · Aᵀ(1 + x_k)``, x0 = 0, α = 0.1 — no out-degree
    normalization, no teleport, mass fans out along every out-edge."""
    a = 0.1
    parts = [
        f"WITH {_EDGES_SQL},",
        """
  dverts AS (SELECT DISTINCT src AS vertex FROM edges
             UNION SELECT DISTINCT dst FROM edges),
  x0 AS (SELECT vertex, 0.0 AS x FROM dverts)
""",
    ]
    for k in range(1, 4):
        p = f"x{k - 1}"
        parts.append(
            f""",
  c{k} AS (SELECT e.dst AS vertex, sum({a} * (1.0 + p.x)) AS c
           FROM {p} p JOIN edges e ON e.src = p.vertex GROUP BY e.dst),
  x{k} AS (SELECT v.vertex, coalesce(c.c, 0.0) AS x
           FROM dverts v LEFT JOIN c{k} c ON c.vertex = v.vertex)
"""
        )
    parts.append("SELECT vertex, round(x, 6) AS katz FROM x3 ORDER BY vertex")
    return "".join(parts)


def _eigenvector4_sql() -> str:
    """4 unrolled power iterations matching
    operators/pagerank.py::eigenvector_centrality exactly:
    ``x' = Aᵀx / ‖Aᵀx‖₂`` with a zero-norm guard, x0 = 1/√n."""
    parts = [
        f"WITH {_EDGES_SQL},",
        """
  n_tot AS (SELECT count(*)::DOUBLE AS n FROM vertices),
  x0 AS (SELECT vertex, 1.0 / sqrt((SELECT n FROM n_tot)) AS x FROM vertices)
""",
    ]
    for k in range(1, 5):
        p = f"x{k - 1}"
        parts.append(
            f""",
  c{k} AS (SELECT e.dst AS vertex, sum(p.x) AS c
           FROM {p} p JOIN edges e ON e.src = p.vertex GROUP BY e.dst),
  u{k} AS (SELECT v.vertex, coalesce(c.c, 0.0) AS x
           FROM vertices v LEFT JOIN c{k} c ON c.vertex = v.vertex),
  n{k} AS (SELECT sqrt(sum(x * x)) AS nrm FROM u{k}),
  x{k} AS (SELECT vertex,
             CASE WHEN (SELECT nrm FROM n{k}) > 0
                  THEN x / (SELECT nrm FROM n{k}) ELSE 0.0 END AS x
           FROM u{k})
"""
        )
    parts.append("SELECT vertex, round(x, 6) AS eig FROM x4 ORDER BY vertex")
    return "".join(parts)


def _simrank2_sql() -> str:
    """2 unrolled SimRank iterations matching operators/linkpred.py::simrank
    exactly: the ordered score table (diagonal = 1, off-diagonal =
    c·Σ/(|I(a)|·|I(b)|)) replayed as CTEs over the sparsified order graph,
    then the same a<b / 6dp / ≥0.01 emission as the Spark query."""
    c = 0.8
    parts = [
        f"WITH {_EDGES_SPARSE_SQL},",
        """
  ein AS (SELECT DISTINCT src AS u, dst AS a FROM edges WHERE src != dst),
  sverts AS (SELECT DISTINCT vertex FROM (
               SELECT u AS vertex FROM ein UNION ALL SELECT a FROM ein)),
  ind AS (SELECT a, count(*)::DOUBLE AS d FROM ein GROUP BY a),
  s0 AS (SELECT vertex AS u, vertex AS v, 1.0 AS s FROM sverts)
""",
    ]
    for k in range(1, 3):
        p = f"s{k - 1}"
        parts.append(
            f""",
  raw{k} AS (SELECT ea.a, eb.a AS b, sum(s.s) AS m
             FROM {p} s JOIN ein ea ON ea.u = s.u
             JOIN ein eb ON eb.u = s.v
             WHERE ea.a != eb.a GROUP BY ea.a, eb.a),
  s{k} AS (SELECT r.a AS u, r.b AS v, {c} * r.m / (ia.d * ib.d) AS s
           FROM raw{k} r JOIN ind ia ON ia.a = r.a JOIN ind ib ON ib.a = r.b
           UNION ALL SELECT vertex, vertex, 1.0 FROM sverts)
"""
        )
    parts.append(
        """
SELECT u AS a, v AS b, round(s, 6) AS simrank FROM s2
WHERE u < v AND round(s, 6) >= 0.01 ORDER BY a, b"""
    )
    return "".join(parts)


def _square_count_sql() -> str:
    """Codegree pair-counting twin of graph_square_count: non-induced
    C4 = Σ_{u<v} C(codeg, 2) / 2, all-integer until the final division."""
    return f"""WITH {_EDGES_SQL},
  codeg AS (SELECT a.dst AS u, b.dst AS v, count(*)::BIGINT AS m
            FROM und a JOIN und b ON b.src = a.src AND a.dst < b.dst
            GROUP BY a.dst, b.dst)
SELECT (sum(m * (m - 1)) // 2)::BIGINT AS n_copair_wedges,
       (sum(m * (m - 1)) // 4)::BIGINT AS n_squares
FROM codeg"""


def _degree_gini_sql() -> str:
    """Ranked-sum Gini twin of graph_degree_gini over the identical
    (deg ASC, vertex ASC) tie-broken total order."""
    return f"""WITH {_EDGES_SQL},
  degt AS (SELECT src AS vertex, count(*)::BIGINT AS deg FROM und GROUP BY src),
  rk AS (SELECT deg, row_number() OVER (ORDER BY deg, vertex)::BIGINT AS r
         FROM degt)
SELECT count(*)::BIGINT AS n_vertices,
       round(2.0 * sum(r * deg) / (count(*) * sum(deg))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM rk"""


def _zipf_slope_sql() -> str:
    """OLS ln(freq)~ln(rank) twin of doc_zipf_slope over the identical
    (count DESC, term ASC) top-100 term order and whitespace tokens."""
    return r"""WITH toks AS (
    SELECT unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS term
    FROM documents),
  tc AS (SELECT term, count(*)::BIGINT AS cnt FROM toks GROUP BY term),
  top AS (SELECT cnt,
                 row_number() OVER (ORDER BY cnt DESC, term)::BIGINT AS r
          FROM tc ORDER BY cnt DESC, term LIMIT 100)
SELECT count(*)::BIGINT AS n_terms,
       round((count(*) * sum(ln(r) * ln(cnt)) - sum(ln(r)) * sum(ln(cnt)))
             / (count(*) * sum(ln(r) * ln(r)) - sum(ln(r)) * sum(ln(r))),
             6) AS zipf_slope
FROM top"""


PPR_SEED_CAP = 10  # personalized-PageRank seed set: vertices with id < cap

_PPR_TELE_SQL = (
    f"CASE WHEN vertex < {PPR_SEED_CAP} THEN "
    f"1.0 / (SELECT count(*) FROM dverts WHERE vertex < {PPR_SEED_CAP}) "
    "ELSE 0.0 END"
)


def _brandes_ctes() -> str:
    """Shared Brandes scaffolding in SQL for the 64-source sample:
    recursive-CTE BFS for distances, then depth-unrolled DP (depth >
    measured graph diameter) for sigma (shortest-path counts, forward) and
    delta (dependency accumulation, reverse) — layer k's CTE references
    only layer k±1.  Ends with ``sig`` (s, v, sigma, d) over depths 0..D
    and ``alldel`` (s, v, delta) over depths 1..D; the vertex and edge
    betweenness twins append their own final aggregation."""
    D = BC_MAX_DEPTH
    # AS MATERIALIZED: DuckDB inlines plain CTEs, so the ~3·D references to
    # `und`/`dist`/`sig` would each re-open the parquet scan (fd exhaustion)
    # and recompute the BFS.
    parts = [
        f"""WITH RECURSIVE
  edges AS MATERIALIZED (
    SELECT DISTINCT (o_custkey % {GRAPH_MOD})::BIGINT AS src,
                    (o_orderkey % {GRAPH_MOD})::BIGINT AS dst
    FROM orders
    WHERE (o_custkey % {GRAPH_MOD}) != (o_orderkey % {GRAPH_MOD})
  ),
  und AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM (
      SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
  ),
  vertices AS MATERIALIZED (SELECT DISTINCT src AS vertex FROM und),
""",
        f"""
  src AS (SELECT vertex AS s FROM vertices WHERE vertex < {BC_SOURCE_CAP}),
  walk(s, v, d) AS (
    SELECT s, s, 0 FROM src
    UNION
    SELECT w.s, u.dst, w.d + 1 FROM walk w JOIN und u ON u.src = w.v WHERE w.d < {D}
  ),
  dist AS MATERIALIZED (SELECT s, v, min(d) AS d FROM walk GROUP BY s, v),
  sig0 AS (SELECT s, s AS v, 1.0::DOUBLE AS sigma, 0 AS d FROM src)
""",
    ]
    for k in range(1, D + 1):
        parts.append(
            f""",
  sig{k} AS (
    SELECT p.s, u.dst AS v, sum(p.sigma) AS sigma, {k} AS d
    FROM sig{k - 1} p JOIN und u ON u.src = p.v
    JOIN dist dd ON dd.s = p.s AND dd.v = u.dst AND dd.d = {k}
    GROUP BY p.s, u.dst)
"""
        )
    parts.append(
        ",\n  sig AS MATERIALIZED ("
        + " UNION ALL ".join(f"SELECT * FROM sig{k}" for k in range(D + 1))
        + ")"
    )
    parts.append(f",\n  del{D} AS (SELECT s, v, 0.0::DOUBLE AS delta FROM sig WHERE d = {D})")
    for k in range(D - 1, 0, -1):
        parts.append(
            f""",
  del{k} AS (
    SELECT lv.s, lv.v,
           coalesce(sum(lv.sigma / sw.sigma * (1.0 + sw.delta)), 0.0) AS delta
    FROM (SELECT s, v, sigma FROM sig WHERE d = {k}) lv
    LEFT JOIN und u ON u.src = lv.v
    LEFT JOIN (SELECT g.s, g.v, g.sigma, dl.delta
               FROM sig g JOIN del{k + 1} dl ON dl.s = g.s AND dl.v = g.v
               WHERE g.d = {k + 1}) sw
      ON sw.s = lv.s AND sw.v = u.dst
    GROUP BY lv.s, lv.v)
"""
        )
    union_del = " UNION ALL ".join(f"SELECT * FROM del{k}" for k in range(1, D + 1))
    parts.append(f",\n  alldel AS MATERIALIZED ({union_del})")
    return "".join(parts)


def _betweenness_sql() -> str:
    """Vertex betweenness tail over ``_brandes_ctes``: sum delta over
    sources per vertex, halve (undirected), zero-fill unreached."""
    return (
        _brandes_ctes()
        + """,
  bcsum AS (SELECT v AS vertex, sum(delta) AS b FROM alldel GROUP BY v)
SELECT vt.vertex, round(coalesce(b, 0.0) * 0.5, 6) AS bc
FROM vertices vt LEFT JOIN bcsum USING (vertex) ORDER BY vertex
"""
    )


def _edge_betweenness_sql() -> str:
    """Edge betweenness tail over ``_brandes_ctes``: for every DAG edge
    (v, w) with dist_w = dist_v + 1 credit sigma_v/sigma_w*(1+delta_w),
    sum over sources, canonicalize (min, max), halve — mirrors
    operators/betweenness.py::edge_betweenness_bsp's one extra join pass
    over the final BSP state."""
    return (
        _brandes_ctes()
        + """,
  credit AS (
    SELECT lv.s, lv.v AS v, u.dst AS w,
           lv.sigma / gw.sigma * (1.0 + dl.delta) AS c
    FROM sig lv
    JOIN und u ON u.src = lv.v
    JOIN sig gw ON gw.s = lv.s AND gw.v = u.dst AND gw.d = lv.d + 1
    JOIN alldel dl ON dl.s = lv.s AND dl.v = u.dst),
  ecred AS (
    SELECT least(v, w) AS a, greatest(v, w) AS b, sum(c) AS sc
    FROM credit GROUP BY 1, 2)
SELECT c.a, c.b, round(coalesce(sc, 0.0) * 0.5, 6) AS ebc
FROM (SELECT src AS a, dst AS b FROM und WHERE src < dst) c
LEFT JOIN ecred USING (a, b) ORDER BY a, b
"""
    )


def _minhash_md5_sql(k: int = 32, bands: int = 16, threshold: float = 0.3) -> str:
    """Full MinHash-LSH twin: portable md5 signatures (min of hex strings),
    '|'-joined band keys, bucket self-join, exact-Jaccard verify — mirrors
    operators/dedup.py::minhash_dedup_pairs(hash_family='md5') exactly."""
    rows = k // bands
    return f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS t, text FROM documents),
        sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM toks),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        sig AS (SELECT doc_id, g.i AS i, min(md5(g.i::VARCHAR || ':' || s)) AS mh
                FROM ex CROSS JOIN generate_series(0, {k - 1}) AS g(i)
                GROUP BY doc_id, g.i),
        bnd AS (SELECT doc_id, i // {rows} AS band, string_agg(mh, '|' ORDER BY i) AS bk
                FROM sig GROUP BY doc_id, i // {rows}),
        cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                 FROM bnd a JOIN bnd b
                   ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
        verified AS (
            SELECT c.a, c.b,
                   round(CASE WHEN len(list_distinct(sa.sh || sb.sh)) = 0 THEN 0.0
                         ELSE len(list_intersect(sa.sh, sb.sh))::DOUBLE
                              / len(list_distinct(sa.sh || sb.sh)) END, 6) AS jaccard
            FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b)
        SELECT a, b, jaccard FROM verified WHERE jaccard >= {threshold} ORDER BY a, b
    """


def _simhash_md5_sql(max_hamming: int = 3) -> str:
    """Full SimHash twin over the 60-bit md5 family: per-token hash = first
    15 md5 hex chars parsed as BIGINT, 60 bit-vote sums, sign → fingerprint,
    4×15-bit chunk buckets, bit_count(xor) verification — mirrors
    operators/dedup.py::simhash_dedup_pairs(hash_family='md5') exactly."""
    nbits = 60
    tv = "('0x' || substr(md5(tok), 1, 15))::BIGINT"
    vote_cols = ",\n                ".join(
        f"sum(CASE WHEN ((tv >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(nbits)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(nbits)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, fp, {b} AS band, (fp >> {15 * b}) & 32767 AS key FROM fps"
        for b in range(4)
    )
    return f"""
        WITH ex AS (
            SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '\\S+')) AS tok
            FROM documents),
        hashed AS (SELECT doc_id, {tv} AS tv FROM ex),
        vt AS (SELECT doc_id,
                {vote_cols}
               FROM hashed GROUP BY doc_id),
        fps AS (SELECT doc_id, ({fp_terms})::BIGINT AS fp FROM vt),
        chunks AS ({chunk_selects}),
        cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
                 FROM chunks a JOIN chunks b
                   ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        ham AS (SELECT c.a, c.b, bit_count(xor(fa.fp, fb.fp))::INT AS hamming
                FROM cand c JOIN fps fa ON fa.doc_id = c.a JOIN fps fb ON fb.doc_id = c.b)
        SELECT a, b, hamming FROM ham WHERE hamming <= {max_hamming} ORDER BY a, b
    """


def _ann_quantized_sql(k: int = 10, bits: int = 8, probe_hamming: int = 1, seed: int = 42) -> str:
    """ANN twin: identical integer-quantized bucket codes (floor(v·1024) ·
    floor(N(0,1)·512) dot products are exact in float64), probe set =
    buckets within probe_hamming of the query's bucket, exact cosine top-k
    inside — mirrors operators/similarity.py::ann_topk_quantized."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.similarity import (
        quantized_hyperplanes,
    )

    planes = quantized_hyperplanes(EMB_DIM, bits, seed)
    terms = []
    for j in range(bits):
        plane = "[" + ", ".join(str(int(v)) for v in planes[:, j]) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(qv, {plane}) > 0 THEN {1 << j} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    return f"""
        WITH base AS (
            SELECT vec_id, embedding,
                   list_transform(embedding::DOUBLE[], x -> floor(x * 1024)) AS qv
            FROM embeddings),
        bucketed AS (SELECT vec_id, embedding, ({bucket})::BIGINT AS bucket FROM base),
        q AS (SELECT bucket AS qb, embedding AS qe FROM bucketed WHERE vec_id = 0)
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cos
        FROM bucketed e CROSS JOIN q
        WHERE e.vec_id != 0 AND bit_count(xor(e.bucket, q.qb)) <= {probe_hamming}
        ORDER BY cos DESC, e.vec_id LIMIT {k}
    """


def _labelprop3_ctes() -> str:
    """The shared CTE body: edge derivation + 3 unrolled synchronous LPA
    rounds matching operators/labelprop.py (final labels in ``lp3``)."""
    parts = [
        f"WITH {_EDGES_SQL},",
        """
  lp0 AS (SELECT vertex, vertex AS label FROM vertices)
""",
    ]
    for k in range(1, 4):
        p = f"lp{k - 1}"
        parts.append(
            f""",
  cnt{k} AS (SELECT u.dst AS vertex, p.label, count(*) AS cnt
             FROM {p} p JOIN und u ON u.src = p.vertex
             GROUP BY u.dst, p.label),
  best{k} AS (SELECT vertex, label FROM (
      SELECT vertex, label,
             row_number() OVER (PARTITION BY vertex ORDER BY cnt DESC, label ASC) AS rn
      FROM cnt{k}) WHERE rn = 1),
  lp{k} AS (SELECT p.vertex, coalesce(b.label, p.label) AS label
            FROM {p} p LEFT JOIN best{k} b ON b.vertex = p.vertex)
"""
        )
    return "".join(parts)


def _labelprop3_sql() -> str:
    return _labelprop3_ctes() + "SELECT vertex, label FROM lp3 ORDER BY vertex"


def _modularity_sql() -> str:
    """Modularity of the 3-round LPA communities — composes the lp3 CTEs
    with the Q aggregation (inner_c/2m − (D_c/2m)² summed per community)."""
    return _labelprop3_ctes() + """,
  j AS (SELECT u.src, u.dst, a.label AS la, b.label AS lb
        FROM und u JOIN lp3 a ON a.vertex = u.src JOIN lp3 b ON b.vertex = u.dst),
  m2 AS (SELECT count(*)::DOUBLE AS m2 FROM j),
  degmass AS (SELECT la, count(*)::DOUBLE AS dc FROM j GROUP BY la),
  inner_c AS (SELECT la, count(*)::DOUBLE AS ic FROM j WHERE la = lb GROUP BY la),
  per AS (SELECT d.la,
                 coalesce(i.ic, 0.0) / (SELECT m2 FROM m2)
                 - (d.dc / (SELECT m2 FROM m2)) ^ 2 AS q
          FROM degmass d LEFT JOIN inner_c i ON i.la = d.la)
SELECT count(*)::BIGINT AS n_communities, round(sum(q), 6) AS modularity FROM per
"""


def graph_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance of the 3-round LPA communities —
    φ(C) = cut/min(vol, 2m−vol); volume and cut exact LONGs, φ the only
    float (NULL for a whole-graph community).  The twin extends the
    unrolled lp3 CTEs with the identical aggregation."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.labelprop import (
        conductance,
        label_propagation,
    )

    e = _order_edges(spark, sf_dir)
    labels = label_propagation(spark, e, max_supersteps=3).state
    return conductance(spark, e, labels).orderBy("community")


def _conductance_sql() -> str:
    return _labelprop3_ctes() + """,
  j AS (SELECT u.src, u.dst, a.label AS la, b.label AS lb
        FROM und u JOIN lp3 a ON a.vertex = u.src JOIN lp3 b ON b.vertex = u.dst),
  m2 AS (SELECT count(*)::BIGINT AS m2 FROM j),
  per AS (SELECT la AS community, count(*)::BIGINT AS volume,
                 sum(CASE WHEN la != lb THEN 1 ELSE 0 END)::BIGINT AS cut
          FROM j GROUP BY la)
SELECT community, volume, cut,
       CASE WHEN least(volume, (SELECT m2 FROM m2) - volume) > 0
            THEN round(cut / least(volume, (SELECT m2 FROM m2) - volume), 6)
       END AS conductance
FROM per ORDER BY community
"""


_RF_REPOS, _RF_FPR, _RF_IMPORTS, _RF_SEED = 60, 25, 3, 42
_RF_N = _RF_REPOS * _RF_FPR


def _repo_files_gated(spark: SparkSession):
    """The north-rule input table (BASELINE.json input_hint: repo, path,
    commit, lang, content) at a fixed gate size, plus its derived graph."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.edges import derive_edges, with_content_sha
    from parallel_betweenness_centrality_using_bsp_spark.sources.repo_files import generate_repo_files

    rf = with_content_sha(
        generate_repo_files(
            spark,
            n_repos=_RF_REPOS,
            files_per_repo=_RF_FPR,
            imports_per_file=_RF_IMPORTS,
            seed=_RF_SEED,
        )
    )
    vertices, edges = derive_edges(rf)
    return rf, vertices, edges


def repo_import_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule input end-to-end under the oracle gate: the repo_files
    table generated IN-PLAN (pure column expressions over spark.range — the
    same generator scales partition-parallel to billions of files), per-row
    sha256(content) attached (the input_hint's invariant), import edges
    derived by regexp extraction + module-resolution joins
    (operators/edges.py::derive_edges), aggregated per source repo.

    The DuckDB twin rebuilds the SAME content strings from the generator's
    closed form and derives the edge set ARITHMETICALLY (no regexp) — an
    independent derivation, so a hash match proves the whole
    content → regexp → resolution → dense-id pipeline, not merely that two
    copies of one implementation agree."""
    rf, vertices, edges = _repo_files_gated(spark)
    vmap = vertices.select("vertex", "repo")
    per_edge = edges.join(
        vmap.select(F.col("vertex").alias("src"), F.col("repo").alias("repo_src")), "src"
    ).join(
        vmap.select(F.col("vertex").alias("dst"), F.col("repo").alias("repo_dst")), "dst"
    )
    edge_agg = per_edge.groupBy(F.col("repo_src").alias("repo")).agg(
        F.count(F.lit(1)).alias("n_edges_out"),
        F.count(F.when(F.col("repo_src") != F.col("repo_dst"), 1)).alias("n_cross_repo"),
        F.countDistinct(
            F.when(F.col("repo_src") != F.col("repo_dst"), F.col("repo_dst"))
        ).alias("n_dst_repos"),
    )
    sha_agg = rf.groupBy("repo").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.countDistinct("content_sha256").alias("n_unique_sha"),
        F.min("content_sha256").alias("content_fp"),
    )
    return sha_agg.join(edge_agg, "repo").orderBy("repo")


def repo_import_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-imported modules of the derived import graph, reported by
    MODULE NAME (so the oracle checks the vertex dictionary / module-key
    resolution, not just dense-id arithmetic)."""
    rf, vertices, edges = _repo_files_gated(spark)
    indeg = edges.groupBy(F.col("dst").alias("vertex")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        indeg.join(vertices.select("vertex", "module"), "vertex")
        .select("module", "in_degree")
        .orderBy(F.desc("in_degree"), F.asc("module"))
        .limit(20)
    )


def _repo_files_ctes() -> str:
    """DuckDB CTEs replicating the repo_files generator CLOSED-FORM (content
    strings byte-identical to sources/repo_files.py; edge set derived
    arithmetically from the import-target formula, not by regexp)."""
    a, b = 2654435761, 40503
    n, fpr, imp, seed = _RF_N, _RF_FPR, _RF_IMPORTS, _RF_SEED
    return f"""
WITH idx AS (SELECT range::BIGINT AS i FROM range(0, {n})),
  tgt AS (
    SELECT idx.i AS i, jr.j AS j,
           (idx.i * {a} + jr.j * {b} + {seed}) % {n} AS t0
    FROM idx, (SELECT range::BIGINT AS j FROM range(1, {imp + 1})) jr
  ),
  bumped AS (
    SELECT i, j, CASE WHEN t0 = i THEN (t0 + 1) % {n} ELSE t0 END AS t
    FROM tgt
  ),
  contents AS (
    SELECT idx.i AS i,
           'org' || (idx.i // {fpr})::VARCHAR || '/proj' || (idx.i // {fpr})::VARCHAR AS repo,
           sha256(
             '\"\"\"module org' || (idx.i // {fpr})::VARCHAR || '.proj'
               || (idx.i // {fpr})::VARCHAR || '.mod_' || (idx.i % {fpr})::VARCHAR
               || ' (seed {seed})\"\"\"' || chr(10)
             || (SELECT string_agg(
                   'import org' || (bb.t // {fpr})::VARCHAR || '.proj'
                     || (bb.t // {fpr})::VARCHAR || '.mod_' || (bb.t % {fpr})::VARCHAR,
                   chr(10) ORDER BY bb.j)
                 FROM bumped bb WHERE bb.i = idx.i)
             || chr(10) || chr(10) || 'def fn_' || (idx.i % {fpr})::VARCHAR || '(x):'
             || chr(10) || '    return x * ' || ((idx.i * 31 + 7) % 1000)::VARCHAR
             || chr(10)
           ) AS content_sha256
    FROM idx
  ),
  redges AS (
    SELECT DISTINCT i AS src_i, t AS dst_i FROM bumped WHERE i != t
  )"""


def _repo_import_graph_sql() -> str:
    fpr = _RF_FPR
    return _repo_files_ctes() + f""",
  edge_agg AS (
    SELECT 'org' || (src_i // {fpr})::VARCHAR || '/proj' || (src_i // {fpr})::VARCHAR AS repo,
           count(*) AS n_edges_out,
           count(CASE WHEN src_i // {fpr} != dst_i // {fpr} THEN 1 END) AS n_cross_repo,
           count(DISTINCT CASE WHEN src_i // {fpr} != dst_i // {fpr}
                               THEN dst_i // {fpr} END) AS n_dst_repos
    FROM redges GROUP BY 1
  ),
  sha_agg AS (
    SELECT repo, count(*) AS n_files,
           count(DISTINCT content_sha256) AS n_unique_sha,
           min(content_sha256) AS content_fp
    FROM contents GROUP BY repo
  )
SELECT s.repo, s.n_files, s.n_unique_sha, s.content_fp,
       e.n_edges_out, e.n_cross_repo, e.n_dst_repos
FROM sha_agg s JOIN edge_agg e USING (repo)
ORDER BY s.repo
"""


def _repo_import_degree_topk_sql() -> str:
    fpr = _RF_FPR
    return _repo_files_ctes() + f"""
SELECT 'org' || (dst_i // {fpr})::VARCHAR || '.proj' || (dst_i // {fpr})::VARCHAR
         || '.mod_' || (dst_i % {fpr})::VARCHAR AS module,
       count(*) AS in_degree
FROM redges GROUP BY 1
ORDER BY in_degree DESC, module ASC
LIMIT 20
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational support operators
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_orders": q3_top_orders,
        "q5_region_revenue": q5_region_revenue,
        "top_customer_per_nation": top_customer_per_nation,
        "customers_without_orders": customers_without_orders,
        "urgent_order_customers": urgent_order_customers,
        "nation_set_ops": nation_set_ops,
        "events_daily": events_daily,
        "events_windowed": events_windowed,
        "events_followup_counts": events_followup_counts,
        "events_asof_prev": events_asof_prev,
        "user_sessions": user_sessions,
        "part_brand_stats": part_brand_stats,
        "lineitem_topk": lineitem_topk,
        "orders_rollup": orders_rollup,
        "events_cube": events_cube,
        # text + dedup
        "doc_token_stats": doc_token_stats,
        "doc_pmi_bigrams": doc_pmi_bigrams,
        "doc_repetition_topk": doc_repetition_topk,
        "doc_decontamination": doc_decontamination,
        "orders_pivot_status": orders_pivot_status,
        "orders_unpivot_status": orders_unpivot_status,
        "events_value_quantiles": events_value_quantiles,
        "events_rolling_stats": events_rolling_stats,
        "user_value_scd2": user_value_scd2,
        "event_type_cooccurrence": event_type_cooccurrence,
        "doc_unigram_surprisal": doc_unigram_surprisal,
        "doc_lang_id": doc_lang_id,
        "doc_quality_topk": doc_quality_topk,
        "doc_tfidf_top3": doc_tfidf_top3,
        "doc_sample_stats": doc_sample_stats,
        "training_mix_by_lang": training_mix_by_lang,
        "doc_pack_sequences": doc_pack_sequences,
        "doc_encoded_sample": doc_encoded_sample,
        "exact_dup_groups": exact_dup_groups,
        "jaccard_pairs_exact": jaccard_pairs_exact,
        "training_set_selection": training_set_selection,
        "training_set_selection_gopher": training_set_selection_gopher,
        "minhash_neardup": minhash_neardup,
        "simhash_neardup": simhash_neardup,
        # similarity
        "similarity_topk": similarity_topk,
        "embedding_neardup_exact": embedding_neardup_exact,
        "ann_topk": ann_topk,
        "ann_topk_indexed": ann_topk_indexed,
        "embedding_kmeans": embedding_kmeans,
        "doc_bm25_topk": doc_bm25_topk,
        # graph kernels
        "graph_degree_topk": graph_degree_topk,
        "graph_assortativity": graph_assortativity,
        "graph_reciprocity": graph_reciprocity,
        "graph_triangle_count": graph_triangle_count,
        "graph_effective_diameter": graph_effective_diameter,
        "graph_neighborhood_function": graph_neighborhood_function,
        "graph_anf_sketch": graph_anf_sketch,
        "graph_harmonic_sketch": graph_harmonic_sketch,
        "graph_triangles_incremental": graph_triangles_incremental,
        "graph_components": graph_components,
        "graph_components_incremental": graph_components_incremental,
        "graph_components_star": graph_components_star,
        "graph_pagerank5": graph_pagerank5,
        "graph_pagerank5_weighted": graph_pagerank5_weighted,
        "graph_katz3": graph_katz3,
        "graph_eigenvector4": graph_eigenvector4,
        "graph_simrank2": graph_simrank2,
        "graph_square_count": graph_square_count,
        "graph_degree_gini": graph_degree_gini,
        "doc_zipf_slope": doc_zipf_slope,
        "graph_ppr5": graph_ppr5,
        "graph_labelprop3": graph_labelprop3,
        "graph_labelprop3_weighted": graph_labelprop3_weighted,
        "graph_modularity": graph_modularity,
        "graph_conductance": graph_conductance,
        "graph_community_centroids": graph_community_centroids,
        "graph_betweenness": graph_betweenness,
        "graph_betweenness_bsp": graph_betweenness_bsp,
        "graph_betweenness_weighted_csr": graph_betweenness_weighted_csr,
        "graph_betweenness_weighted": graph_betweenness_weighted,
        "graph_edge_betweenness": graph_edge_betweenness,
        "graph_closeness": graph_closeness,
        "graph_closeness_weighted": graph_closeness_weighted,
        "graph_harmonic_weighted": graph_harmonic_weighted,
        "graph_mis": graph_mis,
        "graph_matching3": graph_matching3,
        "graph_coloring3": graph_coloring,
        "graph_shortest_path": graph_shortest_path,
        "graph_linkpred": graph_linkpred,
        "graph_louvain2": graph_louvain2,
        "graph_louvain2_weighted": graph_louvain2_weighted,
        "graph_bfs_dist": graph_bfs_dist,
        "graph_diameter_sweep": graph_diameter_sweep,
        "graph_sssp": graph_sssp,
        "graph_sssp_delta": graph_sssp_delta,
        "graph_hits3": graph_hits3,
        "graph_salsa3": graph_salsa3,
        "graph_boruvka2": graph_boruvka2,
        "graph_motif_open2path": graph_motif_open2path,
        "events_funnel": events_funnel,
        "events_hot_vertices": events_hot_vertices,
        "graph_rank_correlation": graph_rank_correlation,
        "graph_adamic_adar": graph_adamic_adar,
        "graph_clustering": graph_clustering,
        "graph_scc": graph_scc,
        "graph_condensation": graph_condensation,
        "graph_harmonic": graph_harmonic,
        "graph_eccentricity": graph_eccentricity,
        "graph_kcore": graph_kcore,
        "graph_coreness3": graph_coreness3,
        "graph_wl3": graph_wl3,
        "graph_profile_summary": graph_profile_summary,
        "graph_degree_histogram": graph_degree_histogram,
        "graph_ktruss": graph_ktruss,
        "graph_neighbor_features": graph_neighbor_features,
        "graph_neighbor_features_2hop": graph_neighbor_features_2hop,
        "graph_random_walks": graph_random_walks,
        "graph_skipgram_top": graph_skipgram_top,
        "graph_node2vec3": graph_node2vec3,
        "graph_egonet2": graph_egonet2,
        "dedup_kept_count": dedup_kept_count,
        # multimodal
        "multimodal_pipeline": multimodal_pipeline,
        # north-rule input table (repo, path, commit, lang, content) end-to-end
        "repo_import_graph": repo_import_graph,
        "repo_import_degree_topk": repo_import_degree_topk,
    }


def oracle_sql() -> dict[str, str]:
    from parallel_betweenness_centrality_using_bsp_spark.streaming.sessions import (
        sessionize_batch_sql,
    )

    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey LIMIT 10
        """,
        "q5_region_revenue": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM region JOIN nation ON n_regionkey = r_regionkey
                        JOIN customer ON c_nationkey = n_nationkey
                        JOIN orders ON o_custkey = c_custkey
                        JOIN lineitem ON l_orderkey = o_orderkey
                        JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name
        """,
        "top_customer_per_nation": """
            SELECT c_nationkey, rk, c_custkey, acctbal FROM (
                SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal,
                       row_number() OVER (PARTITION BY c_nationkey
                                          ORDER BY c_acctbal DESC, c_custkey) AS rk
                FROM customer)
            WHERE rk <= 3 ORDER BY c_nationkey, rk
        """,
        "customers_without_orders": """
            SELECT c_nationkey, count(*) AS n_customers
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            GROUP BY c_nationkey ORDER BY c_nationkey
        """,
        "urgent_order_customers": """
            SELECT c_custkey, c_nationkey FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders
                                WHERE o_orderpriority = '1-URGENT')
            ORDER BY c_custkey
        """,
        "nation_set_ops": """
            WITH c AS (SELECT c_nationkey AS nationkey FROM customer),
                 s AS (SELECT s_nationkey AS nationkey FROM supplier)
            SELECT DISTINCT nationkey, 'customers_only' AS tag FROM c
            WHERE nationkey NOT IN (SELECT nationkey FROM s)
            UNION ALL
            SELECT nationkey, 'both' AS tag
            FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
            ORDER BY tag, nationkey
        """,
        "events_daily": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
                   count(*) AS n_events,
                   round(sum(value), 6) AS sum_value,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2 ORDER BY day, event_type
        """,
        "events_windowed": """
            SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M') AS win_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY win_start, event_type
        """,
        "user_sessions": sessionize_batch_sql() + " ORDER BY user_id, session_seq",
        "events_asof_prev": """
            SELECT a.event_id,
                   epoch_us(b.ts) AS prev_us,
                   epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
            FROM (SELECT * FROM events WHERE event_type = 'purchase') a
            ASOF JOIN (SELECT user_id, ts FROM events) b
              ON a.user_id = b.user_id AND b.ts < a.ts
            ORDER BY a.event_id
        """,
        "events_followup_counts": """
            SELECT a.event_id AS a_id, count(b.ts) AS n_follow
            FROM events a LEFT JOIN events b
              ON a.user_id = b.user_id
             AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
            WHERE a.event_id < 500
            GROUP BY a.event_id ORDER BY a_id
        """,
        "part_brand_stats": """
            SELECT p_brand, count(*) AS n_parts,
                   count(DISTINCT p_type) AS n_types,
                   max(p_size) AS max_size,
                   round(sum(p_retailprice), 2) AS sum_price
            FROM part WHERE p_type NOT LIKE 'SMALL%'
            GROUP BY p_brand ORDER BY p_brand
        """,
        "orders_rollup": """
            SELECT coalesce(o_orderpriority, 'ALL') AS priority,
                   coalesce(o_orderstatus, 'ALL') AS status,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
            ORDER BY priority, status
        """,
        "events_cube": """
            SELECT coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
                   coalesce(event_type, 'ALL') AS event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY CUBE (strftime(date_trunc('day', ts), '%Y-%m-%d'), event_type)
            ORDER BY day, event_type
        """,
        "lineitem_topk": """
            SELECT l_orderkey, l_linenumber,
                   round(l_extendedprice, 2) AS price,
                   l_returnflag || '-' || l_linestatus AS flag
            FROM lineitem
            ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 15
        """,
        "doc_token_stats": f"""
            SELECT doc_id,
                   {_NTOK} AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
                   length(text) AS n_chars_live
            FROM documents WHERE doc_id < 200 ORDER BY doc_id
        """,
        "doc_pmi_bigrams": _pmi_sql(),
        "doc_repetition_topk": r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS t FROM documents),
base AS (
  SELECT doc_id, len(t)::BIGINT AS n_tokens, len(list_distinct(t))::BIGINT AS n_distinct
  FROM toks WHERE len(t) >= 1),
bg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
         i -> t[i] || ' ' || t[i+1])) AS g
  FROM toks WHERE len(t) >= 2),
topbg AS (
  SELECT doc_id, max(c) AS top_c FROM (
    SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g) GROUP BY doc_id),
tg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM toks WHERE len(t) >= 3),
duptg AS (
  SELECT doc_id, sum(c)::BIGINT AS dup_c FROM (
    SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g)
  WHERE c >= 2 GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
  round(n_distinct / n_tokens::DOUBLE, 6) AS distinct_ratio,
  round(least(1.0, coalesce(top_c, 0) * 2 / n_tokens::DOUBLE), 6) AS top_bigram_frac,
  round(least(1.0, coalesce(dup_c, 0) * 3 / n_tokens::DOUBLE), 6) AS dup_trigram_frac
FROM base b LEFT JOIN topbg USING (doc_id) LEFT JOIN duptg USING (doc_id)
ORDER BY dup_trigram_frac DESC, top_bigram_frac DESC, doc_id LIMIT 40
""",
        "doc_decontamination": r"""
WITH norm AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
tr AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, length(s)-19),
           i -> substr(s, i::INT, 20))) AS g
    FROM norm WHERE doc_id % 20 != 0 AND length(s) >= 20)),
ev AS (
  SELECT DISTINCT g FROM (
    SELECT unnest(list_transform(generate_series(1, length(s)-19),
           i -> substr(s, i::INT, 20))) AS g
    FROM norm WHERE doc_id % 20 = 0 AND length(s) >= 20)),
per AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM tr GROUP BY doc_id),
hits AS (
  SELECT doc_id, count(*)::BIGINT AS n_hits FROM tr
  WHERE g IN (SELECT g FROM ev) GROUP BY doc_id)
SELECT p.doc_id, p.n_grams, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
  round(coalesce(h.n_hits, 0) / p.n_grams::DOUBLE, 6) AS overlap_frac
FROM per p LEFT JOIN hits h USING (doc_id)
ORDER BY n_hits DESC, doc_id LIMIT 50
""",
        "orders_pivot_status": """
            SELECT year(o_orderdate) AS o_year,
                   round(sum(CASE WHEN o_orderstatus = 'F'
                             THEN o_totalprice::DECIMAL(18,2) END)::DOUBLE, 2) AS rev_f,
                   round(sum(CASE WHEN o_orderstatus = 'O'
                             THEN o_totalprice::DECIMAL(18,2) END)::DOUBLE, 2) AS rev_o,
                   round(sum(CASE WHEN o_orderstatus = 'P'
                             THEN o_totalprice::DECIMAL(18,2) END)::DOUBLE, 2) AS rev_p
            FROM orders GROUP BY 1 ORDER BY o_year
        """,
        "orders_unpivot_status": """
            WITH piv AS (
                SELECT year(o_orderdate) AS o_year,
                       round(sum(CASE WHEN o_orderstatus = 'F'
                                 THEN o_totalprice::DECIMAL(18,2) END)::DOUBLE, 2) AS rev_f,
                       round(sum(CASE WHEN o_orderstatus = 'O'
                                 THEN o_totalprice::DECIMAL(18,2) END)::DOUBLE, 2) AS rev_o,
                       round(sum(CASE WHEN o_orderstatus = 'P'
                                 THEN o_totalprice::DECIMAL(18,2) END)::DOUBLE, 2) AS rev_p
                FROM orders GROUP BY 1)
            SELECT o_year, status, revenue FROM (
                SELECT o_year, 'rev_f' AS status, rev_f AS revenue FROM piv
                UNION ALL SELECT o_year, 'rev_o', rev_o FROM piv
                UNION ALL SELECT o_year, 'rev_p', rev_p FROM piv)
            WHERE revenue IS NOT NULL ORDER BY o_year, status
        """,
        "events_value_quantiles": """
            SELECT event_type, count(*) AS n,
                   round(quantile_cont(value, 0.25), 6) AS p25,
                   round(quantile_cont(value, 0.50), 6) AS p50,
                   round(quantile_cont(value, 0.75), 6) AS p75
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "user_value_scd2": """
            SELECT user_id, event_id, round(value, 6) AS value,
                   ts AS valid_from,
                   lead(ts, 1) OVER w AS valid_to,
                   lead(ts, 1) OVER w IS NULL AS is_current
            FROM events WHERE user_id < 20
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ORDER BY user_id, valid_from, event_id
        """,
        "event_type_cooccurrence": """
            WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
            SELECT a.event_type AS a, b.event_type AS b,
                   count(*)::BIGINT AS n_users
            FROM ut a JOIN ut b ON a.user_id = b.user_id
                 AND a.event_type < b.event_type
            GROUP BY 1, 2 ORDER BY a, b
        """,
        "events_rolling_stats": """
            SELECT user_id, event_id,
                   round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS roll_avg4,
                   round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         6) AS delta_prev
            FROM events WHERE user_id < 40 ORDER BY user_id, event_id
        """,
        "doc_unigram_surprisal": r"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS term
                FROM documents),
            tc AS (SELECT term, count(*)::DOUBLE AS cnt FROM toks GROUP BY term),
            tot AS (SELECT count(*)::DOUBLE AS n FROM toks)
            SELECT t.doc_id, count(*)::BIGINT AS n_tok,
                   round(avg(-ln(c.cnt / (SELECT n FROM tot))), 6) AS surprisal
            FROM toks t JOIN tc c ON c.term = t.term
            GROUP BY t.doc_id ORDER BY t.doc_id
        """,
        "doc_lang_id": f"""
            SELECT {_lang_case()} AS lang_pred, count(*) AS n_docs
            FROM documents GROUP BY 1 ORDER BY lang_pred
        """,
        "doc_quality_topk": f"""
            SELECT doc_id, {_quality_sql()} AS quality
            FROM documents ORDER BY quality DESC, doc_id LIMIT 25
        """,
        "training_mix_by_lang": _training_mix_sql(),
        "doc_pack_sequences": _pack_sequences_sql(),
        "doc_encoded_sample": _encoded_sample_sql(),
        "doc_sample_stats": f"""
            WITH sampled AS (
                SELECT {_lang_case()} AS lang, {_NTOK} AS n_tok
                FROM documents
                WHERE (('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 15))::BIGINT
                       % 10000) < 2000)
            SELECT lang, count(*) AS n_docs,
                   round(quantile_cont(n_tok, 0.5), 6) AS median_tok,
                   round(quantile_cont(n_tok, 0.9), 6) AS p90_tok
            FROM sampled GROUP BY lang ORDER BY lang
        """,
        "doc_tfidf_top3": r"""
            WITH toks AS (
                SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS term
                FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(DISTINCT doc_id) AS dfq FROM toks GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS nd FROM toks),
            scored AS (
                SELECT doc_id, term, tf,
                       round(tf * ln((SELECT nd FROM n) / dfq), 6) AS tfidf
                FROM tf JOIN dfreq USING (term)),
            ranked AS (
                SELECT doc_id, term, tf, tfidf,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY tfidf DESC, term ASC) AS rk
                FROM scored WHERE doc_id < 50)
            SELECT doc_id, rk, term, tf, tfidf
            FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk
        """,
        "exact_dup_groups": r"""
            SELECT sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
                   count(*) AS n_docs, min(doc_id) AS keep_id
            FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fp
        """,
        "jaccard_pairs_exact": f"""
            WITH sh AS (
                SELECT doc_id, {_SHINGLES} AS sh
                FROM (SELECT doc_id, {_TOKENS} AS t, text FROM documents WHERE doc_id < 100)
            ),
            pairs AS (
                SELECT a.doc_id AS a, b.doc_id AS b, a.sh AS sa, b.sh AS sb
                FROM sh a JOIN sh b ON b.doc_id - a.doc_id IN (1, 2)
            )
            SELECT a, b,
                   round(CASE WHEN len(list_distinct(sa || sb)) = 0 THEN 0.0
                         ELSE len(list_intersect(sa, sb))::DOUBLE
                              / len(list_distinct(sa || sb)) END, 6) AS jaccard
            FROM pairs ORDER BY a, b
        """,
        "training_set_selection": f"""
            WITH filtered AS (
                SELECT doc_id, text FROM documents
                WHERE ({_lang_case()}) = 'en' AND ({_quality_sql()}) >= 0.5
            ),
            keep AS (
                SELECT min(doc_id) AS doc_id
                FROM filtered
                GROUP BY sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
            )
            SELECT doc_id FROM keep ORDER BY doc_id
        """,
        "training_set_selection_gopher": rf"""
            WITH toks AS (
              SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS t
              FROM documents),
            base AS (
              SELECT doc_id, len(t)::BIGINT AS n_tokens FROM toks WHERE len(t) >= 1),
            bg AS (
              SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
                     i -> t[i] || ' ' || t[i+1])) AS g
              FROM toks WHERE len(t) >= 2),
            topbg AS (
              SELECT doc_id, max(c) AS top_c FROM (
                SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
              GROUP BY doc_id),
            tg AS (
              SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
              FROM toks WHERE len(t) >= 3),
            duptg AS (
              SELECT doc_id, sum(c)::BIGINT AS dup_c FROM (
                SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g)
              WHERE c >= 2 GROUP BY doc_id),
            rep_keep AS (
              SELECT b.doc_id
              FROM base b LEFT JOIN topbg USING (doc_id) LEFT JOIN duptg USING (doc_id)
              WHERE b.n_tokens >= 10
                AND least(1.0, coalesce(dup_c, 0) * 3 / n_tokens::DOUBLE) <= 0.2
                AND least(1.0, coalesce(top_c, 0) * 2 / n_tokens::DOUBLE) <= 0.5),
            filtered AS (
                SELECT doc_id, text FROM documents
                WHERE doc_id IN (SELECT doc_id FROM rep_keep)
                  AND ({_lang_case()}) = 'en' AND ({_quality_sql()}) >= 0.5
            ),
            keep AS (
                SELECT min(doc_id) AS doc_id
                FROM filtered
                GROUP BY sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
            )
            SELECT doc_id FROM keep ORDER BY doc_id
        """,
        "similarity_topk": """
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos
            FROM embeddings e
            CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id != 0
            ORDER BY cos DESC, e.vec_id LIMIT 10
        """,
        "embedding_neardup_exact": """
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 200 AND b.vec_id < 200
              AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.3
            ORDER BY a, b
        """,
        "graph_degree_topk": f"""
            WITH {_EDGES_SQL}
            SELECT src AS vertex, count(*) AS degree FROM edges
            GROUP BY src ORDER BY degree DESC, vertex LIMIT 20
        """,
        "graph_assortativity": _assortativity_sql(),
        "graph_reciprocity": _reciprocity_sql(),
        "graph_triangle_count": f"""
            WITH {_EDGES_SQL}
            SELECT count(*) AS n_triangles
            FROM und e1 JOIN und e2 ON e1.dst = e2.src
                        JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst
            WHERE e1.src < e1.dst AND e2.src < e2.dst
        """,
        "graph_anf_sketch": _anf_sql(),
        "graph_harmonic_sketch": _harmonic_sketch_sql(),
        "graph_neighborhood_function": _nf_sql(),
        "graph_effective_diameter": _eff_diameter_sql(),
        # the incremental path must land on the identical full-graph number
        "graph_triangles_incremental": f"""
            WITH {_EDGES_SQL}
            SELECT count(*) AS n_triangles
            FROM und e1 JOIN und e2 ON e1.dst = e2.src
                        JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst
            WHERE e1.src < e1.dst AND e2.src < e2.dst
        """,
        "graph_components": f"""
            WITH RECURSIVE {_EDGES_SQL},
            reach(vertex, lab) AS (
                SELECT vertex, vertex FROM vertices
                UNION
                SELECT u.dst, r.lab FROM reach r JOIN und u ON u.src = r.vertex
            )
            SELECT vertex, min(lab) AS label FROM reach GROUP BY vertex ORDER BY vertex
        """,
        "graph_components_star": f"""
            WITH RECURSIVE {_EDGES_SQL},
            reach(vertex, lab) AS (
                SELECT vertex, vertex FROM vertices
                UNION
                SELECT u.dst, r.lab FROM reach r JOIN und u ON u.src = r.vertex
            )
            SELECT vertex, min(lab) AS label FROM reach GROUP BY vertex ORDER BY vertex
        """,
        # incremental == cold on the full graph by construction (hash-min
        # labels are the per-component min vertex id, independent of the
        # base/delta split) — the twin is the identical full-graph query
        "graph_components_incremental": f"""
            WITH RECURSIVE {_EDGES_SQL},
            reach(vertex, lab) AS (
                SELECT vertex, vertex FROM vertices
                UNION
                SELECT u.dst, r.lab FROM reach r JOIN und u ON u.src = r.vertex
            )
            SELECT vertex, min(lab) AS label FROM reach GROUP BY vertex ORDER BY vertex
        """,
        "graph_pagerank5": _pagerank5_sql(),
        "graph_pagerank5_weighted": _pagerank5_weighted_sql(),
        "graph_katz3": _katz3_sql(),
        "graph_eigenvector4": _eigenvector4_sql(),
        "graph_simrank2": _simrank2_sql(),
        "graph_square_count": _square_count_sql(),
        "graph_degree_gini": _degree_gini_sql(),
        "doc_zipf_slope": _zipf_slope_sql(),
        "graph_ppr5": _pagerank5_sql(_PPR_TELE_SQL),
        "graph_labelprop3": _labelprop3_sql(),
        "graph_labelprop3_weighted": _labelprop3_weighted_sql(),
        "graph_modularity": _modularity_sql(),
        "graph_conductance": _conductance_sql(),
        "graph_community_centroids": _community_centroids_sql(),
        "graph_betweenness": _betweenness_sql(),
        "graph_betweenness_bsp": _betweenness_sql(),
        "graph_edge_betweenness": _edge_betweenness_sql(),
        "graph_closeness": _closeness_sql(),
        "graph_closeness_weighted": _closeness_weighted_sql(),
        "graph_harmonic_weighted": _harmonic_weighted_sql(),
        "graph_mis": _mis_sql(),
        "graph_matching3": _matching_sql(),
        "graph_coloring3": _coloring_sql(),
        "graph_shortest_path": _shortest_path_sql(),
        "graph_linkpred": _linkpred_sql(),
        "graph_betweenness_weighted": _betweenness_weighted_sql(),
        "graph_betweenness_weighted_csr": _betweenness_weighted_sql(),
        "graph_louvain2": _louvain2_sql(),
        "graph_louvain2_weighted": _louvain2_sql(weighted=True),
        "graph_bfs_dist": f"""
            WITH RECURSIVE {_EDGES_SQL},
            src AS (SELECT vertex AS s FROM vertices WHERE vertex < 8),
            walk(s, v, d) AS (
                SELECT s, s, 0 FROM src
                UNION
                SELECT w.s, u.dst, w.d + 1 FROM walk w JOIN und u ON u.src = w.v
                WHERE w.d < {BC_MAX_DEPTH}
            )
            SELECT s AS source, v AS vertex, min(d)::INT AS dist
            FROM walk GROUP BY s, v ORDER BY source, vertex
        """,
        "graph_kcore": _kcore_sql(),
        "graph_coreness3": _coreness_sql(),
        "graph_wl3": _wl_sql(),
        "graph_profile_summary": _graph_profile_sql(),
        "graph_degree_histogram": _DEGREE_HISTOGRAM_SQL.format(edges=_EDGES_SQL),
        "graph_ktruss": _ktruss_sql(),
        "graph_diameter_sweep": _diameter_sweep_sql(),
        "graph_eccentricity": f"""
            WITH RECURSIVE {_EDGES_SQL},
            src AS (SELECT vertex AS s FROM vertices WHERE vertex < 8),
            walk(s, v, d) AS (
                SELECT s, s, 0 FROM src
                UNION
                SELECT w.s, u.dst, w.d + 1 FROM walk w JOIN und u ON u.src = w.v
                WHERE w.d < {BC_MAX_DEPTH}
            ),
            dist AS (SELECT s, v, min(d) AS d FROM walk GROUP BY s, v)
            SELECT s AS source, max(d)::INT AS ecc, count(*) AS n_reached
            FROM dist GROUP BY s ORDER BY source
        """,
        "graph_harmonic": f"""
            WITH RECURSIVE {_EDGES_SQL},
            src AS (SELECT vertex AS s FROM vertices WHERE vertex < 8),
            walk(s, v, d) AS (
                SELECT s, s, 0 FROM src
                UNION
                SELECT w.s, u.dst, w.d + 1 FROM walk w JOIN und u ON u.src = w.v
                WHERE w.d < {BC_MAX_DEPTH}
            ),
            dist AS (SELECT s, v, min(d) AS d FROM walk GROUP BY s, v)
            SELECT v AS vertex, round(sum(1.0 / d), 6) AS harmonic
            FROM dist WHERE d > 0 GROUP BY v ORDER BY vertex
        """,
        "graph_sssp": f"""
            WITH RECURSIVE {_EDGES_SQL},
            wund AS (SELECT src, dst, (src + dst) % 7 + 1 AS w FROM und),
            src AS (SELECT vertex AS s FROM vertices WHERE vertex < 8),
            walk(s, v, d, hops) AS (
                SELECT s, s, 0::BIGINT, 0 FROM src
                UNION
                SELECT w.s, u.dst, w.d + u.w, w.hops + 1
                FROM walk w JOIN wund u ON u.src = w.v
                WHERE w.hops < {SSSP_HOPS}
            )
            SELECT s AS source, v AS vertex, min(d) AS dist
            FROM walk GROUP BY s, v ORDER BY source, vertex
        """,
        "graph_sssp_delta": _sssp_delta_sql(),
        "graph_neighbor_features_2hop": f"""
            WITH {_EDGES_SQL},
            f AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            ex AS (SELECT e.dst AS vertex, g.i - 1 AS pos, f.v[g.i] AS val
                   FROM edges e JOIN f ON f.vec_id = e.src
                   CROSS JOIN generate_series(1, 4) AS g(i)),
            h1 AS (SELECT vertex, pos, avg(val) AS m FROM ex GROUP BY vertex, pos),
            h2 AS (SELECT e.dst AS vertex, h1.pos, avg(h1.m) AS m
                   FROM edges e JOIN h1 ON h1.vertex = e.src
                   GROUP BY e.dst, h1.pos)
            SELECT vertex, pos, round(m, 6) AS nbr_mean
            FROM h2 ORDER BY vertex, pos
        """,
        "graph_random_walks": _random_walks_sql(),
        "graph_skipgram_top": _skipgram_sql(),
        "graph_node2vec3": _node2vec3_sql(),
        "graph_egonet2": _egonet2_sql(),
        "graph_hits3": _hits3_sql(),
        "graph_salsa3": _salsa3_sql(),
        "graph_boruvka2": _boruvka_sql(),
        "graph_motif_open2path": _MOTIF_SQL.format(edges=_EDGES_SQL),
        "events_funnel": _funnel_sql(),
        "events_hot_vertices": _hot_vertices_sql(),
        "graph_rank_correlation": _spearman_sql(),
        "graph_adamic_adar": _adamic_adar_sql(),
        "graph_clustering": _clustering_sql(),
        "graph_scc": _scc_sql(),
        "graph_condensation": _condensation_sql(),
        "graph_neighbor_features": f"""
            WITH {_EDGES_SQL},
            f AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            ex AS (SELECT e.dst AS vertex, g.i - 1 AS pos, f.v[g.i] AS val
                   FROM edges e JOIN f ON f.vec_id = e.src
                   CROSS JOIN generate_series(1, 8) AS g(i))
            SELECT vertex, pos, round(avg(val), 6) AS nbr_mean
            FROM ex GROUP BY vertex, pos ORDER BY vertex, pos
        """,
        "dedup_kept_count": r"""
            SELECT count(DISTINCT sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS n_kept
            FROM documents
        """,
        "minhash_neardup": _minhash_md5_sql(),
        "simhash_neardup": _simhash_md5_sql(),
        "ann_topk": _ann_quantized_sql(),
        # the indexed serving path answers the identical query (same
        # quantized planes ⇒ same probe set ⇒ same top-k) — the SQL twin is
        # shared; the Spark side differs by reading the pruned index
        "ann_topk_indexed": _ann_quantized_sql(),
        "embedding_kmeans": _kmeans_sql(),
        "doc_bm25_topk": _bm25_sql(),
        "multimodal_pipeline": """
            WITH assets AS (
                SELECT range AS id,
                       ['image','audio','video'][(range % 3) + 1] AS media_type,
                       repeat(sha256('asset:42:' || range::VARCHAR), 4) AS payload
                FROM range(300)),
            dec AS (SELECT media_type, length(payload) AS n_bytes,
                           sha256(payload) AS h
                    FROM assets)
            SELECT media_type, count(*) AS n_assets,
                   sum(n_bytes)::BIGINT AS total_bytes,
                   count(DISTINCT h) AS n_unique
            FROM dec GROUP BY media_type ORDER BY media_type
        """,
        "repo_import_graph": _repo_import_graph_sql(),
        "repo_import_degree_topk": _repo_import_degree_topk_sql(),
    }
