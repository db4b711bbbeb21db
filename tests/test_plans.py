"""Physical-plan regression tests: the optimizations the engine relies on at
scale must actually appear in the plans (predicate pushdown into parquet
scans, broadcast of small join sides, TakeOrderedAndProject for top-k,
AQE-stable partitioning for compute-heavy UDF stages)."""
from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark):
    l = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_quantity"
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan reads only the needed columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_small_dimension_join_broadcasts(spark):
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    q = c.join(n, c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in _plan(q)


def test_topk_plans_take_ordered(spark):
    l = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = l.orderBy(F.desc("l_extendedprice")).limit(5)
    assert "TakeOrderedAndProject" in _plan(q)


def test_groupby_has_partial_aggregation(spark):
    """Map-side combine (the BSP message combiner) must be present."""
    l = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = l.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = _plan(q)
    # two HashAggregates around the exchange = partial + final
    assert plan.count("HashAggregate") >= 2


def test_csr_sweep_partition_count_survives_aqe(spark):
    """Regression for the AQE partition-coalescing trap: a tiny source table
    feeding a compute-heavy kernel must keep its explicit partition count,
    not be merged into one task (which serialized the whole sweep)."""
    src = spark.createDataFrame([(i,) for i in range(256)], "source long")
    reparted = src.repartition(16)

    def fn(batches):
        for pdf in batches:
            yield pdf

    out = reparted.mapInPandas(fn, "source long")
    counts = out.withColumn("pid", F.spark_partition_id()).groupBy("pid").count()
    n_parts = counts.count()
    assert n_parts == 16, f"expected 16 kernel tasks, got {n_parts}"


def test_anti_join_for_unvisited_check(spark):
    """The frontier 'unvisited' filter is an anti join, not a NOT IN scan."""
    a = spark.range(100).select(F.col("id").alias("vertex"))
    b = spark.range(50).select(F.col("id").alias("vertex"))
    q = a.join(b, "vertex", "left_anti")
    plan = _plan(q)
    assert "LeftAnti" in plan


def test_no_driver_edge_materialization():
    """Scale contract (r1 verdict #1/#3): no full-edge-table or full-vertex
    driver collect in the betweenness/BFS paths — the CSR is built executor-
    side from a parquet artifact and default sources stream batch-by-batch."""
    import inspect

    from parallel_betweenness_centrality_using_bsp_spark.operators import betweenness, bfs

    for mod in (betweenness, bfs):
        src = inspect.getsource(mod)
        assert ".toPandas(" not in src
        assert "vertices.collect()" not in src


def test_asof_prev_single_window_pass(spark):
    """asof_prev must plan as union + ONE window (single shuffle on the
    key), never a range join; semantics: strictly-before, per key."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.asof import asof_prev

    anchors = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 200), (3, 20, 150)], "id long, k long, ts long"
    )
    refs = spark.createDataFrame(
        [(10, 100), (10, 150), (10, 199), (20, 150), (20, 149)], "k long, ts long"
    )
    out = asof_prev(anchors, refs, ["k"], "ts", "prev")
    got = {r["id"]: r["prev"] for r in out.collect()}
    # id=1: refs at ts=100 are NOT strictly before 100 -> null
    # id=2: greatest ref < 200 is 199; id=3: ref 150 excluded (==), 149 wins
    assert got == {1: None, 2: 199, 3: 149}
    plan = _plan(out)
    final = plan.split("== Initial Plan ==")[0]  # AQE prints the tree twice
    # exactly one Window node and one shuffle in the final tree, no join
    assert final.count("Window (") == 1, final
    assert final.count("Exchange (") == 1, final
    assert "Join" not in final  # no range/theta join anywhere


def test_bucketed_state_skips_state_side_exchange(spark, tmp_path):
    """superstep_loop's bucket_state_by: the materialized state table is
    bucketed+sorted on the merge keys, so the next round's full-outer merge
    plans with NO exchange on the state side (the cand side keeps its one
    shuffle) — the 100 TB layout for per-round state rewrites."""
    import re

    from pyspark.sql import functions as F

    from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import _materialize

    state = spark.range(2000).select(
        (F.col("id") % 4).alias("source"), F.col("id").alias("vertex"),
        (F.col("id") % 97).alias("dist"), F.lit(False).alias("improved"),
    )
    out, n, _ = _materialize(
        spark, state, str(tmp_path / "ck"), "planprobe", "r1", 0,
        bucket_state_by=["source", "vertex"],
    )
    assert n == 2000
    cand = (
        spark.range(300)
        .select((F.col("id") % 4).alias("source"), F.col("id").alias("vertex"),
                (F.col("id") % 7).alias("dist"))
        .groupBy("source", "vertex").agg(F.min("dist").alias("dist"))
    )
    st, c = out.alias("s"), cand.alias("c")
    m = st.join(c, ["source", "vertex"], "full_outer").select(
        "source", "vertex", F.coalesce(F.col("c.dist"), F.col("s.dist")).alias("dist")
    )
    plan = m._sc._jvm.PythonSQLUtils.explainString(m._jdf.queryExecution(), "formatted")
    assert "SelectedBucketsCount" in plan          # the state scan IS bucketed
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1  # cand side only
    spark.sql("DROP TABLE IF EXISTS ss_planprobe_r1_0")


def test_bucketed_pagerank_drops_stale_tables_and_skips_state_exchange(spark, tmp_path):
    """bucket_state=True threaded through a real kernel: (a) after the run
    only the FINAL superstep's bucket table remains registered (the loop
    drops each previous round's entry once its last reader — the
    convergence check — has run), (b) the returned state scans as a
    bucketed table, so a vertex-keyed aggregation over it plans with NO
    Exchange — the state-side shuffle every un-bucketed round pays."""
    from pyspark.sql import functions as F

    from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import pagerank
    from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import random_uniform_graph

    e = random_uniform_graph(spark, 500, 2500, seed=5)
    run = pagerank(
        spark, e, tol=0, max_supersteps=3,
        checkpoint_dir=str(tmp_path / "ck"), bucket_state=True, run_id="bkt",
    )
    tables = [r.tableName for r in spark.sql("SHOW TABLES").collect()
              if r.tableName.startswith("ss_pagerank_bkt")]
    assert tables == ["ss_pagerank_bkt_3"]

    agg = run.state.groupBy("vertex").agg(F.sum("pr").alias("s"))
    plan = agg._sc._jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "formatted"
    )
    assert "SelectedBucketsCount" in plan
    assert "Exchange" not in plan
    # resume contract intact: the parquet files of EVERY superstep remain
    from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import latest_checkpoint

    step, _ = latest_checkpoint(spark, str(tmp_path / "ck"), "pagerank", "bkt")
    assert step == 3
    spark.sql("DROP TABLE IF EXISTS ss_pagerank_bkt_3")


def test_incremental_triangles_filters_base_by_broadcast_semi_join(spark):
    """The incremental triangle kernel must reduce the base by a BROADCAST
    endpoint semi-join BEFORE any exchange — the base is scanned once and
    never shuffled at its own size (the delta-sized-shuffles contract)."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.triangles import (
        incremental_triangles,
    )
    from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import random_uniform_graph

    g = random_uniform_graph(spark, 500, 3000, seed=1)
    d = random_uniform_graph(spark, 500, 60, seed=2)
    plan = (
        incremental_triangles(spark, g, d, materialize=False)
        ._jdf.queryExecution()
        .toString()
    )
    # the endpoint filter compiles to a broadcast LeftSemi on src
    assert "LeftSemi, BuildRight" in plan
    assert "BroadcastExchange" in plan


def test_derive_edges_plan_reuses_materialized_dictionary(spark):
    """The edge-resolution query must consume the MATERIALIZED ranked
    dictionary (checkpointed scan), not re-derive it: no ranking Window and
    no distinct-dictionary HashAggregate may appear inside the edge plan.
    Guards the densify double-shuffle fix — before it, the whole
    distinct -> range-shuffle -> sort lineage ran once per resolution
    branch and once more for the counts pass."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.edges import derive_edges
    from parallel_betweenness_centrality_using_bsp_spark.sources.repo_files import (
        generate_repo_files,
    )

    rf = generate_repo_files(spark, n_repos=10, files_per_repo=10)
    _, edges = derive_edges(rf)
    plan = _plan(edges)
    assert "Window" not in plan
    # the dictionary enters as materialized rows, not a recomputed subtree
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
