import os

from pyspark.sql import functions as F

from parallel_betweenness_centrality_using_bsp_spark.operators.components import connected_components
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import symmetrize
from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import (
    latest_checkpoint,
    superstep_loop,
)
from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import edge_df

from tests.oracles import df_to_dict, oracle_components


def _cc_step(und):
    def step(state, _k):
        msgs = state.join(und, state.vertex == und.src).select(
            und.dst.alias("vertex"), "label"
        )
        return (
            state.select("vertex", "label")
            .unionByName(msgs)
            .groupBy("vertex")
            .agg(F.min("label").alias("label"))
        )

    return step


def test_checkpointed_run_writes_state_and_metrics(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    edges = [(i, i + 1) for i in range(8)]
    run = connected_components(
        spark, edge_df(spark, edges), checkpoint_dir=ckpt, run_id="run1"
    )
    assert run.converged
    base = os.path.join(ckpt, "connected_components", "run1")
    steps = [d for d in os.listdir(base) if d.startswith("superstep=")]
    assert len(steps) == run.supersteps + 1  # + initial state
    metrics = spark.read.parquet(f"{ckpt}/_metrics")
    assert metrics.count() == run.supersteps
    assert set(metrics.columns) == {
        "run_id", "algo", "superstep", "partition_id", "rows", "wall_ms", "lineage",
    }
    import json

    rows = metrics.orderBy("superstep").collect()
    lin = json.loads(rows[-1]["lineage"])
    assert lin["algo"] == "connected_components" and lin["state_path"].endswith(
        f"superstep={run.supersteps}"
    )
    assert lin["parent_path"].endswith(f"superstep={run.supersteps - 1}")
    # first superstep's parent is the initial-state checkpoint; the key must
    # be PRESENT (to_json is configured not to drop null fields, so the
    # lineage schema is stable for consumers that index it unconditionally)
    first = json.loads(rows[0]["lineage"])
    assert first["parent_path"].endswith("superstep=0")


def test_resume_mid_iteration_identical_result(spark, tmp_path):
    """Kill after superstep k, relaunch from the checkpoint, final labels
    identical to an uninterrupted run (north_rule resumability)."""
    ckpt = str(tmp_path / "ckpt2")
    edges = [(i, i + 1) for i in range(12)]  # path: needs many min-label rounds
    und = symmetrize(edge_df(spark, edges)).persist()
    vertices = und.select(F.col("src").alias("vertex")).distinct()
    initial = vertices.withColumn("label", F.col("vertex"))

    # uninterrupted reference run
    full = superstep_loop(
        spark, initial, _cc_step(und), algo="cc", max_supersteps=30, run_id="full",
        converge_on=F.sum("label"), converged_fn=lambda prev, s: prev == s,
    )

    # interrupted run: only 3 supersteps, checkpointed
    superstep_loop(
        spark, initial, _cc_step(und), algo="cc", max_supersteps=3,
        checkpoint_dir=ckpt, run_id="crash",
    )
    found = latest_checkpoint(spark, ckpt, "cc", "crash")
    assert found is not None
    k, state = found
    assert k == 3

    resumed = superstep_loop(
        spark, state, _cc_step(und), algo="cc", max_supersteps=30,
        checkpoint_dir=ckpt, run_id="crash", start_step=k,
        converge_on=F.sum("label"), converged_fn=lambda prev, s: prev == s,
    )
    assert df_to_dict(resumed.state, "vertex", "label") == df_to_dict(
        full.state, "vertex", "label"
    ) == oracle_components(edges)
    und.unpersist()


def test_stats_healthy_survives_int_str_conversion_cap():
    """Regression: the stats guard must classify estimates PAST CPython's
    4300-digit int->str limit as pathological instead of dying inside its
    own health check.  A 2-reference kernel's estimate triples its digit
    count per round, leapfrogging the 2000..4300 window in one superstep —
    the old len(str(..)) check raised ValueError there and the catch-all
    returned the frame unguarded (the measured sf0.001 weighted-Brandes
    stall)."""
    from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import (
        _STATS_BIT_CAP,
        _stats_healthy,
    )

    assert _stats_healthy(lambda: 10**100)
    assert _stats_healthy(lambda: (1 << _STATS_BIT_CAP) - 1)
    # one bit past the cap -> rebuild
    assert not _stats_healthy(lambda: 1 << _STATS_BIT_CAP)
    # 5778 digits: str() would raise ValueError here; bit_length must not
    assert not _stats_healthy(lambda: 10**5777)
    # the py4j read itself raising (decimal parse past the same cap) IS the
    # pathological verdict
    def boom():
        raise ValueError("Exceeds the limit (4300 digits) for integer string conversion")

    assert not _stats_healthy(boom)


def test_guard_stats_raises_plan_failures_and_skips_connect_frames():
    """A failure while reading or rebuilding the plan stats must surface:
    swallowing it would return the frame unguarded and let the size
    estimate compound.  Only a frame with no JVM handle (Spark Connect) is
    passed through unchanged."""
    import pytest
    from py4j.protocol import Py4JError

    from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import guard_stats

    class _BrokenJdf:
        def queryExecution(self):
            raise Py4JError("queryExecution failed")

    class _ClassicFrame:
        _jdf = _BrokenJdf()

    with pytest.raises(Py4JError):
        guard_stats(_ClassicFrame())

    connect_frame = object()
    assert guard_stats(connect_frame) is connect_frame


def test_checkpointed_cc_job_budget_and_observed_rows(spark, tmp_path):
    """Each barrier is one job wave that also yields the row count and the
    convergence aggregate: a checkpointed 2-superstep CC call stays within
    the measured job count (the read-back counts, schema inference,
    label-sum collects and createDataFrame metrics rows took 25), and the
    observed ``rows`` are exact with and without a checkpoint dir."""
    from tests.test_betweenness import _jobs_run

    e = edge_df(spark, [(i, i + 1) for i in range(8)])
    run, jobs = _jobs_run(
        spark,
        lambda: connected_components(
            spark, e, checkpoint_dir=str(tmp_path / "ck"), max_supersteps=2
        ),
    )
    assert run.supersteps == 2
    assert jobs <= 10, jobs
    assert [m["rows"] for m in run.metrics] == [9, 9]
    local = connected_components(spark, e, max_supersteps=2)
    assert [m["rows"] for m in local.metrics] == [9, 9]


def test_metrics_row_append_runs_no_spark_job(spark, tmp_path):
    """The ``_metrics`` row is written from the driver: no Spark job, and
    ``spark.read.parquet`` still reads the 7 typed columns and the lineage
    keys.  Re-writing a superstep's row (a resumed run) replaces it."""
    import json

    from tests.test_betweenness import _jobs_run
    from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import (
        _append_metrics_row,
    )

    ckpt = str(tmp_path / "ck")
    _, jobs = _jobs_run(
        spark, lambda: _append_metrics_row(spark, ckpt, "probe", "r/1", 1, 7, 1.5)
    )
    assert jobs == 0
    _append_metrics_row(spark, ckpt, "probe", "r/1", 2, 5, 1.5)
    _append_metrics_row(spark, ckpt, "probe", "r/1", 2, 4, 2.5)
    metrics = spark.read.parquet(f"{ckpt}/_metrics")
    assert metrics.dtypes == [
        ("run_id", "string"), ("algo", "string"), ("superstep", "int"),
        ("partition_id", "int"), ("rows", "bigint"), ("wall_ms", "double"),
        ("lineage", "string"),
    ]
    got = metrics.orderBy("superstep").collect()
    assert [(r["superstep"], r["rows"]) for r in got] == [(1, 7), (2, 4)]
    lin = json.loads(got[1]["lineage"])
    assert set(lin) == {
        "algo", "run_id", "superstep", "partition_id", "state_path", "parent_path",
    }
    assert lin["state_path"].endswith("superstep=2")
    assert lin["parent_path"].endswith("superstep=1")
