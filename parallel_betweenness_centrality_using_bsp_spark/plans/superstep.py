"""The shared BSP superstep driver.

One BSP superstep == one Spark job wave: the shuffle inside ``step_fn``'s
plan is the communication phase, and the materialization at the end of each
iteration is the barrier (the reference's ``bsp_sync()`` analogue — see
SURVEY.md §3.1; the reference checkout is empty so no file:line citations
are possible, per SURVEY.md §0).

Responsibilities handled once, here, for the iterative kernels that run on
it: connected components (hash-min and star contraction), label
propagation, one-level Louvain, PageRank, Katz, eigenvector centrality,
HITS, SALSA, SimRank, SSSP, k-core, coreness, k-truss, WL refinement,
random walks (uniform and node2vec), k-hop feature means, Luby MIS,
Jones-Plassmann coloring, greedy matching, ANF sketches, DAG
longest-path layers, BFS levels and BSP Brandes' backward phase (steps
that record every level they are handed), both phases of weighted
Brandes, Borůvka MSF (a step that runs a CC), SCC (an outer peel loop
whose step runs two inner loops) and k-means.

* **Lineage control** — iterative DataFrame loops grow the logical plan
  without bound; every superstep either writes state to parquet and reads it
  back (``checkpoint_dir`` set: reliable + resumable) or eagerly
  ``localCheckpoint``s (fast path for tests).
* **One job per barrier** — that write or checkpoint is the superstep's only
  job outside ``step_fn``'s plan: the state's row count and the kernel's
  convergence aggregate are ``DataFrame.observe`` metrics of it.
* **Resumability** — with ``checkpoint_dir`` set, state lands at
  ``{dir}/{algo}/{run_id}/superstep={k}/`` and ``latest_checkpoint`` finds
  the newest complete superstep so a crashed run restarts mid-iteration.
* **Metrics + lineage rows** — per superstep a metrics row
  ``(run_id, algo, superstep, partition_id, rows, wall_ms)`` (``partition_id``
  is -1: the row covers the whole state) plus its lineage JSON lands in
  ``{dir}/_metrics`` as a one-row parquet file written from the driver, so
  ``spark.read.parquet(f"{dir}/_metrics")`` reads every row.

At 100 TB the parquet checkpoint is the only viable option — localCheckpoint
pins executor memory/disk and is lost on executor failure; the parquet state
is partitioned by superstep so partition pruning makes resume reads cheap.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass
class SuperstepRun:
    """Result of a superstep loop: final state + per-superstep metrics."""

    state: DataFrame
    supersteps: int
    run_id: str
    converged: bool
    metrics: list[dict] = field(default_factory=list)

    @property
    def wall_ms_total(self) -> float:
        return sum(m["wall_ms"] for m in self.metrics)


def _state_path(checkpoint_dir: str, algo: str, run_id: str, step: int) -> str:
    return f"{checkpoint_dir}/{algo}/{run_id}/superstep={step}"


def _step_name(algo: str, run_id: str, step: int) -> str:
    """Superstep k's bucket-table name and ``_metrics`` file stem."""
    safe = "".join(c if c.isalnum() else "_" for c in run_id)
    return f"ss_{algo}_{safe}_{step}"


def _materialize(
    spark: SparkSession,
    df: DataFrame,
    checkpoint_dir: str | None,
    algo: str,
    run_id: str,
    step: int,
    bucket_state_by: list[str] | None = None,
    converge_on: Column | None = None,
) -> tuple[DataFrame, int, Any]:
    """Barrier: force computation in ONE Spark job, cut lineage, return
    ``(state, rows, converge_value)``.

    The job is the state's parquet write when ``checkpoint_dir`` is set and
    an eager ``localCheckpoint`` otherwise.  The state's row count and the
    ``converge_on`` aggregate (``None`` when not given) are
    ``DataFrame.observe`` metrics of that same job, and the written state is
    read back under ``df.schema``, so the barrier runs no count job and no
    schema-inference job of its own.

    With ``bucket_state_by`` (and a checkpoint_dir), state lands as a
    BUCKETED+SORTED parquet table on those columns instead of a plain
    parquet directory: the next superstep's join/aggregation on the state
    keys then reads the bucketing metadata and skips the state-side
    exchange AND sort entirely (plan-tested) — the layout a 100 TB run
    wants, since the state is rewritten every superstep anyway and the
    exchange it saves is state-sized.  The files still live under the
    same ``superstep=k`` path, so ``latest_checkpoint`` resume is
    unchanged (a resumed first read is merely unbucketed).
    """
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")]
    if converge_on is not None:
        aggs.append(converge_on.alias("converge"))
    df = df.observe(obs, *aggs)
    if checkpoint_dir is None:
        out = guard_stats(df.localCheckpoint(eager=True))
    else:
        path = _state_path(checkpoint_dir, algo, run_id, step)
        if bucket_state_by:
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
            name = _step_name(algo, run_id, step)
            (
                df.write.mode("overwrite")
                .format("parquet")
                .option("path", path)
                .bucketBy(n, *bucket_state_by)
                .sortBy(*bucket_state_by)
                .saveAsTable(name)
            )
            out = spark.table(name)
        else:
            df.write.mode("overwrite").parquet(path)
            out = spark.read.schema(df.schema).parquet(path)
    seen = obs.get
    return out, seen["rows"], seen.get("converge")


_METRICS_SCHEMA = pa.schema([
    ("run_id", pa.string()),
    ("algo", pa.string()),
    ("superstep", pa.int32()),
    ("partition_id", pa.int32()),
    ("rows", pa.int64()),
    ("wall_ms", pa.float64()),
    ("lineage", pa.string()),
])


def _append_metrics_row(
    spark: SparkSession,
    checkpoint_dir: str,
    algo: str,
    run_id: str,
    step: int,
    rows: int,
    wall_ms: float,
) -> None:
    """Append superstep ``step``'s metrics row, with its lineage JSON, to
    ``{dir}/_metrics`` as its own one-row parquet file, built on the driver
    with pyarrow: no Spark job.

    The file goes through the Hadoop FileSystem API (any store the state
    checkpoints live on), under a hidden name that Spark's reader skips,
    then is renamed into place, so a reader never sees a partial file.  A
    re-run superstep (resume) replaces its own row."""
    lineage = {
        "algo": algo,
        "run_id": run_id,
        "superstep": step,
        "partition_id": -1,
        "state_path": _state_path(checkpoint_dir, algo, run_id, step),
        "parent_path": _state_path(checkpoint_dir, algo, run_id, step - 1),
    }
    row = {
        "run_id": run_id,
        "algo": algo,
        "superstep": step,
        "partition_id": -1,
        "rows": rows,
        "wall_ms": wall_ms,
        "lineage": json.dumps(lineage, separators=(",", ":")),
    }
    sink = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist([row], schema=_METRICS_SCHEMA), sink)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    name = _step_name(algo, run_id, step)
    final = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/_metrics/{name}.parquet")
    tmp = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/_metrics/.{name}.parquet.tmp")
    fs = final.getFileSystem(conf)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(sink.getvalue().to_pybytes()))
    finally:
        out.close()
    fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise OSError(f"could not commit metrics row {final.toString()}")


# Catalyst's simple size estimate (sizeInBytes) multiplies through joins as
# an unbounded BigInt and SURVIVES localCheckpoint (the LogicalRDD inherits
# the child plan's stats).  A step plan that references the checkpointed
# state k>=2 times therefore multiplies k state-sized estimates every
# superstep: the estimate's DIGIT COUNT grows k× per round, and planner
# time goes exponential — profiled to BigInteger.multiplyToomCook3 eating
# whole seconds per superstep by round ~20 of a 2-reference kernel, with
# logical plan and RDD lineage both perfectly flat.  Single-reference
# kernels grow ~3 digits/round (linear, harmless), so a high digit
# threshold distinguishes the two: 2000 digits, in bits (2000 / log10(2)) —
# compared via int.bit_length(), which has no conversion limit at any size
_STATS_BIT_CAP = 6644


def _stats_healthy(read_size) -> bool:
    """True iff the plan-size estimate produced by the zero-arg callable
    ``read_size`` is below the pathological-growth cap.

    bit_length, not len(str(..)): CPython 3.11 caps int->str conversion at
    4300 digits, and a plan whose estimate grows 3x per round LEAPFROGS the
    2000..4300-digit window in one step — str() then raises, the old
    catch-all returned the frame UNGUARDED, and the estimate compounded to
    millions of digits (minutes of BigInteger.toString per py4j read: the
    measured sf0.001 weighted-Brandes stall).  The py4j transfer itself
    parses a decimal string, so past the same limit ``read_size()`` raises
    before bit_length can run — that ValueError IS the pathological
    verdict, not an excuse to skip the rebuild."""
    try:
        return int(read_size()).bit_length() <= _STATS_BIT_CAP
    except ValueError:
        return False


def guard_stats(out: DataFrame) -> DataFrame:
    """Rebuild ``out`` over its own checkpointed rows when its inherited
    size estimate has gone pathological, resetting stats to the default.
    The rebuilt frame loses partitioning metadata (one state-side exchange
    in the next superstep's join — re-established at the following
    materialization), which is why this fires only past the cap and not on
    every superstep.  Chain as ``.localCheckpoint(eager=True)
    .transform(guard_stats)`` on any state that re-enters its own next
    round's plan."""
    jdf = getattr(out, "_jdf", None)
    if jdf is None:
        # non-classic sessions (Connect) expose no plan internals; the
        # checkpointed frame itself is always correct
        return out
    jqe = jdf.queryExecution()
    if _stats_healthy(lambda: jqe.optimizedPlan().stats().sizeInBytes()):
        return out
    fresh = out.sparkSession._jsparkSession.internalCreateDataFrame(
        jqe.toRdd(), jdf.schema(), False
    )
    return DataFrame(fresh, out.sparkSession)


def superstep_loop(
    spark: SparkSession,
    initial_state: DataFrame,
    step_fn: Callable[[DataFrame, int], DataFrame],
    *,
    algo: str,
    max_supersteps: int = 100,
    converge_on: Column | None = None,
    converged_fn: Callable[[Any, Any], bool] | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    start_step: int = 0,
    bucket_state_by: list[str] | None = None,
) -> SuperstepRun:
    """Run ``state <- step_fn(state, k)`` until convergence or max_supersteps.

    Convergence is observed, not queried: ``converge_on`` is an aggregate
    Column over the state (e.g. ``F.sum("label")``), taken on every barrier
    job the loop runs, and ``converged_fn(prev_value, value) -> bool`` runs
    on the driver after each superstep.  ``prev_value`` is the value at the
    previous barrier — on the first superstep the initial state's, or, when
    resuming from a checkpoint, the checkpoint's (one aggregate job).  Give
    both or neither; neither runs exactly ``max_supersteps``.
    ``start_step`` > 0 resumes counting from a checkpoint (see
    ``latest_checkpoint``).

    Each superstep's metrics are its state's row count (``rows``, observed
    on the barrier job in both modes) and ``wall_ms``, which covers the
    whole superstep: the step, the barrier, the convergence test and, when
    checkpointed, the ``_metrics`` row (that row records the time up to its
    own write).
    """
    if (converge_on is None) != (converged_fn is None):
        raise ValueError("converge_on and converged_fn go together")
    run_id = run_id or uuid.uuid4().hex[:12]
    prev = None
    if start_step > 0 and checkpoint_dir is not None:
        # Resuming: initial_state IS the superstep=start_step checkpoint —
        # rewriting its own source path would delete files mid-read.  Its
        # convergence value costs one aggregate job here, so a run resumed
        # from a converged checkpoint stops after one superstep.
        state = initial_state
        if converge_on is not None:
            prev = state.agg(converge_on).first()[0]
    else:
        state, _, prev = _materialize(
            spark, initial_state, checkpoint_dir, algo, run_id, start_step,
            bucket_state_by=bucket_state_by, converge_on=converge_on,
        )
    metrics: list[dict] = []
    converged = False
    step = start_step

    for step in range(start_step + 1, start_step + max_supersteps + 1):
        t0 = time.monotonic()
        new_state, n_rows, value = _materialize(
            spark,
            step_fn(state, step),
            checkpoint_dir,
            algo,
            run_id,
            step,
            bucket_state_by=bucket_state_by,
            converge_on=converge_on,
        )
        converged = converged_fn is not None and converged_fn(prev, value)
        prev = value
        if bucket_state_by and checkpoint_dir is not None:
            # The previous superstep's bucket table is an EXTERNAL table:
            # dropping it removes only the metastore entry (unbounded growth
            # across long/repeated runs otherwise) while the parquet files
            # under superstep=k-1 stay on disk for latest_checkpoint resume.
            # Safe only now — the step was its last reader.  The FINAL
            # step's table survives: run.state is a catalog read so
            # downstream joins still see the bucketing.
            spark.sql(
                f"DROP TABLE IF EXISTS `{_step_name(algo, run_id, step - 1)}`"
            )
        if checkpoint_dir is not None:
            _append_metrics_row(
                spark, checkpoint_dir, algo, run_id, step, n_rows,
                (time.monotonic() - t0) * 1000.0,
            )
        metrics.append({
            "run_id": run_id,
            "algo": algo,
            "superstep": step,
            "rows": n_rows,
            "wall_ms": (time.monotonic() - t0) * 1000.0,
        })
        state = new_state
        if converged:
            break

    return SuperstepRun(
        state=state,
        supersteps=step - start_step,
        run_id=run_id,
        converged=converged,
        metrics=metrics,
    )


def latest_checkpoint(
    spark: SparkSession, checkpoint_dir: str, algo: str, run_id: str
) -> tuple[int, DataFrame] | None:
    """Newest complete superstep for (algo, run_id), or None.

    Completeness = parquet commit marker (_SUCCESS) present, so a superstep
    that died mid-write is never resumed from.  Listing goes through the
    Hadoop FileSystem API, so resume works on any supported store (s3a://,
    gs://, hdfs://, file://), not just the local filesystem.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    base = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/{algo}/{run_id}")
    fs = base.getFileSystem(conf)
    if not fs.exists(base):
        return None
    steps = []
    for status in fs.listStatus(base):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("superstep="):
            marker = jvm.org.apache.hadoop.fs.Path(status.getPath(), "_SUCCESS")
            if fs.exists(marker):
                steps.append(int(name.split("=", 1)[1]))
    if not steps:
        return None
    k = max(steps)
    return k, spark.read.parquet(_state_path(checkpoint_dir, algo, run_id, k))
