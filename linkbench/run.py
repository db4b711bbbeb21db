"""Link-graph benchmark: one workload per run on ``local[nproc]``.

    python3 linkbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The run

1. sets up ``SETUPS`` times — start the Spark session (first time only),
   generate and materialise the seeded input, run one untimed warm-up pass —
   and reports the median as ``setup_s``; the oracles for the output checks
   are computed once, outside that time;
2. runs warm passes until ``--seconds`` of pass time is measured and at
   least ``MIN_PASSES`` untraced passes ran, checking every pass's outputs;
3. prints each metric with its unit and, as the last line, one JSON object
   ``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
   metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``.

With ``--trace 1`` passes alternate between untraced and traced.  A traced
pass records a span and the Spark job/task counts around every public
engine call; the spans are written to ``.linkbench/results/`` when the run
ends.  Everything a run writes stays under ``.linkbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2
MIN_PASSES = 1
# Stop a run early once this many passes in a row have failed.
MAX_FAILED_PASSES = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(rundir: str, nproc: int) -> None:
    """Environment the Spark JVM and its Python workers inherit: workers
    import the engine from the checkout root, and Spark's scratch space and
    every temp file land inside the checkout."""
    tmp = os.path.join(rundir, "tmp")
    local = os.path.join(rundir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")  # inputs are tiny; keep the heap small
    # every JVM the launcher starts: temp files in the checkout and no
    # hsperfdata performance-counter files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(rundir: str, nproc: int):
    from parallel_betweenness_centrality_using_bsp_spark.session import get_spark

    spark = get_spark(
        "linkbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(rundir, "warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(args) -> int:
    from report import RunRecord, result_line, summary_lines
    from tracing import Probe, SparkCounters, Tracer, self_time_metrics
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    results = os.path.join(ROOT, ".linkbench", "results")
    rundir = os.path.join(ROOT, ".linkbench", "runs", run_id)
    os.makedirs(results, exist_ok=True)
    configure_env(rundir, nproc)
    env = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
           "seconds": args.seconds, "trace": args.trace,
           "loadavg_start": list(os.getloadavg())}

    wl = WORKLOADS[args.workload](args.seed, os.path.join(rundir, "work"))
    tracer = Tracer(run_id, enabled=bool(args.trace))
    untraced = Probe(Tracer(run_id, enabled=False))
    rec = RunRecord()
    spark = inputs = None
    try:
        for i in range(SETUPS):
            first_span = len(tracer.spans)
            values: dict[str, float] = {}
            t0 = time.monotonic()
            with tracer.span("setup", i=i):
                if spark is None:
                    with tracer.span("session"):
                        spark = start_session(rundir, nproc)
                    values["session.start_s"] = time.monotonic() - t0
                    counters = SparkCounters(spark.sparkContext)
                else:
                    inputs.unpersist()
                probe = Probe(tracer, counters)
                t1 = time.monotonic()
                with probe.call("sources", "generate"):
                    inputs, rows = wl.generate(spark)
                values["sources.generate_s"] = time.monotonic() - t1
                values["sources.rows"] = rows
                t_oracle = time.monotonic()
                if i == 0:
                    wl.prepare_oracle(spark, inputs)
                t_oracle = time.monotonic() - t_oracle
                wl.release(wl.run_pass(spark, inputs, untraced, k=-1 - i))
            rec.setup_s.append(time.monotonic() - t0 - t_oracle)
            values.update({k: v for k, v in probe.values.items() if not k.endswith("_s")})
            values.update(self_time_metrics(tracer.spans[first_span:]))
            rec.setup_values.append(values)

        measured = 0.0
        failed_in_a_row = 0
        for k in itertools.count():
            if measured >= args.seconds and len(rec.job_s) >= MIN_PASSES and (
                rec.traced_job_s or not args.trace
            ):
                break
            traced = bool(args.trace) and k % 2 == 1
            first_span = len(tracer.spans)
            probe = Probe(tracer, counters) if traced else untraced
            t0 = time.monotonic()
            try:
                with probe.tracer.span("pass", k=k):
                    out = wl.run_pass(spark, inputs, probe, k)
                dt = time.monotonic() - t0
                rec.record_checks(wl.check(spark, out))
                wl.release(out)
            except Exception as exc:  # a failed operation is counted, not fatal
                measured += time.monotonic() - t0
                rec.record_failure(f"pass {k}: {type(exc).__name__}: {exc}")
                failed_in_a_row += 1
                if failed_in_a_row >= MAX_FAILED_PASSES:
                    break
                continue
            measured += dt
            failed_in_a_row = 0
            if traced:
                rec.traced_job_s.append(dt)
                rec.record_calls(probe.calls, probe.calls_with_failed_tasks)
                rec.layer_values.append(
                    {**probe.values, **self_time_metrics(tracer.spans[first_span:])}
                )
            else:
                rec.job_s.append(dt)
                rec.supersteps_per_s.append(out.supersteps / dt)
                for key, n in out.work.items():
                    rec.work_per_s.setdefault(key, []).append(n / dt)
        rec.setup_values[0]["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(rundir, ignore_errors=True)

    env["loadavg_end"] = list(os.getloadavg())
    print("env " + json.dumps(env))
    for line in summary_lines(args.workload, rec, bool(args.trace)):
        print(line)
    for what in rec.failures:
        print(f"FAILED {what}")
    if args.trace:
        tracer.write(os.path.join(results, f"{run_id}.spans.jsonl"))
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump({"env": env, "setup_s": rec.setup_s, "job_s": rec.job_s,
                   "traced_job_s": rec.traced_job_s, "failures": rec.failures}, f, indent=1)
    print(result_line(rec, bool(args.trace)), flush=True)
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import parallel_betweenness_centrality_using_bsp_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
