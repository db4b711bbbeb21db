"""spark-submit entry point for the link-graph engine (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Usage (cluster):
    spark-submit --py-files engine.zip jobs/run_algo.py \
        --algo pagerank --edges s3://bucket/edges/ \
        --checkpoint-dir s3://bucket/ckpt --output s3://bucket/out

Usage (sandbox):
    python jobs/run_algo.py --algo pagerank --synthetic 10000:100000 \
        --output /tmp/pr_out

``--edges`` reads a parquet (src long, dst long) edge table;
``--repo-files`` instead derives edges from a repo_files parquet
(repo, path, commit, lang, content) via import extraction;
``--synthetic N:M`` generates a seeded uniform graph with N vertices,
M edges.  ``--resume RUN_ID`` restarts a checkpointed run from its newest
complete superstep.
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parallel_betweenness_centrality_using_bsp_spark.operators.edges import endpoints  # noqa: E402


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description="link-graph engine job runner")
    ap.add_argument("--algo", required=True,
                    choices=["pagerank", "components", "labelprop", "triangles",
                             "betweenness", "betweenness-bsp", "derive-edges",
                             "sssp", "kcore", "coreness", "wl", "walks", "hits", "salsa",
                             "betweenness-weighted", "betweenness-weighted-csr",
                             "louvain", "katz", "node2vec", "egonet", "msf",
                             "anf", "triangles-incremental", "eigenvector",
                             "simrank"])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--edges", help="parquet path of (src,dst) edge table")
    src.add_argument("--repo-files", help="parquet path of repo_files table")
    src.add_argument("--synthetic", help="N_VERTICES:N_EDGES seeded uniform graph")
    ap.add_argument("--output", required=True, help="output parquet path")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--run-id", default=None, help="name this run (for later --resume)")
    ap.add_argument("--resume", default=None,
                    help="run_id of an existing checkpointed run to restart "
                         "from its newest complete superstep")
    ap.add_argument("--max-supersteps", type=int, default=30)
    ap.add_argument("--tol", type=float, default=1e-8)
    ap.add_argument("--sources", type=int, default=64,
                    help="betweenness source-sample size")
    ap.add_argument("--cc-algorithm", default="hashmin",
                    choices=["hashmin", "starcontract"],
                    help="components backend: hashmin (O(diameter) rounds) or "
                         "starcontract (O(log n) rounds)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--k", type=int, default=3, help="k-core threshold")
    ap.add_argument("--walk-length", type=int, default=10)
    ap.add_argument("--alpha", type=float, default=0.1, help="katz attenuation")
    ap.add_argument("--p", type=int, default=1, help="node2vec return parameter")
    ap.add_argument("--q", type=int, default=1, help="node2vec in-out parameter")
    ap.add_argument("--seed-vertex", type=int, default=0, help="egonet center")
    ap.add_argument("--radius", type=int, default=2, help="egonet radius")
    ap.add_argument("--bucket-state", action="store_true",
                    help="land each superstep's state as a parquet table "
                         "bucketed on its join keys (requires "
                         "--checkpoint-dir; pagerank/components/labelprop/"
                         "hits/sssp) — removes the state-side exchange per "
                         "round, the cluster-scale layout")
    return ap


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)

    from parallel_betweenness_centrality_using_bsp_spark.operators import edges as edge_ops
    from parallel_betweenness_centrality_using_bsp_spark.session import get_spark

    spark = get_spark(f"job-{args.algo}")

    if args.edges:
        e = spark.read.parquet(args.edges).select("src", "dst")
    elif args.repo_files:
        rf = spark.read.parquet(args.repo_files)
        vertices, e = edge_ops.derive_edges(rf)
        if args.algo == "derive-edges":
            e.write.mode("overwrite").parquet(f"{args.output}/edges")
            vertices.write.mode("overwrite").parquet(f"{args.output}/vertices")
            return
    else:
        from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import random_uniform_graph

        nv, ne = (int(x) for x in args.synthetic.split(":"))
        e = random_uniform_graph(spark, nv, ne, seed=args.seed)

    common = dict(
        checkpoint_dir=args.checkpoint_dir,
        num_partitions=args.partitions,
        run_id=args.resume or args.run_id,
        resume_state=None,
        start_step=0,
    )

    if args.resume:
        if not args.checkpoint_dir:
            raise SystemExit(
                "--resume requires --checkpoint-dir (the directory the "
                "original run checkpointed into); without it the job would "
                "silently recompute from scratch"
            )
        if args.algo == "components" and args.cc_algorithm == "starcontract":
            raise SystemExit(
                "--resume is not supported with --cc-algorithm starcontract "
                "(edge-set state is not resumable); use hashmin"
            )
        from parallel_betweenness_centrality_using_bsp_spark.plans.superstep import latest_checkpoint

        algo_name = {"pagerank": "pagerank", "components": "connected_components",
                     "labelprop": "label_propagation", "sssp": "sssp",
                     "kcore": "kcore", "coreness": "coreness", "wl": "wl",
                     "walks": "walks", "hits": "hits", "salsa": "salsa",
                     "katz": "katz", "node2vec": "node2vec",
                     "eigenvector": "eigenvector"}.get(args.algo)
        if algo_name is None:
            raise SystemExit(
                f"--resume is not supported for --algo {args.algo} "
                "(only the superstep-loop kernels checkpoint resumable state)"
            )
        found = latest_checkpoint(spark, args.checkpoint_dir, algo_name, args.resume)
        if found is None:
            raise SystemExit(f"no checkpoint for run_id={args.resume}")
        common["start_step"], common["resume_state"] = found

    if args.algo == "pagerank":
        from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import pagerank

        run = pagerank(spark, e, tol=args.tol, max_supersteps=args.max_supersteps,
                       bucket_state=args.bucket_state, **common)
        out = run.state
    elif args.algo == "components":
        from parallel_betweenness_centrality_using_bsp_spark.operators.components import connected_components

        run = connected_components(
            spark, e, max_supersteps=args.max_supersteps,
            algorithm=args.cc_algorithm, bucket_state=args.bucket_state, **common,
        )
        out = run.state
    elif args.algo == "labelprop":
        from parallel_betweenness_centrality_using_bsp_spark.operators.labelprop import label_propagation

        run = label_propagation(spark, e, max_supersteps=args.max_supersteps,
                                bucket_state=args.bucket_state, **common)
        out = run.state
    elif args.algo == "triangles":
        from parallel_betweenness_centrality_using_bsp_spark.operators.triangles import triangles_per_vertex

        out = triangles_per_vertex(spark, e, args.partitions)
    elif args.algo == "sssp":
        from pyspark.sql import functions as F

        from parallel_betweenness_centrality_using_bsp_spark.operators.sssp import sssp_run

        # use the table's own weight column when present, else derive a
        # deterministic integral weight (the bench/test convention)
        we = e if "w" in e.columns else e.select(
            "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("w")
        )
        run = sssp_run(
            spark, we, list(range(args.sources)),
            max_hops=args.max_supersteps, bucket_state=args.bucket_state, **common,
        )
        out = run.state.select("source", "vertex", "dist")
    elif args.algo == "kcore":
        from pyspark.sql import functions as F

        from parallel_betweenness_centrality_using_bsp_spark.operators.kcore import k_core_run

        run = k_core_run(spark, e, args.k, max_rounds=args.max_supersteps, **common)
        out = run.state.groupBy(F.col("src").alias("vertex")).agg(
            F.count(F.lit(1)).alias("deg")
        )
    elif args.algo == "coreness":
        from pyspark.sql import functions as F

        from parallel_betweenness_centrality_using_bsp_spark.operators.coreness import coreness_run

        run = coreness_run(
            spark, e, max_rounds=args.max_supersteps,
            bucket_state=args.bucket_state, **common,
        )
        out = run.state.select("vertex", F.col("c").alias("core"))
    elif args.algo == "wl":
        from pyspark.sql import functions as F

        from parallel_betweenness_centrality_using_bsp_spark.operators.wl import wl_refinement_run

        run = wl_refinement_run(
            spark, e, rounds=args.max_supersteps,
            bucket_state=args.bucket_state, **common,
        )
        out = run.state.select("vertex", F.col("c").alias("color"))
    elif args.algo == "walks":
        from pyspark.sql import functions as F

        from parallel_betweenness_centrality_using_bsp_spark.operators.walks import random_walks_run

        starts = (
            endpoints(e)
            .distinct()
            .where(F.col("vertex") < args.sources)
        )
        from parallel_betweenness_centrality_using_bsp_spark.operators.walks import (
            walk_corpus_from_checkpoints,
        )

        _, out = random_walks_run(
            spark, e, starts, walk_length=args.walk_length, **common
        )
        if args.resume:
            # a resumed run only produced the positions after the crash; the
            # complete corpus is the union of every checkpointed step
            out = walk_corpus_from_checkpoints(
                spark, args.checkpoint_dir, common["run_id"]
            )
    elif args.algo == "hits":
        from parallel_betweenness_centrality_using_bsp_spark.operators.hits import hits

        run = hits(spark, e, tol=args.tol, max_supersteps=args.max_supersteps,
                   bucket_state=args.bucket_state, **common)
        out = run.state
    elif args.algo == "salsa":
        from parallel_betweenness_centrality_using_bsp_spark.operators.hits import salsa

        run = salsa(spark, e, tol=args.tol, max_supersteps=args.max_supersteps,
                    bucket_state=args.bucket_state, **common)
        out = run.state
    elif args.algo == "msf":
        from pyspark.sql import functions as F

        from parallel_betweenness_centrality_using_bsp_spark.operators.mst import boruvka_forest

        we = e if "w" in e.columns else e.select(
            "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("w")
        )
        out = boruvka_forest(spark, we)
    elif args.algo == "katz":
        from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import katz

        run = katz(spark, e, alpha=args.alpha,
                   max_supersteps=args.max_supersteps,
                   bucket_state=args.bucket_state, **common)
        out = run.state
    elif args.algo == "eigenvector":
        from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import eigenvector_centrality

        run = eigenvector_centrality(spark, e,
                                     max_supersteps=args.max_supersteps,
                                     bucket_state=args.bucket_state, **common)
        out = run.state
    elif args.algo == "simrank":
        from parallel_betweenness_centrality_using_bsp_spark.operators.linkpred import simrank

        # --max-supersteps doubles as the iteration count (default far too
        # high for SimRank's O(pairs) state growth — clamp to the usual 2)
        out = simrank(spark, e, iters=min(args.max_supersteps, 5))
    elif args.algo == "node2vec":
        from pyspark.sql import functions as F

        from parallel_betweenness_centrality_using_bsp_spark.operators.walks import node2vec_walks_run

        starts = (
            endpoints(e)
            .distinct()
            .where(F.col("vertex") < args.sources)
        )
        # walk_length is ABSOLUTE like walks: a resume advances the remainder
        _, out = node2vec_walks_run(
            spark, e, starts, walk_length=args.walk_length,
            p=args.p, q=args.q, **common,
        )
    elif args.algo == "egonet":
        from pyspark.sql import functions as F

        from parallel_betweenness_centrality_using_bsp_spark.operators.bfs import ego_network

        members, induced = ego_network(
            spark, e, args.seed_vertex, radius=args.radius,
            num_partitions=args.partitions,
        )
        egod = induced.groupBy(F.col("src").alias("vertex")).agg(
            F.count(F.lit(1)).alias("ego_deg")
        )
        out = members.join(egod, "vertex", "left").select(
            "vertex", "dist",
            F.coalesce("ego_deg", F.lit(0)).cast("long").alias("ego_deg"),
        )
    elif args.algo in ("betweenness", "betweenness-bsp"):
        from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness import (
            betweenness_bsp,
            betweenness_csr,
        )

        sources = list(range(args.sources))
        fn = betweenness_csr if args.algo == "betweenness" else betweenness_bsp
        res = fn(spark, e, sources=sources, num_partitions=args.partitions)
        out = res.bc
    elif args.algo == "betweenness-weighted":
        from pyspark.sql import functions as F

        from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
            betweenness_weighted,
        )

        we = e if "w" in e.columns else e.select(
            "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("w")
        )
        res = betweenness_weighted(
            spark, we, sources=list(range(args.sources)),
            max_hops=args.max_supersteps, num_partitions=args.partitions,
        )
        out = res.bc
    elif args.algo == "betweenness-weighted-csr":
        from pyspark.sql import functions as F

        from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness_weighted import (
            betweenness_weighted_csr_sweep,
            prepare_csr_weighted,
        )

        we = e if "w" in e.columns else e.select(
            "src", "dst", ((F.col("src") + F.col("dst")) % 7 + 1).alias("w")
        )
        # artifact lands next to the output so cluster workers can read it
        art, default_sources = prepare_csr_weighted(
            spark, we, artifact_dir=(args.output.rstrip("/") + "_wcsr")
        )
        srcs = default_sources.limit(args.sources)
        out = betweenness_weighted_csr_sweep(
            spark, art, srcs, num_partitions=args.partitions
        ).bc
    elif args.algo == "anf":
        from parallel_betweenness_centrality_using_bsp_spark.operators.anf import (
            anf_sketches,
            neighborhood_estimates,
        )

        sk = anf_sketches(
            spark, e, hops=args.max_supersteps, k=max(args.k, 4),
            num_partitions=args.partitions,
        )
        out = neighborhood_estimates(sk, max(args.k, 4))
    elif args.algo == "triangles-incremental":
        from pyspark.sql import functions as F

        from parallel_betweenness_centrality_using_bsp_spark.operators.triangles import (
            incremental_triangles,
        )

        bucket = F.pmod(F.xxhash64("src", "dst"), F.lit(100))
        out = incremental_triangles(
            spark, e.where(bucket < 99), e.where(bucket >= 99),
            num_partitions=args.partitions,
        )
    elif args.algo == "louvain":
        from parallel_betweenness_centrality_using_bsp_spark.operators.labelprop import louvain_one_level

        out = louvain_one_level(
            spark, e, rounds=args.max_supersteps, num_partitions=args.partitions
        )
    else:
        raise SystemExit(f"--algo {args.algo} needs --repo-files")

    out.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output}")


if __name__ == "__main__":
    main()
