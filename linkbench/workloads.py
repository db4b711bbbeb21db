"""The link-graph workloads.

Each workload generates its input from the seed alone (the engine sees only
the generated tables), runs one pass of public engine calls, and checks the
pass's outputs against oracles computed once per run from the generator's
closed form, numpy references or networkx.

* ``repo-ingest`` — the production chain ``generate_repo_files`` ->
  ``derive_edges`` -> ``connected_components`` with a parquet
  ``checkpoint_dir``.  The only workload that runs ``operators.edges`` and
  the superstep loop, whose every superstep writes parquet state plus
  metrics and lineage rows.
* ``brandes-powerlaw`` — the paper's algorithm: ``prepare_csr`` ->
  ``betweenness_csr_sweep`` (numpy Brandes behind ``mapInPandas``) and the
  DataFrame ``betweenness_bsp``, on a power-law graph whose frontier joins
  skew onto hubs.  No ingest and no superstep loop.

Sizes are small because Spark's per-job floor dominates at any size on a
small box, and a run must fit two set-ups (each ending in a warm-up pass)
and a measured pass into about a minute.  The CC superstep budget is fixed so the
parquet barrier is timed over the same number of supersteps on every seed.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from parallel_betweenness_centrality_using_bsp_spark.operators.betweenness import (
    betweenness_bsp,
    betweenness_csr_sweep,
    prepare_csr,
)
from parallel_betweenness_centrality_using_bsp_spark.operators.components import (
    connected_components,
)
from parallel_betweenness_centrality_using_bsp_spark.operators.edges import derive_edges
from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import random_power_law_graph
from parallel_betweenness_centrality_using_bsp_spark.sources.repo_files import (
    expected_import_edges,
    generate_repo_files,
)

BC_TOL = 1e-6


@dataclass
class PassOutput:
    """What one pass leaves behind for its checks and metrics."""

    supersteps: int = 0
    work: dict = field(default_factory=dict)  # throughput numerators, by unit
    results: dict = field(default_factory=dict)
    cleanup: list = field(default_factory=list)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def superstep_values(probe, algo: str, run, layer: str) -> None:
    """Per-superstep metrics of a ``SuperstepRun`` and the kernel's prep
    time outside its supersteps: ``call_s`` − Σ wall_ms / 1000."""
    walls = [m["wall_ms"] for m in run.metrics]
    probe.put(f"superstep.count.{algo}", run.supersteps)
    probe.put(f"superstep.ms_p50.{algo}", float(np.median(walls)) if walls else 0.0)
    probe.put(f"superstep.ms_max.{algo}", max(walls) if walls else 0.0)
    call_s = probe.get(f"{layer}.call_s")
    if call_s is not None:
        probe.put(f"{layer}.prep_s", call_s - run.wall_ms_total / 1000.0)


def undirected_pairs(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Both directions of every edge, self-loops and duplicates dropped."""
    s = np.concatenate([src, dst])
    d = np.concatenate([dst, src])
    keep = s != d
    return np.unique(np.stack([s[keep], d[keep]], axis=1), axis=0)


def hashmin_reference(src: np.ndarray, dst: np.ndarray, rounds: int) -> dict[int, int]:
    """Labels after ``rounds`` synchronous hash-min rounds: every vertex
    starts with its own id and takes the least of its own and its
    neighbours' labels each round."""
    pairs = undirected_pairs(src, dst)
    verts = np.unique(pairs[:, 0])
    si = np.searchsorted(verts, pairs[:, 0])
    di = np.searchsorted(verts, pairs[:, 1])
    lab = verts.copy()
    for _ in range(rounds):
        new = lab.copy()
        np.minimum.at(new, di, lab[si])
        lab = new
    return dict(zip(verts.tolist(), lab.tolist()))


def nx_graph(src, dst):
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from((int(a), int(b)) for a, b in zip(src, dst) if a != b)
    return g


def scores_close(a: dict, b: dict, tol: float = BC_TOL) -> bool:
    """Equal within ``tol`` on every vertex either side scores (missing = 0)."""
    return all(abs(a.get(v, 0.0) - b.get(v, 0.0)) <= tol for v in set(a) | set(b))


def as_dict(df: DataFrame, key: str, value: str) -> dict:
    return {row[key]: row[value] for row in df.collect()}


class Workload:
    name: str
    why: str

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.oracle: dict = {}

    def generate(self, spark):
        """Build and materialise the input; returns (input, rows)."""
        raise NotImplementedError

    def prepare_oracle(self, spark, inputs) -> None:
        raise NotImplementedError

    def run_pass(self, spark, inputs, probe, k: int) -> PassOutput:
        raise NotImplementedError

    def check(self, spark, out: PassOutput) -> list[tuple[str, bool]]:
        raise NotImplementedError

    @staticmethod
    def release(out: PassOutput) -> None:
        for fn in out.cleanup:
            fn()


class RepoIngest(Workload):
    name = "repo-ingest"
    why = (
        "North-star chain: repo files -> derive_edges -> CC on the parquet superstep "
        "barrier. Stresses operators.edges, plans.superstep, operators.components; "
        "bypasses operators.betweenness and hub skew."
    )
    N_REPOS = 20
    FILES_PER_REPO = 50
    IMPORTS = 3
    CC_SUPERSTEPS = 2

    def generate(self, spark):
        rf = generate_repo_files(
            spark, n_repos=self.N_REPOS, files_per_repo=self.FILES_PER_REPO,
            imports_per_file=self.IMPORTS, seed=self.seed,
        ).persist()
        return rf, rf.count()

    def prepare_oracle(self, spark, rf) -> None:
        fpr = self.FILES_PER_REPO
        expected = expected_import_edges(self.N_REPOS, fpr, self.IMPORTS, seed=self.seed)
        keys = [(f"org{i // fpr}/proj{i // fpr}", f"src/mod_{i % fpr}.py")
                for i in range(self.N_REPOS * fpr)]
        # dense vertex ids are the ranks of (repo, path)
        vid = {key: v for v, key in enumerate(sorted(keys))}
        self.oracle["vertices"] = {v: key for key, v in vid.items()}
        self.oracle["edges"] = {(vid[keys[a]], vid[keys[b]]) for a, b in expected}
        src, dst = (np.array(c, np.int64) for c in zip(*self.oracle["edges"]))
        self.oracle["cc"] = hashmin_reference(src, dst, self.CC_SUPERSTEPS)

    def run_pass(self, spark, rf, probe, k):
        out = PassOutput(work={"files": self.N_REPOS * self.FILES_PER_REPO})
        with probe.call("operators.edges", "derive"):
            verts, edges = derive_edges(rf)
            edges = edges.persist()
            n_edges = edges.count()
            n_vertices = verts.count()
        out.cleanup.append(edges.unpersist)
        probe.put("edges.n_edges", n_edges)
        probe.put("edges.n_vertices", n_vertices)
        ckpt = os.path.join(self.workdir, f"ckpt-{k}")
        out.cleanup.append(lambda: shutil.rmtree(ckpt, ignore_errors=True))
        with probe.call("operators.components"):
            cc = connected_components(
                spark, edges, checkpoint_dir=ckpt, max_supersteps=self.CC_SUPERSTEPS
            )
        superstep_values(probe, "connected_components", cc, "components")
        probe.put("superstep.checkpoint_bytes", dir_bytes(ckpt))
        out.supersteps = cc.supersteps
        out.results.update(verts=verts, edges=edges, cc=cc)
        return out

    def check(self, spark, out):
        r = out.results
        verts = {row["vertex"]: (row["repo"], row["path"]) for row in r["verts"].collect()}
        edges = {(row["src"], row["dst"]) for row in r["edges"].collect()}
        return [
            ("vertex_ids_are_key_ranks", verts == self.oracle["vertices"]),
            ("edges_match_generator", edges == self.oracle["edges"]),
            ("cc_matches_hashmin_reference",
             as_dict(r["cc"].state, "vertex", "label") == self.oracle["cc"]),
        ]


class BrandesPowerlaw(Workload):
    name = "brandes-powerlaw"
    why = (
        "The paper's Brandes: CSR sweep (numpy via mapInPandas) and DataFrame BSP on a "
        "gamma=2 power-law graph. Stresses operators.betweenness and hub-skewed joins; "
        "bypasses edges and superstep."
    )
    N_VERTICES = 500
    N_EDGES = 20_000
    CSR_SOURCES = 64
    BSP_SOURCES = 4

    def generate(self, spark):
        g = random_power_law_graph(
            spark, self.N_VERTICES, self.N_EDGES, seed=self.seed, gamma=2.0
        ).persist()
        return g, g.count()

    def prepare_oracle(self, spark, g) -> None:
        import networkx as nx

        pdf = g.toPandas()
        graph = nx_graph(pdf["src"], pdf["dst"])
        nodes = sorted(graph.nodes)
        csr_sources = random.Random(self.seed).sample(nodes, self.CSR_SOURCES)
        self.oracle["csr_sources"] = csr_sources
        self.oracle["bsp_sources"] = csr_sources[: self.BSP_SOURCES]
        for which in ("csr", "bsp"):
            self.oracle[f"{which}_bc"] = nx.betweenness_centrality_subset(
                graph, self.oracle[f"{which}_sources"], nodes, normalized=False
            )

    def run_pass(self, spark, g, probe, k):
        out = PassOutput()
        with probe.call("operators.betweenness", "prepare_csr"):
            art, _ = prepare_csr(spark, g, artifact_dir=os.path.join(self.workdir, f"csr-{k}"))
        out.cleanup.append(art.cleanup)
        with probe.call("operators.betweenness", "csr_sweep"):
            csr = betweenness_csr_sweep(spark, art, self.oracle["csr_sources"])
        with probe.call("operators.betweenness", "bsp"):
            bsp = betweenness_bsp(spark, g, sources=self.oracle["bsp_sources"])
            bsp.bc = bsp.bc.localCheckpoint(eager=True)
        for op, res in (("csr_sweep", csr), ("bsp", bsp)):
            call_s = probe.get(f"betweenness.{op}_s")
            if call_s:
                probe.put(f"betweenness.{op.split('_')[0]}_teps", res.edges_traversed / call_s)
        probe.put("betweenness.bsp_supersteps", bsp.supersteps)
        out.supersteps = bsp.supersteps
        out.work["edges"] = csr.edges_traversed + bsp.edges_traversed
        out.results.update(art=art, csr=csr, bsp=bsp)
        return out

    def check(self, spark, out):
        r = out.results
        bsp = as_dict(r["bsp"].bc, "vertex", "bc")
        if "csr_bsp_sources_bc" not in self.oracle:
            # the graph is the same every pass, so one sweep serves the run;
            # taken after set-up so its cold start stays out of setup_s
            same = betweenness_csr_sweep(spark, r["art"], self.oracle["bsp_sources"])
            self.oracle["csr_bsp_sources_bc"] = as_dict(same.bc, "vertex", "bc")
        return [
            ("bsp_matches_csr_sweep", scores_close(bsp, self.oracle["csr_bsp_sources_bc"])),
            ("bsp_matches_networkx", scores_close(bsp, self.oracle["bsp_bc"])),
            ("csr_sweep_matches_networkx",
             scores_close(as_dict(r["csr"].bc, "vertex", "bc"), self.oracle["csr_bc"])),
        ]


WORKLOADS = {w.name: w for w in (RepoIngest, BrandesPowerlaw)}
