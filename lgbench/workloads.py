"""The benchmark's workloads: seeded set-up, references, and one pass.

Every call into linkgraph inside a pass is one operation, run through
``Ops.call``: it is timed, counted, and its output checked against a
reference computed outside the timed region. An exception, a wrong
result or a timeout counts the operation as failed.
"""

from __future__ import annotations

import os
import shutil
import signal
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd

from lgbench import inputs, proc, reference as ref
from lgbench.trace import QUERY_NAMES

OP_TIMEOUT_S = 90


class _OpTimeout(Exception):
    pass


def _alarm(_signum, _frame):
    raise _OpTimeout(f"operation exceeded {OP_TIMEOUT_S} s")


class Ops:
    """Closed-loop operation runner: one call at a time, each waiting
    for its result."""

    def __init__(self, sc, tracer):
        self.sc = sc
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.times: dict[str, list[float]] = defaultdict(list)
        self.pass_time = 0.0
        self.pass_cpu = 0.0

    def call(self, layer: str, name: str, fn, check):
        self.attempted += 1
        old = signal.signal(signal.SIGALRM, _alarm)
        signal.alarm(OP_TIMEOUT_S)
        try:
            cpu0 = proc.tree_cpu_s()
            with self.tracer.span(layer):
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
            self.pass_cpu += proc.tree_cpu_s() - cpu0
        except Exception as e:  # the operation failed; keep measuring the rest
            self.failed += 1
            print(f"[lgbench] {name} raised:", file=sys.stderr)
            traceback.print_exc()
            if isinstance(e, _OpTimeout):
                self.sc.cancelAllJobs()
            return None
        finally:
            signal.alarm(0)
            signal.signal(signal.SIGALRM, old)
        self.times[name].append(dt)
        self.pass_time += dt
        try:
            problem = check(out)
        except Exception as e:  # a check that cannot even run is a failed check
            problem = f"{type(e).__name__}: {e}"
        if problem:
            self.failed += 1
            print(f"[lgbench] {name} check failed: {problem}", file=sys.stderr)
        return out


def _ranks_check(want: np.ndarray, steps: int, resumed_from: int | None = None):
    def check(out):
        pr, pdf = out
        got = np.zeros(len(want))
        got[pdf["id"].to_numpy(np.int64)] = pdf["rank"].to_numpy()
        if len(pdf) != len(want):
            return f"{len(pdf)} ranks, expected {len(want)}"
        if pr.metrics.iterations != steps:
            return f"{pr.metrics.iterations} supersteps, expected {steps}"
        if resumed_from is not None and pr.metrics.resumed_from != resumed_from:
            return f"resumed from {pr.metrics.resumed_from}, expected {resumed_from}"
        if not np.allclose(got, want, rtol=1e-9, atol=1e-6):
            return f"max |rank - ref| = {np.abs(got - want).max():.3g}"
        return None

    return check


def _labels_check(col: str, want: np.ndarray, iterations: int | None = None):
    def check(out):
        pdf = out
        got = np.full(len(want), -1, dtype=np.int64)
        got[pdf["id"].to_numpy(np.int64)] = pdf[col].to_numpy(np.int64)
        if len(pdf) != len(want) or not np.array_equal(got, want):
            return f"{col} differs from reference on {int((got != want).sum())} nodes"
        if iterations is not None and pdf.attrs["iterations"] != iterations:
            return f"{pdf.attrs['iterations']} iterations, expected {iterations}"
        return None

    return check


def _run_pagerank(pr, graph):
    return pr, pr.run(graph).toPandas()


def _pagerank_stats(pr, edges: int, times: list[float]) -> dict[str, float]:
    m = pr.metrics
    return {
        "pagerank.iterations": m.iterations,
        "pagerank.superstep_ms_p50": float(np.median(m.superstep_millis)),
        "pagerank.edges_per_s": edges * m.iterations / times[-1],
    }


def _to_pandas_with_iterations(df):
    pdf = df.toPandas()
    pdf.attrs["iterations"] = getattr(df, "iterations", None)
    return pdf


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.graph_edges = 0
        self._dirs = 0

    def fresh_dir(self, name: str) -> str:
        """A new directory name each call: the engine caches memory maps
        by path, so a rebuilt store must not reuse an old path."""
        self._dirs += 1
        return os.path.join(self.work, f"{name}-{self._dirs}")

    def setup(self, spark) -> None:
        """Generate the inputs and load them into Spark; repeated, so it
        must leave the same state every time."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """One-time work before measuring: prebuilt stores, warm-up."""

    def references(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, ops: Ops) -> dict[str, float]:
        """Run every operation once; return per-layer counts of the pass."""
        raise NotImplementedError

    def side_problems(self, tracer) -> list[str]:
        return []

    def sizes(self) -> dict:
        return {}


# ------------------------------------------------------------------ powerlaw
class PowerlawScale(Workload):
    """Power-law digraph on the distributed side of every crossover.

    The graph is small enough for a run of a few tens of seconds, so the
    benchmark moves the driver crossover (``blocks.DRIVER_EDGE_THRESHOLD``,
    the engine's one tuning constant for it) below the graph instead of
    growing the graph past the default 2M edges.
    """

    name = "powerlaw_scale"
    N = 1 << 14
    M = 8 * N
    THRESHOLD = 20_000
    PULL_STEPS, CSR_STEPS, CKPT_STEPS = 3, 2, 1
    LPA_ITERATIONS = 1

    def setup(self, spark) -> None:
        from linkgraph import Graph
        from linkgraph.algorithms import blocks

        blocks.DRIVER_EDGE_THRESHOLD = self.THRESHOLD
        self.edges = inputs.powerlaw_edges(self.seed, self.N, self.M)
        path = os.path.join(self.work, "powerlaw.parquet")
        inputs.write_parquet(self.edges, path)
        e = spark.read.parquet(path).persist()
        self.graph_edges = e.count()
        self.graph = Graph(nodes=spark.range(self.N).persist(), edges=e)

    def prepare(self, spark) -> None:
        """Build the pull (CSC) and csr (CSR) stores PageRank is given,
        with the same calls and block count PageRank uses (the edges carry
        weight 1.0, as unweighted PageRank sets it)."""
        from linkgraph.algorithms import blocks

        e = self.graph.edges
        b = blocks.auto_num_blocks(e, spark.sparkContext.defaultParallelism)
        self.pull_dir = self.fresh_dir("store_pull")
        self.csr_dir = self.fresh_dir("store_csr")
        blocks.write_pull_blocks(e, b, self.pull_dir, weighted=False)
        blocks.write_edge_blocks(e, b, self.csr_dir, weighted=False)

    def references(self) -> None:
        s, d = self.edges.src.to_numpy(), self.edges.dst.to_numpy()
        self.ref_pr = {
            k: ref.pagerank(s, d, self.N, iterations=k)[0]
            for k in {self.PULL_STEPS, self.CSR_STEPS, self.CKPT_STEPS, 2 * self.CKPT_STEPS}
        }
        self.ref_wcc = ref.components(s, d, self.N)
        self.ref_lpa, self.ref_lpa_iters = ref.label_propagation(
            s, d, self.edges.weight.to_numpy(), self.N, self.LPA_ITERATIONS)

    def run_pass(self, spark, ops: Ops) -> dict[str, float]:
        from linkgraph.algorithms.lpa import label_propagation
        from linkgraph.algorithms.pagerank import PageRank
        from linkgraph.algorithms.wcc import wcc
        from linkgraph.io import CheckpointManager

        g, k = self.graph, self.CKPT_STEPS
        stats: dict[str, float] = {}
        out = ops.call(
            "pagerank.pull", "pagerank_pull",
            lambda: _run_pagerank(
                PageRank(max_iterations=self.PULL_STEPS, block_store=self.pull_dir), g),
            _ranks_check(self.ref_pr[self.PULL_STEPS], self.PULL_STEPS))
        if out:
            stats.update(_pagerank_stats(out[0], self.graph_edges, ops.times["pagerank_pull"]))
        ops.call(
            "pagerank.csr", "pagerank_csr",
            lambda: _run_pagerank(PageRank(
                max_iterations=self.CSR_STEPS, strategy="csr", block_store=self.csr_dir), g),
            _ranks_check(self.ref_pr[self.CSR_STEPS], self.CSR_STEPS))
        ck_dir = self.fresh_dir("checkpoints")
        ops.call(
            "pagerank.pull", "pagerank_checkpointed",
            lambda: _run_pagerank(PageRank(
                max_iterations=k, checkpoint=CheckpointManager(spark, ck_dir),
                checkpoint_every=1, block_store=self.pull_dir), g),
            _ranks_check(self.ref_pr[k], k))
        ops.call(
            "pagerank.pull", "pagerank_resume",
            lambda: _run_pagerank(PageRank(
                max_iterations=2 * k, checkpoint=CheckpointManager(spark, ck_dir),
                checkpoint_every=1, block_store=self.pull_dir), g),
            _ranks_check(self.ref_pr[2 * k], 2 * k, resumed_from=k))
        if ops.times["pagerank_resume"]:
            stats["pagerank.resume_s"] = ops.times["pagerank_resume"][-1]
        stats["io.checkpoint_bytes"] = _du(ck_dir)
        out = ops.call("wcc", "wcc", lambda: _to_pandas_with_iterations(wcc(g)),
                       _labels_check("component", self.ref_wcc))
        if out is not None:
            stats["wcc.rounds"] = out.attrs["iterations"]
        out = ops.call(
            "lpa", "lpa",
            lambda: _to_pandas_with_iterations(
                label_propagation(g, max_iterations=self.LPA_ITERATIONS)),
            _labels_check("label", self.ref_lpa, self.ref_lpa_iters))
        if out is not None:
            stats["lpa.iterations"] = out.attrs["iterations"]
        shutil.rmtree(ck_dir, ignore_errors=True)
        return stats

    def side_problems(self, tracer) -> list[str]:
        problems = []
        if not tracer.counts.get("blocks.pull_supersteps"):
            problems.append("pull PageRank did not take the distributed pull_superstep side")
        if tracer.counts.get("wcc.union_find_calls"):
            problems.append("wcc took the driver union-find side")
        return problems

    def sizes(self) -> dict:
        return {"nodes": self.N, "edges": self.graph_edges}


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ------------------------------------------------------------- repo pipeline
class RepoPipeline(Workload):
    """Source table → mined file graph → driver-side graph algorithms."""

    name = "repo_pipeline"
    N_REPOS, FILES_PER_REPO = 150, 20

    def setup(self, spark) -> None:
        self.table, self.truth = inputs.repo_table(self.seed, self.N_REPOS, self.FILES_PER_REPO)
        path = os.path.join(self.work, "repos.parquet")
        inputs.write_parquet(self.table, path)
        self.repos = spark.read.parquet(path).persist()
        self.repos.count()
        self._ref_key = None

    def references(self) -> None:
        t = self.truth
        self.truth_keys = set(zip(t.src_repo, t.src_path, t.dst_repo, t.dst_path))
        self.graph_edges = len(self.truth_keys)

    def _refs_for(self, nodes_pd: pd.DataFrame):
        """References over the miner's id space (validated as a bijection
        onto the generated files), cached while the ids stay the same."""
        key = list(nodes_pd.sort_values("id")[["repo", "path"]].itertuples(index=False))
        if key == self._ref_key:
            return
        ids = dict(zip(zip(nodes_pd.repo, nodes_pd.path), nodes_pd.id))
        t = self.truth
        s = np.array([ids[k] for k in zip(t.src_repo, t.src_path)], dtype=np.int64)
        d = np.array([ids[k] for k in zip(t.dst_repo, t.dst_path)], dtype=np.int64)
        n = len(nodes_pd)
        self.ref = {
            "pagerank": ref.pagerank(s, d, n, tolerance=1e-6),
            "wcc": ref.components(s, d, n),
            "lpa": ref.label_propagation(s, d, np.ones(len(s)), n),
            "triangles": ref.triangles_per_node(s, d),
        }
        self._ref_key = key

    def _check_mined(self, out):
        nodes_pd, edges_pd = out
        files = set(zip(self.table.repo, self.table.path))
        if len(nodes_pd) != len(files) or set(zip(nodes_pd.repo, nodes_pd.path)) != files:
            return "mined node table is not the generated file set"
        if sorted(nodes_pd.id) != list(range(len(nodes_pd))):
            return "mined node ids are not contiguous 0..n-1"
        by_id = dict(zip(nodes_pd.id, zip(nodes_pd.repo, nodes_pd.path)))
        got = [by_id[s] + by_id[d] for s, d in zip(edges_pd.src, edges_pd.dst)]
        if len(got) != len(self.truth_keys) or set(got) != self.truth_keys:
            return f"mined {len(got)} edges, generator has {len(self.truth_keys)}"
        if (edges_pd.weight != 1.0).any():
            return "mined edge weights differ from one import per file pair"
        return None

    def run_pass(self, spark, ops: Ops) -> dict[str, float]:
        from linkgraph import Graph, mining
        from linkgraph.algorithms.lpa import label_propagation
        from linkgraph.algorithms.pagerank import PageRank
        from linkgraph.algorithms.triangles import triangle_count
        from linkgraph.algorithms.wcc import wcc

        stats: dict[str, float] = {}
        ops.call("mining", "sha_check", lambda: mining.verify_content_sha(self.repos),
                 lambda v: None if v == 0 else f"{v} content_sha violations")

        def mine():
            nodes, edges = mining.file_dependency_graph(self.repos)
            nodes, edges = nodes.persist(), edges.persist()
            nodes.count(), edges.count()
            return nodes, edges

        mined_pd = []

        def check_mined(out):
            mined_pd[:] = [out[0].toPandas(), out[1].toPandas()]
            return self._check_mined(mined_pd)

        failed_before = ops.failed
        mined = ops.call("mining", "mine", mine, check_mined)
        if mined is None or ops.failed > failed_before:
            return stats
        nodes, edges = mined
        self._refs_for(mined_pd[0])
        stats["mining.files"] = len(mined_pd[0])
        stats["mining.edges"] = len(mined_pd[1])
        g = Graph(nodes=nodes.select("id"), edges=edges)

        want, steps = self.ref["pagerank"]
        store = self.fresh_dir("store_pull")
        out = ops.call(
            "pagerank.pull", "pagerank",
            lambda: _run_pagerank(
                PageRank(tolerance=1e-6, max_iterations=100, block_store=store), g),
            _ranks_check(want, steps))
        if out:
            stats.update(_pagerank_stats(out[0], len(mined_pd[1]), ops.times["pagerank"]))
        out = ops.call("wcc", "wcc", lambda: _to_pandas_with_iterations(wcc(g)),
                       _labels_check("component", self.ref["wcc"]))
        if out is not None:
            stats["wcc.rounds"] = out.attrs["iterations"]
        lab, iters = self.ref["lpa"]
        out = ops.call(
            "lpa", "lpa", lambda: _to_pandas_with_iterations(label_propagation(g)),
            _labels_check("label", lab, iters))
        if out is not None:
            stats["lpa.iterations"] = out.attrs["iterations"]
        out = ops.call("triangles", "triangles",
                       lambda: triangle_count(g).toPandas(), self._check_triangles)
        if out is not None:
            stats["triangles.count"] = int(out.triangles.sum()) // 3
        nodes.unpersist()
        edges.unpersist()
        shutil.rmtree(store, ignore_errors=True)
        return stats

    def _check_triangles(self, pdf):
        want = self.ref["triangles"]
        got = pdf[pdf.triangles > 0][["id", "triangles"]]
        a = got.sort_values("id", ignore_index=True).astype("int64")
        b = want.sort_values("id", ignore_index=True).astype("int64")
        if not a.equals(b):
            return f"{len(a)} nodes on triangles, reference has {len(b)} (or counts differ)"
        return None

    def side_problems(self, tracer) -> list[str]:
        problems = []
        if tracer.counts.get("blocks.pull_supersteps"):
            problems.append("PageRank took the distributed pull side")
        if not tracer.samples.get("blocks.driver_step_s"):
            problems.append("PageRank took no driver-local supersteps")
        return problems

    def sizes(self) -> dict:
        return {"files": len(self.table), "repos": self.N_REPOS,
                "import_edges": self.graph_edges}


# -------------------------------------------------------------- contract mix
class ContractMix(Workload):
    """Five contract queries over generated documents/events tables."""

    name = "contract_mix"
    N_DOCS, N_EVENTS = 300, 6_000
    QUERIES = QUERY_NAMES

    def setup(self, spark) -> None:
        self.sf = inputs.write_contract_tables(
            self.seed, os.path.join(self.work, "contract"), self.N_DOCS, self.N_EVENTS)
        spark.read.parquet(os.path.join(self.sf, "documents.parquet")).count()

    def references(self) -> None:
        from linkgraph.queries import ORACLES

        docs = pd.read_parquet(os.path.join(self.sf, "documents.parquet"))
        s, d = ref.doc_edges(docs)
        self.graph_edges = len(s)
        self.ref = {q: ref.canon(ref.oracle(ORACLES[q], self.sf))
                    for q in self.QUERIES if q != "doc_scc"}
        self.ref["doc_scc"] = ref.canon(ref.scc(s, d, len(docs)))

    def _check(self, name):
        def check(pdf):
            got, want = ref.canon(pdf), self.ref[name]
            if list(got.columns) != list(want.columns):
                return f"columns {list(got.columns)} vs {list(want.columns)}"
            if len(got) != len(want) or not got.equals(want):
                return f"{len(got)} rows differ from the {len(want)}-row reference"
            return None

        return check

    def run_pass(self, spark, ops: Ops) -> dict[str, float]:
        from linkgraph.queries import QUERIES

        # a fixed order: the first query of a process pays the JIT warm-up,
        # so permuting the order would move that cost between queries
        for q in self.QUERIES:
            ops.call("queries", q, lambda q=q: QUERIES[q](spark, self.sf).toPandas(),
                     self._check(q))
        return {f"queries.{q}_s": ops.times[q][-1] for q in self.QUERIES if ops.times[q]}

    def sizes(self) -> dict:
        return {"documents": self.N_DOCS, "events": self.N_EVENTS,
                "doc_edges": self.graph_edges}


WORKLOADS = {w.name: w for w in (PowerlawScale, RepoPipeline, ContractMix)}
