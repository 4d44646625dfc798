"""Per-layer tracing from outside the program.

Spans are recorded by the benchmark around its own calls into each layer
and by timing wrappers it installs at run time around public layer
functions (no source edits). Each span runs under its own Spark job
group; after a pass the job group's jobs and stages are read back from
the status store for job, stage, shuffle and executor-time counters. A
nested span (a checkpoint write inside a PageRank call) takes its jobs
and its wall time out of the enclosing span, so each layer reports its
self cost.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

LAYERS = [
    "mining", "pagerank.pull", "pagerank.csr", "wcc", "lpa", "triangles",
    "io", "queries",
]
LAYER_FIELDS = [
    ("wall_s", "s"), ("jobs", "count"), ("stages", "count"),
    ("shuffle_write_bytes", "bytes"), ("executor_run_s", "s"),
    ("busy_ratio", "ratio"),
]
# the k-truss, k-core and jaccard targets of the next optimisations, the
# pipeline's near-dup clustering, and SCC
QUERY_NAMES = [
    "doc_ktruss", "doc_kcore", "user_jaccard_topk", "dedup_clusters", "doc_scc",
]
# name -> unit of every per-layer metric a traced run prints
EXTRA_METRICS = {
    "blocks.pull_superstep_s": "s",
    "blocks.pull_supersteps": "count",
    "blocks.driver_step_s": "s",
    "blocks.store_build_s": "s",
    "blocks.store_edges": "count",
    "blocks.bytes_per_superstep_computed": "bytes",
    "pagerank.iterations": "count",
    "pagerank.superstep_ms_p50": "ms",
    "pagerank.edges_per_s": "edges/s",
    "pagerank.resume_s": "s",
    "wcc.rounds": "count",
    "wcc.union_find_s": "s",
    "wcc.union_find_calls": "count",
    "lpa.iterations": "count",
    "mining.files": "count",
    "mining.edges": "count",
    "mining.sha_check_s": "s",
    "ids.densify_s": "s",
    "triangles.count": "count",
    "io.checkpoint_write_s": "s",
    "io.checkpoint_writes": "count",
    "io.checkpoint_bytes": "bytes",
    "io.latest_s": "s",
    **{f"queries.{q}_s": "s" for q in QUERY_NAMES},
    "spark.job_floor_jvm_s": "s",
    "spark.job_floor_py_s": "s",
    "spark.failed_tasks": "count",
    "side.graph_edges": "count",
    "side.driver_edge_threshold": "count",
    "side.edges_over_threshold": "ratio",
    "host.canary_before_s": "s",
    "host.canary_after_s": "s",
    "host.cpu_steal_pct": "%",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MB",
    "process.pass_wall_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS}
    units.update(EXTRA_METRICS)
    return units


class Tracer:
    """Spans, counters and samples for one traced run."""

    def __init__(self, sc, cores: int):
        self.sc = sc
        self.cores = cores
        self.active = False
        self._ids = itertools.count()
        self._stack: list[list] = []  # [group, wall of finished child spans]
        self.spans: list[tuple[str, str, float]] = []  # (layer, group, self wall)
        self.walls: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self._patches: list[tuple[object, str, object]] = []
        self.counters = {
            layer: dict.fromkeys(("jobs", "stages", "shuffle_write_bytes",
                                  "executor_run_s"), 0.0)
            for layer in LAYERS
        }
        self.failed_tasks = 0
        # time the traced pass spends in the tracer's own bookkeeping
        self.overhead_s = 0.0

    # ----------------------------------------------------------------- spans
    def _set_group(self, group: str | None) -> None:
        t0 = time.perf_counter()
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)
        self.overhead_s += time.perf_counter() - t0

    @contextmanager
    def span(self, layer: str):
        if not self.active:
            yield
            return
        group = f"lgbench-{next(self._ids)}-{layer}"
        self._stack.append([group, 0.0])
        self._set_group(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            _, child = self._stack.pop()
            self.spans.append((layer, group, wall - child))
            if self._stack:
                self._stack[-1][1] += wall
            self._set_group(self._stack[-1][0] if self._stack else None)

    def collect(self) -> None:
        """Read the job/stage counters of every span recorded so far."""
        if not self.spans:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for layer, group, _wall in self.spans:
            c = self.counters[layer]
            for job in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                c["jobs"] += 1
                for stage in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(stage)
                    except Exception:  # evicted or never attempted
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["executor_run_s"] += sd.executorRunTime() / 1000.0
                    self.failed_tasks += sd.numFailedTasks()
        for layer, _group, wall in self.spans:
            self.walls[layer] += wall

    # -------------------------------------------------------------- wrappers
    def patch(self, owner, name: str, make_wrapper) -> None:
        orig = getattr(owner, name)
        self._patches.append((owner, name, orig))
        setattr(owner, name, make_wrapper(orig))

    def timed(self, metric: str, layer: str | None = None, count: str | None = None):
        """Wrapper factory: time each call into samples[metric]."""

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                if not self.active:
                    return orig(*a, **kw)
                t0 = time.perf_counter()
                if layer is None:
                    out = orig(*a, **kw)
                else:
                    with self.span(layer):
                        out = orig(*a, **kw)
                self.samples[metric].append(time.perf_counter() - t0)
                if count:
                    self.counts[count] += 1
                return out

            return wrapper

        return make

    def install(self) -> None:
        import importlib

        from linkgraph import ids, io, mining
        from linkgraph.algorithms import blocks

        # the package re-exports the function under the module's name
        wcc_mod = importlib.import_module("linkgraph.algorithms.wcc")

        self.patch(blocks, "pull_superstep",
                   self.timed("blocks.pull_superstep_s", count="blocks.pull_supersteps"))
        self.patch(blocks, "write_pull_blocks", self.timed("blocks.store_build_s"))
        self.patch(blocks, "write_edge_blocks", self.timed("blocks.store_build_s"))
        self.patch(blocks, "pull_engine", self._wrap_pull_engine)
        self.patch(wcc_mod, "union_find_mapping",
                   self.timed("wcc.union_find_s", count="wcc.union_find_calls"))
        self.patch(mining, "verify_content_sha", self.timed("mining.sha_check_s"))
        self.patch(ids, "densify_ids", self.timed("ids.densify_s"))
        self.patch(io.CheckpointManager, "write",
                   self.timed("io.checkpoint_write_s", layer="io",
                              count="io.checkpoint_writes"))
        self.patch(io.CheckpointManager, "latest",
                   self.timed("io.latest_s", layer="io"))

    def _wrap_pull_engine(self, orig):
        @functools.wraps(orig)
        def wrapper(sc, block_path, num_blocks, n):
            from linkgraph.algorithms import blocks

            step = orig(sc, block_path, num_blocks, n)
            m = blocks.read_manifest(block_path)
            edges = sum(int(v) for v in m["parts"].values())
            self.counts["blocks.store_edges"] = edges
            # computed, not measured: per superstep every edge reads its
            # source id and weight, and the rank vector is read and written
            src_bytes = sum(
                np.load(f"{block_path}/part={k}/src.npy", mmap_mode="r").itemsize
                * int(c) for k, c in m["parts"].items()
            )
            self.counts["blocks.bytes_per_superstep_computed"] = (
                src_bytes + 8 * edges + 16 * n
            )

            def traced_step(p):
                before = self.counts["blocks.pull_supersteps"]
                t0 = time.perf_counter()
                out = step(p)
                if self.active and self.counts["blocks.pull_supersteps"] == before:
                    self.samples["blocks.driver_step_s"].append(time.perf_counter() - t0)
                return out

            return traced_step

        return wrapper

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patches):
            setattr(owner, name, orig)
        self._patches.clear()

    # ---------------------------------------------------------------- report
    def layer_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for layer in LAYERS:
            c = self.counters[layer]
            wall = self.walls[layer]
            out[f"{layer}.wall_s"] = wall
            out[f"{layer}.jobs"] = c["jobs"]
            out[f"{layer}.stages"] = c["stages"]
            out[f"{layer}.shuffle_write_bytes"] = c["shuffle_write_bytes"]
            out[f"{layer}.executor_run_s"] = c["executor_run_s"]
            out[f"{layer}.busy_ratio"] = (
                c["executor_run_s"] / (wall * self.cores) if wall else 0.0
            )
        for name, vals in self.samples.items():
            if name in ("blocks.pull_superstep_s", "blocks.driver_step_s"):
                out[name] = statistics.median(vals)
            else:
                out[name] = sum(vals)
        out.update(self.counts)
        out["spark.failed_tasks"] = self.failed_tasks
        return out
