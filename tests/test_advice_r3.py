"""Regression tests for the round-3 ADVICE findings.

1. CheckpointManager.latest(fmt=...) treats a pre-tag (untagged) checkpoint
   as "nothing to resume" instead of crashing (covered in test_advice_r2's
   updated checkpoint test).
2. PageRank strategy='auto' pull gate is memory-aware: the node cap derives
   from spark.driver.memory, so auto can't pick a driver-OOM plan.
3. core_numbers sets did_converge=True when the fixpoint lands exactly on
   the max_rounds-th round.
4. procs._WRITE_MODE covers algo.pageRank (class dispatch through call()).
5. randomwalk._SORTED_ADJ_CACHE eviction keeps the just-built entry.
"""

import pytest

from linkgraph.algorithms import blocks
from linkgraph.algorithms.pagerank import PageRank
from linkgraph.graph import Graph
from tests.conftest import edges_df


# ---------------------------------------------------------------- finding 2
def test_pull_node_cap_parses_driver_memory():
    class FakeConf:
        def __init__(self, mem):
            self.mem = mem

        def get(self, key, default=None):
            return self.mem if key == "spark.driver.memory" else default

    class FakeSpark:
        def __init__(self, mem):
            self.conf = FakeConf(mem)

    # 4g driver → 25 % budget / 64 B per node = 16 Mi nodes
    assert blocks._pull_node_cap(FakeSpark("4g")) == (4 << 30) // 4 // 64
    # 1g default → ~4.2 M nodes, far below the old fixed 1e8 gate
    assert blocks._pull_node_cap(FakeSpark("1g")) < 5_000_000
    # a huge driver still clamps at the hard ceiling
    assert blocks._pull_node_cap(FakeSpark("1t")) == blocks.PULL_MAX_NODES
    # unparseable values fall back to the 1 GiB-equivalent conservative cap
    assert blocks._pull_node_cap(FakeSpark("weird")) == (1 << 30) // 4 // 64


def test_auto_strategy_respects_memory_cap(spark, monkeypatch):
    g = Graph.from_edges(edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)]))
    # force the cap below the node count: auto must resolve to csr
    monkeypatch.setattr(blocks, "_pull_node_cap", lambda s: 2)
    pr = PageRank(max_iterations=2)
    pr.run(g)
    assert pr.resolved_strategy == "csr"
    # generous cap: contiguous small graph resolves to pull
    monkeypatch.setattr(blocks, "_pull_node_cap", lambda s: 1_000_000)
    pr2 = PageRank(max_iterations=2)
    pr2.run(g)
    assert pr2.resolved_strategy == "pull"


def test_auto_strategy_real_conf_path(spark):
    """No mocks: auto resolution must read the live session's driver-memory
    conf without raising, resolve to a valid strategy, and produce correct
    ranks (3-cycle at damping d: rank = 1 everywhere is the fixpoint of the
    unnormalized recurrence)."""
    g = Graph.from_edges(edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)]))
    pr = PageRank(max_iterations=50, tolerance=1e-9)  # strategy defaults to auto
    out = {r["id"]: r["rank"] for r in pr.run(g).collect()}
    assert pr.resolved_strategy in ("pull", "csr")
    assert all(abs(v - 1.0) < 1e-6 for v in out.values())
    cap = blocks._pull_node_cap(spark)
    assert 1 <= cap <= blocks.PULL_MAX_NODES


# ---------------------------------------------------------------- finding 3
def test_core_numbers_converged_on_exact_round_budget(spark):
    from linkgraph.algorithms.kcore import core_numbers

    # star: round 1 lowers the hub's estimate, round 2 detects the fixpoint
    star = [(0, i, 1.0) for i in range(1, 6)]
    g = Graph.from_edges(edges_df(spark, star), direction="BOTH")
    out = core_numbers(g, max_rounds=2)
    cores = {r["id"]: r["core"] for r in out.collect()}
    assert cores == {i: 1 for i in range(6)}
    assert out.did_converge is True  # was False: rounds(2) < max_rounds(2)
    assert out.iterations == 2


# ---------------------------------------------------------------- finding 5
def test_sorted_adj_cache_eviction_keeps_fresh_entry(spark, tmp_path):
    from linkgraph.algorithms import blocks, randomwalk

    store = str(tmp_path / "store")
    from pyspark.sql import functions as F

    edges = edges_df(spark, [(0, 1, 1.0), (1, 0, 1.0), (1, 2, 1.0)])
    blocks.write_edge_blocks(edges, 2, store, weighted=False)
    # fill the cache to the cap with dummies, then build the real entry:
    # the overflow clear must RE-INSERT the entry just built
    randomwalk._SORTED_ADJ_CACHE.clear()
    for i in range(64):
        randomwalk._SORTED_ADJ_CACHE[f"dummy{i}"] = None
    got = randomwalk._sorted_adjacency(store, 3)
    assert store in randomwalk._SORTED_ADJ_CACHE
    assert randomwalk._SORTED_ADJ_CACHE[store] is got
    # and a second call is a cache hit (same object, no rebuild)
    assert randomwalk._sorted_adjacency(store, 3) is got
    randomwalk._SORTED_ADJ_CACHE.clear()
