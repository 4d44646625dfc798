"""Regression tests for the round-2 ADVICE findings.

1. BOTH direction must honor an explicit duplicate_relationships strategy
   on parallel edges (was silently overridden to max by symmetrization).
2. Louvain coarse-collect guard: oversized coarsened tables stay distributed.
3. Louvain numpy kernel alternates parity on ORIGINAL ids, matching the
   distributed kernel's pmod(id, 2) for non-contiguous node ids.
4. Checkpoint resume refuses a payload whose format tag is missing/different.
5. weighted_all_shortest_paths rejects negative weights loudly.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

import linkgraph.algorithms.blocks as B
from linkgraph.graph import BOTH, Graph
from tests.conftest import edges_df


# ---------------------------------------------------------------- finding 1
def _both_weights(spark, triples, strategy):
    g = Graph.from_edges(
        edges_df(spark, triples),
        direction=BOTH,
        duplicate_relationships=strategy,
    )
    return {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}


def test_both_direction_sum_strategy_on_parallel_edges(spark):
    # parallel (1,2) edges w=1,2 plus reciprocal (2,1) w=5: sum combines ALL
    w = _both_weights(spark, [(1, 2, 1.0), (1, 2, 2.0), (2, 1, 5.0)], "sum")
    assert w[(1, 2)] == pytest.approx(8.0)
    assert w[(2, 1)] == pytest.approx(8.0)


def test_both_direction_min_strategy_on_parallel_edges(spark):
    w = _both_weights(spark, [(1, 2, 1.0), (1, 2, 2.0), (2, 1, 5.0)], "min")
    assert w[(1, 2)] == pytest.approx(1.0)
    assert w[(2, 1)] == pytest.approx(1.0)


def test_both_direction_no_strategy_keeps_max_tiebreak(spark):
    w = _both_weights(spark, [(1, 2, 1.0), (2, 1, 5.0)], "none")
    assert w[(1, 2)] == pytest.approx(5.0)
    assert w[(2, 1)] == pytest.approx(5.0)


def test_outgoing_sum_strategy_unchanged(spark):
    g = Graph.from_edges(
        edges_df(spark, [(1, 2, 1.0), (1, 2, 2.0), (2, 1, 5.0)]),
        duplicate_relationships="sum",
    )
    w = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    assert w[(1, 2)] == pytest.approx(3.0)
    assert w[(2, 1)] == pytest.approx(5.0)


# ---------------------------------------------------------------- finding 2
def test_louvain_distributed_extra_level_when_coarse_too_big(spark, monkeypatch):
    """With the driver crossover at 0 every level must run distributed; the result
    must still be a sane community assignment (two planted cliques)."""
    from linkgraph.algorithms.louvain import louvain

    clique_a = [(i, j, 1.0) for i in range(5) for j in range(5) if i != j]
    clique_b = [(i, j, 1.0) for i in range(10, 15) for j in range(10, 15) if i != j]
    bridge = [(0, 10, 0.1), (10, 0, 0.1)]
    g = Graph.from_edges(edges_df(spark, clique_a + clique_b + bridge))
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    res = louvain(g, max_levels=3)
    comm = {r["id"]: r["community"] for r in res.collect()}
    assert len({comm[i] for i in range(5)}) == 1
    assert len({comm[i] for i in range(10, 15)}) == 1
    assert comm[0] != comm[10]


# ---------------------------------------------------------------- finding 3
def test_louvain_numpy_parity_uses_original_ids(spark):
    """Same structural graph under contiguous ids vs ids shifted to flip
    dense-index parity: with original-id parity the assignments must be
    isomorphic (identical community PARTITION under the id mapping)."""
    from linkgraph.algorithms.louvain import louvain

    base = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 4, 1.0), (4, 5, 1.0),
            (5, 3, 1.0), (2, 3, 0.1)]
    sym = base + [(d, s, w) for s, d, w in base]
    g1 = Graph.from_edges(edges_df(spark, sym))
    # shift ids by 101 — dense index i now has original id i+101, flipping
    # the (dense index % 2) parity of every node while preserving id % 2...
    # shift by 102 keeps id-parity identical but dense==original no longer
    shift = 102
    g2 = Graph.from_edges(
        edges_df(spark, [(s + shift, d + shift, w) for s, d, w in sym])
    )
    r1 = {r["id"]: r["community"] for r in louvain(g1, max_levels=2).collect()}
    r2 = {r["id"]: r["community"] for r in louvain(g2, max_levels=2).collect()}
    part1 = {}
    for i, c in r1.items():
        part1.setdefault(c, set()).add(i)
    part2 = {}
    for i, c in r2.items():
        part2.setdefault(c, set()).add(i - shift)
    assert sorted(map(sorted, part1.values())) == sorted(map(sorted, part2.values()))


def test_both_direction_skip_is_symmetric_and_deterministic(spark):
    """'skip' is an arbitrary pick per parallel group, but after BOTH
    symmetrization the two directions must carry the SAME weight (max
    tie-break across reciprocals) — run twice, both symmetric and equal."""
    triples = [(1, 2, 5.0), (2, 1, 7.0), (1, 2, 5.0)]
    w1 = _both_weights(spark, triples, "skip")
    w2 = _both_weights(spark, triples, "skip")
    assert w1[(1, 2)] == w1[(2, 1)]
    assert w1 == w2


def test_louvain_seeded_cross_threshold_parity(spark, monkeypatch):
    """Seeded multilevel Louvain must produce the same partition on the
    driver-numpy and distributed paths (seed labels live in their own
    label space; coarsening must map them through seed ids)."""
    from linkgraph.algorithms.louvain import louvain

    clique_a = [(i, j, 1.0) for i in range(4) for j in range(4) if i != j]
    clique_b = [(i, j, 1.0) for i in range(10, 14) for j in range(10, 14) if i != j]
    bridge = [(0, 10, 0.1), (10, 0, 0.1)]
    seeds = {i: 77 for i in range(4)} | {i: 99 for i in range(10, 14)}
    from tests.conftest import nodes_df

    g = Graph.from_edges(
        edges_df(spark, clique_a + clique_b + bridge),
        nodes=nodes_df(spark, list(range(4)) + list(range(10, 14)), seeds),
    )
    r_driver = {r["id"]: r["community"]
                for r in louvain(g, max_levels=3, seed_col="seed").collect()}
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    r_dist = {r["id"]: r["community"]
              for r in louvain(g, max_levels=3, seed_col="seed").collect()}

    def parts(m):
        out = {}
        for i, c in m.items():
            out.setdefault(c, set()).add(i)
        return sorted(map(sorted, out.values()))

    assert parts(r_driver) == parts(r_dist)


def test_write_proc_empty_graph_stats(spark):
    """Stats rows on an empty/edgeless result must not crash on NULL
    aggregates (int(None))."""
    from linkgraph.algorithms.wcc import wcc
    from linkgraph.results import run_write_proc

    empty = spark.createDataFrame([], "src long, dst long, weight double")
    g = Graph.from_edges(empty,
                         nodes=spark.createDataFrame([], "id long"))
    r = run_write_proc("unionFind", g, lambda g_: wcc(g_)).first().asDict()
    assert r["nodes"] == 0 and r["setCount"] == 0
    assert r["minSetSize"] == 0 and r["maxSetSize"] == 0


# ---------------------------------------------------------------- finding 4
def test_checkpoint_format_mismatch_refused(spark, tmp_path):
    from linkgraph.io import CheckpointManager

    ck = CheckpointManager(spark, str(tmp_path / "ck"))
    df = spark.createDataFrame([(1, 2)], "id long, comp long")
    ck.write(df, 1, fmt="wcc/labels-v1")
    # same format resumes fine
    step, _, _ = ck.latest(fmt="wcc/labels-v1")
    assert step == 1
    # different format refuses
    with pytest.raises(ValueError, match="refusing to resume"):
        ck.latest(fmt="wcc/edges-v2")
    # untagged legacy checkpoint is IGNORED (recompute), not a crash —
    # r3 ADVICE: crashing on pre-tag checkpoints was a behavior regression
    ck2 = CheckpointManager(spark, str(tmp_path / "ck2"))
    ck2.write(df, 1)
    with pytest.warns(UserWarning, match="predates format tags"):
        assert ck2.latest(fmt="wcc/edges-v2") is None
    # and untagged read of untagged checkpoint still works
    assert ck2.latest()[0] == 1


# ---------------------------------------------------------------- finding 5
def test_weighted_allsp_rejects_negative_weights(spark, tmp_path):
    from linkgraph.algorithms.msbfs import weighted_all_shortest_paths

    g = Graph.from_edges(edges_df(spark, [(0, 1, 1.0), (1, 2, -0.5)]))
    with pytest.raises(ValueError, match="non-negative"):
        weighted_all_shortest_paths(g, store_path=str(tmp_path / "store"))
