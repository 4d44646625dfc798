"""The shuffle-free driver side of PageRank (pull), WCC, LPA, triangle
counting, k-core, k-truss, set similarity and near-duplicate clustering:
below ``blocks.DRIVER_EDGE_THRESHOLD`` each reads its raw input once,
prepares it in numpy and returns a local relation. These tests pin its
job budget, check that the driver-built block store equals the
Spark-built one, and check its semantics against the forced-distributed
sides (threshold -1: even an empty table is over budget)."""

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import edges_df, nodes_df
from linkgraph.algorithms import blocks, similarity
from linkgraph.algorithms.kcore import k_core
from linkgraph.algorithms.ktruss import k_truss
from linkgraph.algorithms.lpa import label_propagation
from linkgraph.algorithms.pagerank import PageRank
from linkgraph.algorithms.triangles import _triangles_local, triangle_count
from linkgraph.algorithms.wcc import wcc
from linkgraph.graph import Graph
from linkgraph.pipeline import dedup
from linkgraph.pipeline.dedup import dedup_keep_best, near_duplicate_clusters
from linkgraph.queries import QUERIES


# ------------------------------------------------------------ store builds
def _store_files(path):
    """{relative file name: array} of every block array, and the manifest."""
    arrays = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".npy"):
                arrays[os.path.relpath(os.path.join(root, f), path)] = np.load(
                    os.path.join(root, f)
                )
    return arrays, blocks.read_manifest(path)


# dyadic weights, so every per-source weight sum is exact in any order
WEIGHTED_DUPLICATES = [
    (0, 1, 0.5), (0, 1, 1.5), (0, 2, 2.0), (1, 2, 0.25), (2, 0, 3.0),
    (2, 0, 0.75), (3, 1, 1.0), (1, 1, 2.0), (4, 1000, 1.0), (1000, 3, 0.5),
]


@pytest.mark.parametrize("triples", [WEIGHTED_DUPLICATES, []], ids=["edges", "empty"])
@pytest.mark.parametrize(
    "layout, meta",
    [
        ("pull", {"normalize": True, "denom_add": 0.75, "weighted": True}),
        ("pull", {"normalize": False}),
        ("push", {"weighted": True}),
    ],
    ids=["pull-normalized", "pull-raw", "push"],
)
def test_driver_and_spark_store_builds_match(spark, tmp_path, triples, layout, meta):
    """The same edges built from a DataFrame (Spark tasks) and from the
    collected pandas frame (the driver) give identical arrays, dtypes and
    manifests, endpoint range included (node 1000 is outside 0..4)."""
    write = blocks.write_pull_blocks if layout == "pull" else blocks.write_edge_blocks
    df = edges_df(spark, triples)
    write(df, 3, str(tmp_path / "spark"), **meta)
    write(df.toPandas(), 3, str(tmp_path / "driver"), **meta)
    got, got_manifest = _store_files(str(tmp_path / "driver"))
    want, want_manifest = _store_files(str(tmp_path / "spark"))
    assert got_manifest == want_manifest
    if triples and layout == "pull":
        assert got_manifest["endpoints"] == [0, 1000]
    if triples and layout == "push":
        assert any(name.endswith("w_raw.npy") for name in got)
    assert sorted(got) == sorted(want)
    for name, arr in want.items():
        assert got[name].dtype == arr.dtype, name
        assert np.array_equal(got[name], arr), name


def test_open_store_builds_driver_sized_store_without_spark_build(spark, tmp_path, monkeypatch):
    """open_store sizes a driver-sized store from the probe's row count and
    hands the collected frame to the writer; past the budget it passes the
    DataFrame, sized by a count."""
    seen = []
    write = blocks.write_pull_blocks
    monkeypatch.setattr(
        blocks, "write_pull_blocks",
        lambda e, b, *a, **kw: seen.append((type(e), b)) or write(e, b, *a, **kw),
    )
    df = edges_df(spark, WEIGHTED_DUPLICATES)
    _, b = blocks.open_store(df, "pull", str(tmp_path / "small"))
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", -1)
    blocks.open_store(df, "pull", str(tmp_path / "large"))
    assert b == blocks._num_blocks(len(WEIGHTED_DUPLICATES), 4) == 1
    assert [t for t, _ in seen] == [pd.DataFrame, type(df)]
    assert _store_files(str(tmp_path / "small"))[1] == _store_files(str(tmp_path / "large"))[1]


def test_open_store_drops_null_endpoints_in_either_build(spark, tmp_path, monkeypatch):
    """A row with a null endpoint is dropped by the driver build and by the
    Spark build alike, so both stores hold the same arrays."""
    df = spark.createDataFrame(
        [(0, 1, 1.0), (None, 1, 1.0), (1, 2, 2.0), (2, None, 1.0), (2, 0, 4.0)],
        "src long, dst long, weight double",
    )
    blocks.open_store(df, "pull", str(tmp_path / "small"))
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", -1)
    blocks.open_store(df, "pull", str(tmp_path / "large"))
    got, got_manifest = _store_files(str(tmp_path / "small"))
    want, want_manifest = _store_files(str(tmp_path / "large"))
    assert got_manifest == want_manifest
    assert blocks._store_edge_count(str(tmp_path / "small")) == 3
    assert sorted(got) == sorted(want)
    for name, arr in want.items():
        assert np.array_equal(got[name], arr), name


@pytest.mark.parametrize("algo", ["wcc", "lpa"])
def test_pull_store_past_budget_skips_second_probe(spark, monkeypatch, algo):
    """Past the budget, WCC's and LPA's pull stores are counted and built
    by Spark at once: the raw-edge probe that just failed is the only
    LIMIT-bounded collect, and the labels equal the driver side's."""
    e = edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 2.0), (3, 4, 1.0),
                         (4, 5, 1.0), (5, 5, 1.0), (1, 0, 1.0)])
    g = Graph.from_edges(e, nodes=spark.range(7).select("id"))
    run, cols = {
        "wcc": (lambda: wcc(g), ["id", "component"]),
        "lpa": (lambda: label_propagation(g, max_iterations=6), ["id", "label"]),
    }[algo]
    local = _rows(run(), cols)
    probes = []
    collect = blocks.collect_if_small
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", 3)
    monkeypatch.setattr(
        blocks, "collect_if_small", lambda df, *a, **kw: probes.append(df) or collect(df, *a, **kw)
    )
    sides = []
    open_store = blocks.open_store
    monkeypatch.setattr(
        blocks, "open_store", lambda *a, **kw: sides.append(kw.get("probe")) or open_store(*a, **kw)
    )
    assert _rows(run(), cols) == local
    assert len(probes) == 1 and sides == [False]


def test_pagerank_past_budget_builds_store_without_probe_or_count(spark, monkeypatch, tmp_path):
    """PageRank counts its edge rows in the node aggregate, so past the
    budget its pull store is built by Spark, sized from that count, with
    no LIMIT-bounded probe and no count of its own."""
    g = _dense_graph(spark, 12)
    want = _ranks(PageRank(max_iterations=10).run(g))
    calls = []
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", 100)
    monkeypatch.setattr(blocks, "collect_if_small", lambda *a, **kw: calls.append("probe"))
    monkeypatch.setattr(blocks, "auto_num_blocks", lambda *a, **kw: calls.append("count"))
    got = _ranks(PageRank(max_iterations=10, block_store=str(tmp_path / "s")).run(g))
    assert calls == []
    assert blocks._store_edge_count(str(tmp_path / "s")) == 201
    assert np.allclose([got[i] for i in range(60)], [want[i] for i in range(60)], atol=1e-12)


# --------------------------------------------------------------- job budget
def _dense_graph(spark, salt):
    """Random edges over the node ids 0..59; ``salt`` (0..58) makes each
    plan new, so no call reuses a cached store."""
    rng = np.random.default_rng(7)
    pairs = [(int(a), int(b), 1.0) for a, b in rng.integers(0, 60, (200, 2))]
    e = edges_df(spark, pairs + [(salt, salt + 1, 1.0)])
    return Graph.from_edges(e, nodes=spark.range(60).select("id"))


def _jobs(spark, name, run):
    """Spark jobs of ``run()`` plus the caller's toPandas, counted in a job
    group of their own."""
    sc = spark.sparkContext
    group = f"driver-side-{name}"
    sc.setJobGroup(group, group)
    try:
        run().toPandas()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "salt, name, limit",
    [(1, "pagerank", 4), (2, "wcc", 3), (3, "lpa", 3), (4, "triangles", 3)],
)
def test_driver_side_job_budget(spark, tmp_path, salt, name, limit):
    """A driver-sized call and its caller's action take at most ``limit``
    jobs: the raw probes, the pull-node probe for PageRank, and the
    action on a local relation (11 / 5 / 5 / 5 before these sides read
    the raw tables)."""
    g = _dense_graph(spark, salt)
    run = {
        "pagerank": lambda: PageRank(max_iterations=20, block_store=str(tmp_path / "s")).run(g),
        "wcc": lambda: wcc(g),
        "lpa": lambda: label_propagation(g),
        "triangles": lambda: triangle_count(g),
    }[name]
    assert _jobs(spark, name, run) <= limit


# ---------------------------------------------------------- edge semantics
def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _both_sides(monkeypatch, run):
    local = run()
    with monkeypatch.context() as m:
        m.setattr(blocks, "DRIVER_EDGE_THRESHOLD", -1)
        return local, run()


def _ranks(df):
    return dict(_rows(df, ["id", "rank"]))


@pytest.mark.parametrize("strategy", ["pull", "csr"])
def test_personalized_pagerank_ignores_source_outside_nodes(spark, monkeypatch, strategy):
    g = _dense_graph(spark, 10)

    def run():
        return _ranks(PageRank(max_iterations=10, source_nodes=[3, 99], strategy=strategy).run(g))

    local, dist = _both_sides(monkeypatch, run)
    only_3 = _ranks(PageRank(max_iterations=10, source_nodes=[3], strategy=strategy).run(g))
    assert sorted(local) == list(range(60))
    assert np.allclose([local[i] for i in range(60)], [dist[i] for i in range(60)], atol=1e-12)
    assert np.allclose([local[i] for i in range(60)], [only_3[i] for i in range(60)], atol=1e-12)


def test_explicit_pull_checks_contiguity_only(spark, monkeypatch):
    """An explicit pull runs past the memory cap (that cap guards auto's
    choice only), returns an empty frame for an empty node table, and
    raises on ids that are not 0..n-1."""
    g = _dense_graph(spark, 11)
    auto = PageRank(max_iterations=10)
    want = _ranks(auto.run(g))
    monkeypatch.setattr(blocks, "_pull_node_cap", lambda spark: 1)
    pull = PageRank(max_iterations=10, strategy="pull")
    got = _ranks(pull.run(g))
    assert pull.resolved_strategy == "pull" and sorted(got) == list(range(60))
    assert np.allclose([got[i] for i in range(60)], [want[i] for i in range(60)], atol=1e-12)
    auto.run(g)
    assert auto.resolved_strategy == "csr"
    empty = PageRank(strategy="pull").run(_empty(spark))
    assert empty.columns == ["id", "rank"] and empty.collect() == []
    sparse = Graph.from_edges(edges_df(spark, [(0, 2, 1.0)]), nodes=nodes_df(spark, [0, 2]))
    with pytest.raises(ValueError, match="contiguous node ids"):
        PageRank(strategy="pull").run(sparse)


@pytest.mark.parametrize("direction", ["BOTH", "OUTGOING"])
def test_seeded_and_directed_lpa_match_distributed(spark, monkeypatch, direction):
    """Seeded labels (some nodes unseeded) and the OUTGOING edge view, with
    duplicate, reciprocal and loop edges, agree with the pull side."""
    edges = [(0, 1, 2.0), (1, 0, 1.0), (1, 2, 1.0), (1, 2, 1.0), (2, 3, 1.0),
             (3, 3, 5.0), (4, 3, 1.0), (5, 4, 2.0), (6, 5, 1.0), (6, 6, 1.0)]
    g = Graph.from_edges(
        edges_df(spark, edges), nodes=nodes_df(spark, range(8), {0: 40, 3: 7, 5: 7})
    )

    def run():
        out = label_propagation(g, max_iterations=6, seed_col="seed", direction=direction)
        return _rows(out, ["id", "label"]), out.iterations, out.did_converge

    local, dist = _both_sides(monkeypatch, run)
    assert local == dist
    assert dict(local[0])[7] == 7  # isolated, unseeded: keeps its id


def test_wcc_and_triangles_with_node_table_over_budget(spark, monkeypatch):
    """Few edges, a node table over the budget: the edges still take the
    driver side and the node table is joined, as the distributed side
    gives."""
    e = edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (5, 6, 1.0)])
    g = Graph.from_edges(e, nodes=spark.range(12).select("id"))
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", 5)
    assert _triangles_local(g) is not None
    comp = _rows(wcc(g), ["id", "component"])
    tri = _rows(triangle_count(g), ["id", "triangles", "coefficient"])
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", -1)
    assert comp == _rows(wcc(g), ["id", "component"])
    assert tri == _rows(triangle_count(g), ["id", "triangles", "coefficient"])
    assert dict(comp)[6] == 5 and tri[0] == (0, 1, 1.0) and len(tri) == 12


def _messy(spark):
    """Self-loops, duplicate and reciprocal edges, isolated nodes 8 and 9,
    and endpoint 50, which closes a triangle but is no node id."""
    edges = [(0, 1, 1.0), (1, 2, 2.0), (2, 0, 1.0), (0, 1, 3.0), (1, 0, 1.0),
             (3, 3, 1.0), (3, 4, 1.0), (4, 5, 1.0), (5, 3, 1.0), (5, 5, 2.0),
             (6, 50, 1.0), (50, 7, 1.0), (7, 6, 1.0)]
    return Graph.from_edges(edges_df(spark, edges), nodes=nodes_df(spark, range(10)))


def _empty(spark):
    return Graph.from_edges(edges_df(spark, []), nodes=nodes_df(spark, []))


def _edgeless(spark):
    return Graph.from_edges(edges_df(spark, []), nodes=nodes_df(spark, range(4)))


ALGOS = {
    "kcore": lambda g: _rows(k_core(g, 2), ["id", "in_core"]),
    "ktruss": lambda g: _rows(k_truss(g, 3), ["src", "dst", "support"]),
    "wcc": lambda g: _rows(wcc(g), ["id", "component"]),
    "lpa": lambda g: _rows(label_propagation(g, max_iterations=8), ["id", "label"]),
    "lpa_out": lambda g: _rows(
        label_propagation(g, max_iterations=8, direction="OUTGOING"), ["id", "label"]
    ),
    "triangles": lambda g: _rows(triangle_count(g), ["id", "triangles", "coefficient"]),
    "pagerank": lambda g: [
        (i, round(r, 9)) for i, r in _rows(PageRank(max_iterations=10).run(g), ["id", "rank"])
    ],
}


@pytest.mark.parametrize("graph", [_messy, _edgeless, _empty], ids=["messy", "edgeless", "empty"])
@pytest.mark.parametrize("algo", sorted(ALGOS))
def test_driver_side_matches_distributed(spark, monkeypatch, graph, algo):
    g = graph(spark)
    local, dist = _both_sides(monkeypatch, lambda: ALGOS[algo](g))
    assert local == dist
    if graph is _messy and algo in ("wcc", "lpa", "triangles"):
        ids = [r[0] for r in local]
        assert ids == list(range(10))  # every node row, and no row for 50
    if graph is _messy and algo == "wcc":
        assert dict(local)[7] == 6 and dict(local)[9] == 9
    if graph is _messy and algo == "triangles":
        assert [r[1] for r in local] == [1, 1, 1, 1, 1, 1, 1, 1, 0, 0]


def test_kcore_of_undirected_graph_keeps_its_edge_rows(spark, monkeypatch):
    """An undirected (direction BOTH) graph's edges are used as they are,
    loops dropped, on either side."""
    e = edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (2, 3, 1.0), (3, 3, 1.0)])
    g = Graph.from_edges(e, nodes=nodes_df(spark, range(5)), direction="BOTH")
    local, dist = _both_sides(monkeypatch, lambda: _rows(k_core(g, 2), ["id", "in_core"]))
    assert local == dist == [(0, True), (1, True), (2, True), (3, False), (4, False)]


# ------------------------------------------ set similarity and near-dup
# duplicate rows, a null item, null categories (they count toward the
# degree but never intersect), an item with only a null category, an item
# sharing nothing, and ties on similarity (1-2 and 1-3 both 2/4)
EVENTS = [
    (1, "x"), (1, "y"), (1, "z"), (1, "x"), (2, "x"), (2, "y"), (2, None),
    (3, "x"), (3, "y"), (3, "w"), (4, "z"), (4, "w"), (4, "z"), (5, None),
    (None, "x"), (None, "y"), (6, "q"), (7, "x"), (7, "y"), (7, "z"),
    (7, "w"), (8, "y"), (8, None), (8, None),
]
SIM_OPTIONS = {
    "all": {},
    "top_k": {"top_k": 2},
    "cutoff": {"similarity_cutoff": 0.5},
    "degree": {"degree_cutoff": 3},
    "top": {"top": 5},
    "combined": {"top_k": 3, "similarity_cutoff": 0.3, "degree_cutoff": 2, "top": 6},
}


def _events(spark, rows, typed):
    df = spark.createDataFrame(rows, "user long, cat string")
    if typed == "string_items_int_cats":
        df = df.select(F.col("user").cast("string").alias("user"), F.ascii("cat").alias("cat"))
    return df


@pytest.mark.parametrize("typed", ["long_items", "string_items_int_cats"])
@pytest.mark.parametrize("rows", [EVENTS, []], ids=["events", "empty"])
@pytest.mark.parametrize("option", sorted(SIM_OPTIONS))
@pytest.mark.parametrize("kind", ["jaccard", "overlap"])
def test_set_similarity_driver_side_matches_dataframe(spark, monkeypatch, kind, option, rows, typed):
    df = _events(spark, rows, typed)
    opts = SIM_OPTIONS[option]
    fn = getattr(similarity, kind)
    args = (df, "user", "cat", kind, opts.get("top_k"), opts.get("similarity_cutoff"),
            opts.get("degree_cutoff"), opts.get("top"))
    assert similarity._set_similarity_local(*args) is not None

    def run():
        out = fn(df, "user", "cat", **opts)
        return _rows(out, ["a", "b", "similarity"]), out.schema.simpleString()

    local, dist = _both_sides(monkeypatch, run)
    assert local == dist
    if rows and option == "all" and typed == "long_items":
        pairs = {(a, b): s for a, b, s in local[0]}
        assert not any(5 in p or None in p or 6 in p for p in pairs)
        if kind == "jaccard":
            assert pairs[(1, 2)] == pairs[(1, 3)] == 0.5  # 2 is {x, y, null}
            assert pairs[(2, 8)] == 0.25  # a null category never intersects


def _docs(spark, texts):
    return spark.createDataFrame(
        [(10 * i + 3, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


NEAR_DUP_TEXTS = [
    "a b c d e",        # with the next: 4/5, exactly at the 0.8 cut
    "a b c d",
    "b c d e f",        # 4/6 with the first: in only at t = 0.66667
    "p q r s t u v w",  # with the next: 7/9, one token below the cut
    "p q r s t u v x",
    "m n o m",          # the same token set as the next two
    "o n m",
    "n m o o",
    None,               # null text: singletons
    None,
    "",
    "",
    "k  l",             # {k, "", l}: 2/3 with the next
    "k l",
]


@pytest.mark.parametrize("threshold", [0.8, 0.66667])
def test_near_duplicate_driver_side_matches_dataframe(spark, monkeypatch, threshold):
    docs = _docs(spark, NEAR_DUP_TEXTS)
    assert dedup._near_dup_clusters_local(docs, threshold, "text") is not None

    def run():
        out = near_duplicate_clusters(docs, threshold)
        return (
            _rows(out, ["doc_id", "cluster", "is_representative"]),
            _rows(dedup_keep_best(docs, threshold), ["cluster", "doc_id", "n_tokens"]),
            out.schema.simpleString(),
        )

    local, dist = _both_sides(monkeypatch, run)
    assert local == dist
    cluster = {d: c for d, c, _ in local[0]}
    low = threshold < 0.8
    assert cluster[13] == 3  # 4/5 is at the 0.8 cut
    assert cluster[43] == (33 if low else 43)  # 7/9 is one token below it
    assert cluster[23] == (3 if low else 23)  # round(2/3, 5) = 0.66667
    assert cluster[133] == (123 if low else 133)  # the empty token counts
    assert cluster[63] == cluster[73] == 53  # identical token sets
    assert cluster[83] == 83 and cluster[93] == 93  # null text
    assert cluster[113] == 103  # "" is the token set {""}


@pytest.mark.parametrize("t", [0.8, 0.66667, 0.7, 0.1, 0.333333, 0.99999, 1.0, 0.0])
def test_round5_cut_is_half_up_rounding(t):
    """The driver's integer cut 2·10⁵·i >= (2R − 1)·u equals
    round(i/u, 5) >= t with HALF_UP decimal rounding of the double, as
    Spark's ``round`` does, for every i <= u <= 80."""
    cut = 2 * dedup._round5_cut(t) - 1
    for u in range(1, 81):
        for i in range(u + 1):
            rounded = float(Decimal(repr(i / u)).quantize(Decimal("1e-5"), ROUND_HALF_UP))
            assert (200_000 * i >= cut * u) == (rounded >= t), (i, u)


@pytest.fixture(scope="module")
def contract_sf(tmp_path_factory):
    """Contract-schema documents and events at the sf0.01 sizes (500
    documents, 10,000 events), from the benchmark's seeded generator."""
    from lgbench import inputs

    return inputs.write_contract_tables(1, str(tmp_path_factory.mktemp("contract")), 500, 10_000)


@pytest.mark.parametrize("query", ["user_jaccard_topk", "dedup_clusters"])
def test_similarity_and_dedup_job_budget(spark, contract_sf, query):
    """The query and its caller's toPandas take at most 3 jobs: the raw
    probe and the action on a local relation (9-14 and 17 with every
    stage in Spark)."""
    assert _jobs(spark, query, lambda: QUERIES[query](spark, contract_sf)) <= 3


@pytest.mark.parametrize(
    "query, probe",
    [("user_jaccard_topk", ["item", "cat"]), ("dedup_clusters", ["doc_id", "text"])],
)
def test_past_work_gate_drops_one_collect(spark, monkeypatch, contract_sf, query, probe):
    """Past the work gate (threshold 12,000: 166 users have more pairs;
    500 documents are more rows than the 155 whose pairs fit), the raw
    probe is the one collect dropped and the Spark path returns the same
    rows."""
    want = QUERIES[query](spark, contract_sf).toPandas()
    probes = []
    collect = blocks.collect_if_small
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", 12_000)
    monkeypatch.setattr(
        blocks, "collect_if_small",
        lambda df, *a, **kw: probes.append(df.columns) or collect(df, *a, **kw),
    )
    got = QUERIES[query](spark, contract_sf).toPandas()
    assert probes[0] == probe and probes.count(probe) == 1
    cols = sorted(want.columns)
    assert _rows_pd(got, cols) == _rows_pd(want, cols)


def _rows_pd(pdf, cols):
    return sorted(tuple(r) for r in pdf[cols].itertuples(index=False))


@pytest.mark.parametrize("threshold", [-1, 0, 1, 2, 3, 12_000, 2_000_000])
def test_pair_budget_is_the_most_rows_whose_pairs_fit(monkeypatch, threshold):
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", threshold)
    u = blocks.pair_budget()
    if threshold < 0:
        assert u < 0
    else:
        assert u * (u - 1) // 2 <= threshold < (u + 1) * u // 2
    assert threshold != 2_000_000 or u == 2_000


def test_near_dup_probe_collects_at_most_the_pair_budget(spark, monkeypatch, contract_sf):
    """Texts are wide rows: past the gate (500 documents, 155 rows whose
    pairs fit 12,000) no more than 156 texts reach the driver, where the
    edge-row budget would have collected all 500, and the Spark path
    returns the same clusters."""
    docs = spark.read.parquet(os.path.join(contract_sf, "documents.parquet"))
    want = _rows(near_duplicate_clusters(docs), ["doc_id", "cluster", "is_representative"])
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", 12_000)
    assert blocks.pair_budget() == 155
    collected = []
    to_pandas = type(docs).toPandas

    def recording(df):
        pdf = to_pandas(df)
        if "text" in df.columns:
            collected.append(len(pdf))
        return pdf

    monkeypatch.setattr(type(docs), "toPandas", recording)
    got = _rows(near_duplicate_clusters(docs), ["doc_id", "cluster", "is_representative"])
    assert collected == [156]
    assert got == want


def test_near_dup_incidence_gate_runs_before_the_masks(spark, monkeypatch):
    """Three documents of 1,000 distinct tokens each fit the rows and the
    pairs of threshold 5,000 but not their 3 × 3,000 incidence cells:
    the driver side declines before any bitmask is allocated."""
    docs = _docs(spark, [" ".join(f"{d}t{k}" for k in range(1_000)) for d in range(3)])
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", 5_000)
    built = []
    monkeypatch.setattr(blocks, "set_masks", lambda *a: built.append(a))
    assert dedup._near_dup_clusters_local(docs, 0.8, "text") is None
    assert built == []
