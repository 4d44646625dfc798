"""Round-4 ADVICE regression tests: ANF empty graph + two-flat-hop stop,
store-cache pinning, linkprediction persist leak, session gap boundary."""

import datetime
import gc
import os
import time

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tests.conftest import edges_df, nodes_df
from linkgraph.graph import Graph


def test_anf_empty_graph_returns_zero_row(spark):
    from linkgraph.algorithms.anf import neighborhood_function

    g = Graph.from_edges(
        spark.createDataFrame([], "src long, dst long, weight double"),
        nodes=spark.createDataFrame([], "id long"),
    )
    rows = neighborhood_function(g, max_h=4).collect()
    assert [(r["h"], r["neighborhood_estimate"]) for r in rows] == [(0, 0.0)]


def test_anf_effective_diameter_empty_graph(spark):
    from linkgraph.algorithms.anf import effective_diameter

    g = Graph.from_edges(
        spark.createDataFrame([], "src long, dst long, weight double"),
        nodes=spark.createDataFrame([], "id long"),
    )
    row = effective_diameter(g).first()
    assert row["max_hop"] == 0


def test_store_cache_pin_blocks_eviction(tmp_path):
    from linkgraph.algorithms import blocks

    saved_cache = dict(blocks._STORE_DIR_CACHE)
    blocks._STORE_DIR_CACHE.clear()
    try:
        path = blocks.cached_store_dir(("pin-test", 0), "lg_pin_test_")
        assert os.path.isdir(path)
        with blocks.pinned_store(path):
            # flood the cache far past its bound — the pinned dir survives
            for i in range(1, blocks._STORE_DIR_CACHE_MAX + 8):
                blocks.cached_store_dir(("pin-test", i), "lg_pin_test_")
            assert os.path.isdir(path)
        # unpinned now: one more insertion may evict it (oldest first)
        blocks.cached_store_dir(("pin-test", 999), "lg_pin_test_")
        assert not os.path.isdir(path)
    finally:
        for p in blocks._STORE_DIR_CACHE.values():
            import shutil

            shutil.rmtree(p, ignore_errors=True)
        blocks._STORE_DIR_CACHE.clear()
        blocks._STORE_DIR_CACHE.update(saved_cache)


def test_store_cache_evicts_least_recently_used(tmp_path):
    """A store hit before each fresh build is the most recent entry every
    time, so a flood of fresh builds never evicts it."""
    import shutil

    from linkgraph.algorithms import blocks

    saved_cache = dict(blocks._STORE_DIR_CACHE)
    blocks._STORE_DIR_CACHE.clear()
    try:
        hot = blocks.cached_store_dir(("lru-test", "hot"), "lg_lru_test_")
        open(os.path.join(hot, "_SUCCESS"), "w").close()  # a finished store
        for i in range(blocks._STORE_DIR_CACHE_MAX + 1):
            assert blocks.cached_store_dir(("lru-test", "hot"), "lg_lru_test_") == hot
            blocks.cached_store_dir(("lru-test", i), "lg_lru_test_")
        assert os.path.isdir(hot)
        assert blocks._STORE_DIR_CACHE[("lru-test", "hot")] == hot
        # the first fresh build was used least recently: it was evicted
        assert ("lru-test", 0) not in blocks._STORE_DIR_CACHE
    finally:
        for p in blocks._STORE_DIR_CACHE.values():
            shutil.rmtree(p, ignore_errors=True)
        blocks._STORE_DIR_CACHE.clear()
        blocks._STORE_DIR_CACHE.update(saved_cache)


def test_link_prediction_does_not_leak_persisted_rdds(spark):
    """Repeated calls must not grow the persistent-RDD registry: each call
    unpersists the previous call's cached adjacency, so at most ONE stays
    registered (a bare .persist() per call grew without bound)."""
    from linkgraph.functions.linkprediction import link_prediction_scores

    g = Graph.from_edges(
        edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 2, 1.0)]),
        nodes=nodes_df(spark, range(4)),
    )
    pairs = spark.createDataFrame([(0, 3), (1, 3)], "src long, dst long")

    jsc = spark.sparkContext._jsc.sc()
    baseline = jsc.getPersistentRDDs().size()
    for _ in range(4):
        link_prediction_scores(g, pairs).collect()
    assert jsc.getPersistentRDDs().size() <= baseline + 1


def _boundary_events():
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    return pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [
                t0,
                t0 + datetime.timedelta(seconds=1800),  # exactly the gap
                t0 + datetime.timedelta(seconds=1900),
            ],
            "user_id": [7, 7, 7],
            "event_type": ["a", "b", "a"],
            "value": [1.0, 1.0, 1.0],
            "props": ["", "", ""],
        }
    )


def test_session_gap_boundary_spark_vs_oracle(spark):
    """Boundary semantics, determined EMPIRICALLY: an event exactly gap
    seconds after its predecessor MERGES into the session (Spark merges
    the touching windows [t, t+gap) and [t+gap, ...)), while gap+1 splits.
    The DuckDB oracle must split only on diff > gap — same rule."""
    from linkgraph import queries as Q
    from linkgraph.pipeline.sessions import sessionize

    pdf = _boundary_events()
    sdf = spark.createDataFrame(pdf)
    got = sessionize(sdf, gap="30 minutes").orderBy("start_s").collect()
    spark_counts = [r["n_events"] for r in got]

    con = duckdb.connect()
    con.register("events", pdf)
    oracle = con.execute(Q.sql_sessionize() + " ORDER BY start_s").fetchall()
    assert [r[3] for r in oracle] == spark_counts == [3]

    # one second past the gap DOES split — both engines agree
    pdf2 = pdf.copy()
    pdf2.loc[1, "ts"] += datetime.timedelta(seconds=1)
    pdf2.loc[2, "ts"] += datetime.timedelta(seconds=1)
    got2 = sessionize(spark.createDataFrame(pdf2), gap="30 minutes").orderBy(
        "start_s"
    ).collect()
    con2 = duckdb.connect()
    con2.register("events", pdf2)
    oracle2 = con2.execute(Q.sql_sessionize() + " ORDER BY start_s").fetchall()
    assert [r[3] for r in oracle2] == [r["n_events"] for r in got2] == [1, 2]

    # co-occurrence oracle shares the rule: merged session {a,b} → 1 pair
    co = con.execute(Q.sql_session_cooccurrence()).fetchall()
    assert co == [("a", "b", 1)]
