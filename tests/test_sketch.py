"""Heavy hitters (Misra-Gries + exact verify), count-min, graph stats."""

import numpy as np


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_heavy_hitters_matches_exact_reference(spark):
    """Sketch-fronted path is value-identical to the full-shuffle exact
    path on a skewed corpus, across partition counts (MG summaries are
    mergeable — partitioning must not change the exact output)."""
    from linkgraph.pipeline.sketch import heavy_hitters
    from oracles import exact_heavy_hitters

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(200)]
    p = 1.0 / np.arange(1, 201)
    p /= p.sum()  # zipf: top token ~17% of mass, rank-34 ~phi 0.005
    texts = [" ".join(rng.choice(vocab, size=30, p=p)) for _ in range(60)]
    docs = _docs(spark, texts)
    for phi in (0.005, 0.02, 0.08):
        want = sorted(map(tuple, exact_heavy_hitters(docs, phi=phi).collect()))
        assert want, f"degenerate fixture at phi={phi}"
        for parts in (1, 7):
            got = sorted(
                map(tuple, heavy_hitters(docs.repartition(parts), phi=phi).collect())
            )
            assert got == want


def test_heavy_hitters_planted_no_false_negative(spark):
    """A token planted at exactly the phi threshold across many partitions
    survives the per-partition summaries (the MG superset guarantee)."""
    from linkgraph.pipeline.sketch import heavy_hitters

    # 1000 tokens total: 'hot' appears 100x (phi=0.1 exactly), tail unique
    texts = ["hot " + " ".join(f"u{i}_{j}" for j in range(9)) for i in range(100)]
    docs = _docs(spark, texts).repartition(16)
    got = {r["token"]: r["count"] for r in heavy_hitters(docs, phi=0.1).collect()}
    assert got == {"hot": 100}


def test_heavy_hitters_rejects_bad_phi(spark):
    import pytest

    from linkgraph.pipeline.sketch import heavy_hitters

    with pytest.raises(ValueError):
        heavy_hitters(_docs(spark, ["a b"]), phi=0.0)


def _edges(spark, pairs):
    from pyspark.sql import functions as F

    return spark.createDataFrame(pairs, "src long, dst long")


def test_reciprocity_hand_graph(spark):
    from linkgraph.algorithms.graphstats import reciprocity

    e = _edges(spark, [(1, 2), (2, 1), (1, 3)])
    row = reciprocity(e).collect()[0]
    assert row["n_edges"] == 3 and row["n_reciprocal"] == 2
    assert abs(row["reciprocity"] - round(2 / 3, 6)) < 1e-12


def test_assortativity_matches_numpy(spark):
    from linkgraph.algorithms.graphstats import degree_assortativity

    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (3, 4), (4, 1), (4, 2)]
    got = degree_assortativity(_edges(spark, pairs)).collect()[0]["assortativity"]
    od = {}
    idg = {}
    for s, d in pairs:
        od[s] = od.get(s, 0) + 1
        idg[d] = idg.get(d, 0) + 1
    xs = np.array([od[s] for s, _ in pairs], dtype=float)
    ys = np.array([idg[d] for _, d in pairs], dtype=float)
    want = np.corrcoef(xs, ys)[0, 1]  # sample Pearson == corrcoef
    assert abs(got - round(want, 6)) < 1e-9


def test_count_min_never_undercounts_and_exact_when_wide(spark):
    from collections import Counter

    from linkgraph.pipeline.sketch import count_min_token_counts

    texts = [(i, " ".join(f"w{j % 9}" for j in range(i, i + 12))) for i in range(20)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    exact = Counter(t for _, s in texts for t in s.split(" "))

    # narrow sketch: estimates are an upper bound on the true counts
    est_narrow = {
        r.token: r.est_count
        for r in count_min_token_counts(docs, depth=4, width=8, k=100).collect()
    }
    for tok, est in est_narrow.items():
        assert est >= exact[tok], (tok, est, exact[tok])

    # wide sketch (width >> vocab): every estimate collapses to the truth
    est_wide = {
        r.token: r.est_count
        for r in count_min_token_counts(docs, depth=4, width=4096, k=100).collect()
    }
    assert est_wide == dict(exact)


def test_count_min_partition_invariant(spark):
    from linkgraph.pipeline.sketch import count_min_token_counts

    texts = [(i, " ".join(f"t{(i * j) % 13}" for j in range(10))) for i in range(30)]
    d1 = spark.createDataFrame(texts, "doc_id long, text string")
    d2 = spark.createDataFrame(texts, "doc_id long, text string").repartition(7)
    a = sorted(map(tuple, count_min_token_counts(d1, width=16, k=100).collect()))
    b = sorted(map(tuple, count_min_token_counts(d2, width=16, k=100).collect()))
    assert a == b


def test_mg_update_state_bound_and_superset():
    """The MG step keeps <= k counters after every batch and never evicts
    a token whose true count exceeds the accumulated decrement bound
    m/(k+1) — asserted directly on the pure function."""
    import pandas as pd

    from linkgraph.pipeline.sketch import mg_update

    counters: dict = {}
    total = 0
    for b in range(6):
        toks = ["hot"] * 30 + [f"rare{b}_{i}" for i in range(20)]
        total += len(toks)
        counters = mg_update(counters, pd.Series(toks), k=8)
        assert len(counters) <= 8
    # 'hot' holds 180/220 of the mass — MG must retain it
    assert "hot" in counters
    assert counters["hot"] <= 180  # never overcounts
    assert counters["hot"] >= 180 - total / (8 + 1) - 1
