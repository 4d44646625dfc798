"""DIMSUM sampled cosine: exactness at large gamma, deterministic
sampling, fan-out bound."""

import numpy as np
from pyspark.sql import functions as F

from linkgraph.pipeline.dimsum import dimsum_cosine


def _trips(spark, rows):
    return spark.createDataFrame(rows, "row string, col long, val double")


def test_exact_at_large_gamma(spark):
    # 4 columns over 6 rows with varied values
    rng = np.random.RandomState(7)
    dense = rng.rand(6, 4).round(3)
    rows = [
        (f"r{i}", j, float(dense[i, j]))
        for i in range(6)
        for j in range(4)
        if dense[i, j] > 0.2
    ]
    got = {
        (r.col_a, r.col_b): r.cos_est
        for r in dimsum_cosine(_trips(spark, rows), gamma=1e6, k=100).collect()
    }
    M = np.zeros((6, 4))
    for r, c, v in rows:
        M[int(r[1:]), c] = v
    norms = np.sqrt((M * M).sum(axis=0))
    for (a, b), est in got.items():
        exact = float(M[:, a] @ M[:, b] / (norms[a] * norms[b]))
        assert abs(est - exact) < 1e-4, (a, b, est, exact)
    # every nonzero pair present at gamma -> infinity (no sampling loss)
    for a in range(4):
        for b in range(a + 1, 4):
            if M[:, a] @ M[:, b] > 0:
                assert (a, b) in got


def test_deterministic_and_partition_invariant(spark):
    rows = [(f"t{i % 13}", i % 7, 1.0) for i in range(300)]
    rows = list({(r, c): (r, c, v) for r, c, v in rows}.values())
    t1 = _trips(spark, rows)
    t2 = _trips(spark, rows).repartition(11)
    a = sorted(map(tuple, dimsum_cosine(t1, gamma=4.0, k=50).collect()))
    b = sorted(map(tuple, dimsum_cosine(t2, gamma=4.0, k=50).collect()))
    assert a == b and len(a) > 0


def test_sampling_bounds_fanout(spark):
    # one stopword row touching all 40 columns, columns have norm ~ sqrt(20)
    rows = [("stop", c, 1.0) for c in range(40)] + [
        (f"w{i}", c, 1.0) for c in range(40) for i in range(c % 19)
    ]
    t = _trips(spark, rows)
    # tiny gamma: kept entries per row ~ sqrt(gamma)/norm fraction -> far
    # fewer pairs than the unsampled stopword row's 40*39/2
    est = dimsum_cosine(t, gamma=1.0, k=10_000)
    n_pairs = est.count()
    assert n_pairs < 40 * 39 / 2


def test_token_incidence_triplets_shape(spark):
    from linkgraph.pipeline.dimsum import token_incidence_triplets

    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "b c")], "doc_id long, text string"
    )
    got = {(r.row, r.col) for r in token_incidence_triplets(docs).collect()}
    assert got == {(0, "a"), (0, "b"), (1, "b"), (1, "c")}


def test_token_orientation_samples_stopwords_hardest(spark):
    """In the (row=doc, col=token) orientation a stopword COLUMN has norm
    √df, so its keep probability √γ/√df vanishes as df grows — the kept
    entry count for the stopword must be ~√γ·√df, far below df, while a
    rare token (df ≤ γ) keeps everything."""
    from linkgraph.pipeline.dimsum import token_incidence_triplets
    from linkgraph.pipeline.text import md5_uniform

    n = 400
    docs = spark.createDataFrame(
        [(i, "the " + f"rare{i % 100}") for i in range(n)],
        "doc_id long, text string",
    )
    t = token_incidence_triplets(docs)
    gamma = 4.0
    sg = gamma ** 0.5
    norms = t.groupBy("col").agg(
        F.sqrt(F.count(F.lit(1)).cast("double")).alias("norm")
    )
    kept = (
        t.join(norms, "col")
        .where(md5_uniform(F.col("row"), F.col("col")) < F.lit(sg) / F.col("norm"))
        .groupBy("col")
        .count()
        .collect()
    )
    by_tok = {r["col"]: r["count"] for r in kept}
    # stopword 'the' (df=400, norm=20): expected kept = sg*sqrt(df) = 40
    assert by_tok.get("the", 0) < 100
    # rare tokens (df=4 ≤ γ): keep prob min(1, 2/2)=1 → all 4 entries kept
    assert by_tok["rare0"] == 4
