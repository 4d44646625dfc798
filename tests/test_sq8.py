"""SQ8 scalar quantization: encode goldens + recall vs exact cosine."""

import numpy as np


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def test_sq8_encode_hand_computed(spark):
    from linkgraph.pipeline.ann import sq8_bounds, sq8_encode

    vecs = [[0.0, 10.0], [1.0, 20.0], [2.0, 30.0]]
    emb = _emb(spark, vecs)
    bounds = sq8_bounds(emb)
    got = {r["dim"]: (r["lo"], r["hi"]) for r in bounds.collect()}
    assert got == {0: (0.0, 2.0), 1: (10.0, 30.0)}
    codes = {r["id"]: r["codes"] for r in sq8_encode(emb, bounds).collect()}
    # dim0: (0,1,2) over [0,2] → 0, 128 (floor(127.5+0.5)), 255
    assert codes[0] == [0, 0] and codes[2] == [255, 255]
    assert codes[1] == [128, 128]


def test_sq8_constant_dimension_encodes_zero(spark):
    from linkgraph.pipeline.ann import sq8_bounds, sq8_encode

    emb = _emb(spark, [[5.0, 1.0], [5.0, 2.0]])
    codes = {r["id"]: r["codes"] for r in sq8_encode(emb, sq8_bounds(emb)).collect()}
    assert codes[0][0] == 0 and codes[1][0] == 0  # hi == lo → 0, no NaN


def test_sq8_topk_recall_vs_exact_cosine(spark):
    from linkgraph.pipeline.ann import cosine_topk_bruteforce, sq8_topk

    # three tight clusters in 16-d: quantized top-k must agree with exact
    # cosine top-k on cluster membership (recall ≥ 0.9 over k=3)
    rng = np.random.RandomState(7)
    centers = rng.rand(3, 16) * 10
    vecs = [centers[i % 3] + rng.rand(16) * 0.1 for i in range(60)]
    emb = _emb(spark, vecs)
    q = emb.filter("vec_id < 9")
    exact = cosine_topk_bruteforce(q, emb, k=3)
    quant = sq8_topk(q, emb, k=3)
    ex = {(r["a"], r["b"]) for r in exact.collect()}
    rows = quant.collect()
    qt = {(r["a"], r["b"]) for r in rows}
    recall = len(ex & qt) / len(ex)
    assert recall >= 0.9, recall
    # asymmetric SQ8 cosine tracks the exact cosine to quantization error
    assert all(-1.0001 <= r["qcos"] <= 1.0001 for r in rows)


def test_perplexity_buckets_approx_mode_parity(spark):
    """approx_percentile cutpoints must land every doc in the same bucket
    as the exact mode at this scale (sketch accuracy 10k ≫ doc count)."""
    from linkgraph.pipeline.text import perplexity_buckets

    texts = [f"w{i % 7} w{(i + 1) % 5} w{i % 3} w{i % 11}" for i in range(60)]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    exact = {r["doc_id"]: r["bucket"] for r in perplexity_buckets(docs).collect()}
    approx = {
        r["doc_id"]: r["bucket"]
        for r in perplexity_buckets(docs, exact=False).collect()
    }
    agree = sum(exact[d] == approx[d] for d in exact) / len(exact)
    assert agree >= 0.95, agree
