"""Goldens for DSIR importance resampling (pipeline/dsir.py) and
SemDeDup semantic dedup (pipeline/dedup.semantic_dedup) — pure-Python
reference parity, determinism, selection bias, and the paper's
keep-farthest-from-centroid rule."""

import hashlib
import math
from collections import Counter

import numpy as np
import pytest

from pyspark.sql import functions as F

from linkgraph.pipeline.dedup import semantic_dedup
from linkgraph.pipeline.dsir import dsir_log_weights, dsir_select

B = 64
ADDK = 0.5


def _py_bucket(gram: str) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % B


def _py_uniform(doc_id: int) -> float:
    h = hashlib.md5(f"dsir:{doc_id}".encode()).hexdigest()[:15]
    return (int(h, 16) + 0.5) / 16**15


def _py_grams(text: str) -> list[str]:
    t = text.split(" ")
    return t + [f"{t[i]} {t[i + 1]}" for i in range(len(t) - 1)]


def _py_dsir_weights(rows, target_source):
    """rows: [(doc_id, source, text)] → {doc_id: unrounded log weight}."""
    tc, rc = Counter(), Counter()
    per_doc = {}
    for did, src, text in rows:
        c = Counter(_py_bucket(g) for g in _py_grams(text))
        per_doc[did] = (src, c)
        (tc if src == target_source else rc).update(c)
    tt, rt = sum(tc.values()), sum(rc.values())
    llr = {
        b: math.log((tc[b] + ADDK) / (tt + ADDK * B))
        - math.log((rc[b] + ADDK) / (rt + ADDK * B))
        for b in set(tc) | set(rc)
    }
    return {
        did: sum(cnt * llr[b] for b, cnt in c.items())
        for did, (src, c) in per_doc.items()
        if src != target_source
    }


FIXTURE = [
    (1, "tgt", "alpha beta alpha gamma"),
    (2, "tgt", "alpha beta beta"),
    (3, "raw", "alpha beta gamma alpha"),  # target-like
    (4, "raw", "alpha beta"),  # target-like, shorter
    (5, "raw", "zeta eta theta iota zeta eta"),  # off-domain
    (6, "raw", "kappa"),  # single token: no bigrams (sequence guard)
    (7, "raw", "zeta eta zeta eta theta"),  # off-domain
]


def _docs(spark):
    return spark.createDataFrame(
        FIXTURE, "doc_id long, source string, text string"
    )


def test_dsir_log_weights_match_python_reference(spark):
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(
            _docs(spark), "tgt", n_buckets=B, add_k=ADDK
        ).collect()
    }
    want = _py_dsir_weights(FIXTURE, "tgt")
    assert set(got) == set(want)
    for did, lw in want.items():
        assert abs(got[did] - lw) < 1e-4, (did, got[did], lw)


def test_dsir_weights_prefer_target_like_docs(spark):
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(
            _docs(spark), "tgt", n_buckets=B, add_k=ADDK
        ).collect()
    }
    # target-like raw docs outweigh off-domain ones
    assert min(got[3], got[4]) > max(got[5], got[7])


def test_dsir_select_matches_python_gumbel_cut(spark):
    n = 3
    got = dsir_select(_docs(spark), "tgt", n=n, n_buckets=B, add_k=ADDK).collect()
    want_lw = _py_dsir_weights(FIXTURE, "tgt")
    keyed = sorted(
        (
            (
                round(
                    round(lw, 5) - math.log(-math.log(_py_uniform(did))), 5
                ),
                -did,
            )
            for did, lw in want_lw.items()
        ),
        reverse=True,
    )
    want_ids = [-d for _, d in keyed[:n]]
    assert [r["doc_id"] for r in got] == want_ids
    for r in got:
        assert abs(
            r["sample_key"]
            - (r["log_weight"] - math.log(-math.log(_py_uniform(r["doc_id"]))))
        ) < 1e-4


def test_dsir_select_partition_invariant(spark):
    a = dsir_select(_docs(spark), "tgt", n=4, n_buckets=B).collect()
    b = dsir_select(
        _docs(spark).repartition(7), "tgt", n=4, n_buckets=B
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------


def _planted_embeddings(spark):
    rng = np.random.RandomState(7)
    base_a = np.array([1.0, 0.05, 0.0, 0.0])
    base_b = np.array([0.0, 0.0, 1.0, -0.05])
    rows = []
    # group A: ids 0-2 near-copies of base_a; group B: ids 10-11 of base_b
    for i in range(3):
        v = base_a + rng.normal(0, 0.004, 4)
        rows.append((i, [float(x) for x in v]))
    for i in (10, 11):
        v = base_b + rng.normal(0, 0.004, 4)
        rows.append((i, [float(x) for x in v]))
    # singletons: far from both groups and from each other
    rows.append((20, [0.7, -0.7, 0.1, 0.0]))
    rows.append((21, [-0.6, 0.1, -0.7, 0.4]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semdedup_clusters_planted_groups(spark):
    out = semantic_dedup(
        _planted_embeddings(spark), num_cells=2, threshold=0.98, iters=4
    ).collect()
    cl = {r["vec_id"]: r["cluster"] for r in out}
    assert cl[0] == cl[1] == cl[2]
    assert cl[10] == cl[11]
    assert cl[0] != cl[10]
    # singletons stay alone
    assert cl[20] not in (cl[0], cl[10], cl[21])
    assert cl[21] not in (cl[0], cl[10], cl[20])


def test_semdedup_keep_is_farthest_from_centroid(spark):
    out = semantic_dedup(
        _planted_embeddings(spark), num_cells=2, threshold=0.98, iters=4
    ).collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for members in by_cluster.values():
        keeps = [m for m in members if m["keep"]]
        assert len(keeps) == 1
        want = min(members, key=lambda m: (m["centroid_sim"], m["vec_id"]))
        assert keeps[0]["vec_id"] == want["vec_id"]


def test_semdedup_deterministic(spark):
    emb = _planted_embeddings(spark)
    a = sorted(map(tuple, semantic_dedup(emb, 2, 0.98, iters=4).collect()))
    b = sorted(map(tuple, semantic_dedup(emb, 2, 0.98, iters=4).collect()))
    assert a == b


def test_semdedup_identical_vectors_always_cluster(spark):
    emb = _planted_embeddings(spark)
    copies = emb.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    out = semantic_dedup(
        emb.unionByName(copies), num_cells=3, threshold=0.99, iters=4
    ).collect()
    cl = {r["vec_id"]: r["cluster"] for r in out}
    # an exact copy shares its original's cell (identical argmax) → must merge
    assert cl[1000] == cl[0]
    assert cl[1001] == cl[1]


# ---------------------------------------------------------------------------
# Hashed logistic quality classifier
# ---------------------------------------------------------------------------


def test_quality_classifier_matches_python_reference(spark):
    from linkgraph.pipeline.classify import quality_classifier_scores
    from oracles import py_reference_classifier

    got = {
        r["doc_id"]: r["score"]
        for r in quality_classifier_scores(
            _docs(spark), "tgt", n_buckets=B, iters=3, lr=10.0
        ).collect()
    }
    want = py_reference_classifier(FIXTURE, "tgt", B, 3, 10.0)
    assert set(got) == set(want)
    for did in want:
        assert abs(got[did] - want[did]) < 1e-4, (did, got[did], want[did])


def test_quality_classifier_separates_target_like(spark):
    from linkgraph.pipeline.classify import quality_classifier_scores

    got = {
        r["doc_id"]: r["score"]
        for r in quality_classifier_scores(
            _docs(spark), "tgt", n_buckets=B, iters=6, lr=10.0
        ).collect()
    }
    # target docs themselves score highest; target-like raw docs (3, 4)
    # beat off-domain raw docs (5, 7)
    assert min(got[1], got[2]) > max(got[5], got[7])
    assert min(got[3], got[4]) > max(got[5], got[7])


def test_quality_classifier_no_leaked_cache(spark):
    """The materialized feature table is a localCheckpoint: no plan-keyed
    CacheManager entry outlives the call for a later call to pick up."""
    from linkgraph.pipeline.classify import quality_classifier_scores

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    quality_classifier_scores(_docs(spark), "tgt", n_buckets=B, iters=2).collect()
    assert cache.isEmpty()


def test_quality_classifier_scores_null_text(spark):
    """NULL text scores like empty text: both carry the one ''-gram."""
    from linkgraph.pipeline.classify import quality_classifier_scores

    docs = _docs(spark).unionByName(
        spark.createDataFrame(
            [(901, "other", None), (902, "other", "")],
            "doc_id long, source string, text string",
        )
    )
    got = {
        r["doc_id"]: r["score"]
        for r in quality_classifier_scores(docs, "tgt", n_buckets=B, iters=3).collect()
    }
    assert len(got) == len(FIXTURE) + 2
    assert got[901] is not None and got[901] == got[902]
