"""Pipeline-operator tests: dedup (exact/jaccard/minhash/simhash/embedding),
ANN (brute-force + IVF), text stats, multimodal plumbing — value-level
checks against independent numpy/python oracles."""

import numpy as np
import pytest

from pyspark.sql import functions as F


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog",   # exact dup of 0
    "the quick brown fox leaps over the lazy dog",   # near dup (1 token)
    "completely different words entirely here now",
    "the quick brown fox jumps over a lazy dog",     # near dup (1 token)
    "lorem ipsum dolor sit amet consectetur",
]


def test_exact_duplicates(spark):
    from linkgraph.pipeline.dedup import exact_duplicates

    out = exact_duplicates(_docs(spark, TEXTS)).collect()
    groups = {r["text_hash"]: (r["cnt"], r["rep_id"]) for r in out}
    assert len(groups) == 5  # 6 docs, one exact pair
    assert (2, 0) in groups.values()


def _brute_jaccard(texts, threshold):
    sets = [set(t.split(" ")) for t in texts]
    out = {}
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            uni = len(sets[i] | sets[j])
            jac = inter / uni if uni else 0.0
            if round(jac, 5) >= threshold:
                out[(i, j)] = round(jac, 5)
    return out


def test_token_jaccard_pairs_vs_bruteforce(spark):
    from linkgraph.pipeline.dedup import token_jaccard_pairs

    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in token_jaccard_pairs(_docs(spark, TEXTS), threshold=0.5).collect()
    }
    assert got == _brute_jaccard(TEXTS, 0.5)


def test_token_jaccard_max_doc_freq_prunes_stopwords(spark):
    from linkgraph.pipeline.dedup import token_jaccard_pairs

    # 'the' appears in 5 docs; with max_doc_freq=4 it can't generate pairs,
    # but near-dup pairs still surface through their rarer shared tokens
    got = token_jaccard_pairs(
        _docs(spark, TEXTS), threshold=0.5, max_doc_freq=4
    ).collect()
    pairs = {(r["a"], r["b"]) for r in got}
    assert (0, 1) in pairs and (0, 2) in pairs


def test_token_jaccard_prefix_vs_index_parity(spark):
    """r3 VERDICT task 1: the prefix-filtered (AllPairs) strategy must be
    VALUE-identical to the full inverted-index join — exact recall 1, at
    every threshold, including edge cases (empty text, single-token docs,
    identical docs, a transitive near-dup chain)."""
    from linkgraph.pipeline.dedup import token_jaccard_pairs

    chain = [
        "a b c d e f g h i j",
        "a b c d e f g h i k",   # ≈ doc 0 (9/11)
        "a b c d e f g h l k",   # ≈ doc 1, farther from doc 0
        "z y x w v u t s r q",
        "",                       # empty text → [''] singleton token
        "",
        "solo",                   # single token
        "solo",
    ]
    docs = _docs(spark, chain + TEXTS)
    for t in (0.3, 0.5, 0.8, 1.0):
        px = {(r["a"], r["b"]): r["jaccard"]
              for r in token_jaccard_pairs(docs, t, strategy="prefix").collect()}
        ix = {(r["a"], r["b"]): r["jaccard"]
              for r in token_jaccard_pairs(docs, t, strategy="index").collect()}
        assert px == ix, f"strategy mismatch at threshold {t}"
    # auto (no cutoff) routes to prefix and matches brute force
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in token_jaccard_pairs(docs, 0.5).collect()}
    assert got == _brute_jaccard(chain + TEXTS, 0.5)


def test_token_jaccard_prefix_null_text(spark):
    from linkgraph.pipeline.dedup import token_jaccard_pairs

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    for strat in ("prefix", "index"):
        pairs = {(r["a"], r["b"])
                 for r in token_jaccard_pairs(docs, 0.5, strategy=strat).collect()}
        assert pairs == {(0, 1)}, f"null-text docs must pair with nothing ({strat})"


def test_minhash_identical_docs_identical_sigs(spark):
    from linkgraph.pipeline.dedup import minhash_signatures

    sigs = {r["doc_id"]: list(r["sig"]) for r in
            minhash_signatures(_docs(spark, TEXTS), num_hashes=32).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]
    # MinHash estimate ≈ true Jaccard for the near-dup pair (8/10 tokens)
    est = np.mean(np.array(sigs[0]) == np.array(sigs[2]))
    assert est > 0.4


def test_minhash_lsh_finds_near_dups(spark):
    from linkgraph.pipeline.dedup import minhash_lsh_candidates

    cands = {(r["a"], r["b"]) for r in
             minhash_lsh_candidates(_docs(spark, TEXTS), num_hashes=64, bands=32).collect()}
    assert (0, 1) in cands      # exact dup always collides
    assert (0, 2) in cands      # near dup collides with 32 bands
    assert (3, 5) not in cands  # disjoint docs don't


def test_near_duplicate_clusters(spark):
    """Pairs → WCC → representative: the exact-dup pair and both near-dups
    of doc 0 collapse into one cluster keyed by min id; unrelated docs
    stay their own representative."""
    from linkgraph.pipeline.dedup import near_duplicate_clusters

    got = {r["doc_id"]: (r["cluster"], r["is_representative"])
           for r in near_duplicate_clusters(_docs(spark, TEXTS), threshold=0.5).collect()}
    assert got[0] == (0, True)
    assert got[1] == (0, False) and got[2] == (0, False) and got[4] == (0, False)
    assert got[3] == (3, True) and got[5] == (5, True)


def _chain_corpus():
    """Planted near-dup CHAIN (d0≈d1≈d2≈d3 via one-token edits, transitively
    one cluster at J≥0.8 between neighbors) + exact dup of the head + 30
    unrelated docs with disjoint vocabularies (no cross pairs)."""
    base = [f"w{i}" for i in range(10)]
    chain = []
    for step in range(4):
        words = list(base)
        for k in range(step):
            words[k] = f"v{k}"
        chain.append(" ".join(words))
    texts = [chain[0]] + chain  # index 0 and 1 are exact dups
    for j in range(30):
        texts.append(" ".join(f"u{j}_{t}" for t in range(8)))
    return texts


@pytest.mark.parametrize("strategy", ["prefix", "direct", "lsh"])
def test_near_dup_clusters_strategy_parity(spark, strategy):
    """All three pair strategies must produce IDENTICAL clusters on the
    planted chain: LSH at 64×32 bands has candidate recall ≈1-6e-15 at
    J≥0.8, so even the probabilistic front recovers the exact answer."""
    from linkgraph.pipeline.dedup import near_duplicate_clusters

    got = {r["doc_id"]: (r["cluster"], r["is_representative"])
           for r in near_duplicate_clusters(
               _docs(spark, _chain_corpus()), threshold=0.8, strategy=strategy
           ).collect()}
    # chain (0..4 incl. the exact dup) is one cluster rooted at 0
    for d in range(5):
        assert got[d] == (0, d == 0), f"{strategy}: doc {d} → {got[d]}"
    # the 30 unrelated docs are their own singleton representatives
    for d in range(5, 35):
        assert got[d] == (d, True), f"{strategy}: doc {d} → {got[d]}"


def test_near_dup_clusters_auto_matches_legacy_index(spark):
    """The round-5 tokenset-collapse front is an optimization, not a
    semantics change: `auto` must equal the legacy uncollapsed index path
    on a fixture with exact dups, near dups, and null text."""
    from linkgraph.pipeline.dedup import near_duplicate_clusters

    texts = _chain_corpus() + [None, None]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    auto = {r["doc_id"]: (r["cluster"], r["is_representative"])
            for r in near_duplicate_clusters(docs, 0.8, strategy="auto").collect()}
    legacy = {r["doc_id"]: (r["cluster"], r["is_representative"])
              for r in near_duplicate_clusters(docs, 0.8, strategy="index").collect()}
    assert auto == legacy


def test_minhash_shingles_are_order_sensitive(spark):
    """Same vocabulary, scrambled word order: unigram MinHash sees ~1.0
    similarity; 3-gram shingled MinHash must see it as different."""
    from linkgraph.pipeline.dedup import minhash_signatures

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    scrambled = [words[(i * 7) % 10] for i in range(10)]  # permutation
    docs = _docs(spark, [" ".join(words), " ".join(scrambled)])

    def sim(shingle):
        sigs = {r["doc_id"]: np.array(r["sig"]) for r in
                minhash_signatures(docs, num_hashes=128, shingle=shingle).collect()}
        return float(np.mean(sigs[0] == sigs[1]))

    assert sim(1) == pytest.approx(1.0)  # identical vocabulary
    assert sim(3) < 0.3                  # almost no shared 3-gram windows


def test_minhash_shingle_null_text_matches_unigram_semantics(spark):
    """NULL-text docs get the empty-signature sentinel on BOTH paths; they
    must not LSH-collide with empty-string docs under shingling."""
    from linkgraph.pipeline.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "real text here")], "doc_id long, text string"
    )
    for shingle in (1, 3):
        sigs = {r["doc_id"]: list(r["sig"]) for r in
                minhash_signatures(docs, num_hashes=16, shingle=shingle).collect()}
        assert sigs[0] != sigs[1], f"null collided with empty at shingle={shingle}"
        assert sigs[0] != sigs[2]


def test_token_counts_bpe_ish(spark):
    from linkgraph.pipeline.text import token_counts

    docs = _docs(spark, ["hello, world42!", "a b"])
    got = {r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
           for r in token_counts(docs).collect()}
    # "hello, world42!" → ws: 2; bpe-ish: hello / , / ' world' / 42 / ! = 5
    assert got[0] == (2, 5)
    assert got[1] == (2, 2)


def test_simhash_identity_and_locality(spark):
    from linkgraph.pipeline.dedup import simhash64

    h = {r["doc_id"]: r["simhash"] for r in simhash64(_docs(spark, TEXTS)).collect()}
    assert h[0] == h[1]
    ham_near = bin((h[0] ^ h[2]) & (2**64 - 1)).count("1")
    ham_far = bin((h[0] ^ h[3]) & (2**64 - 1)).count("1")
    assert ham_near < ham_far


def test_simhash_candidates_hamming_ball(spark):
    from linkgraph.pipeline.dedup import simhash64, simhash_candidates

    h = {r["doc_id"]: r["simhash"] for r in simhash64(_docs(spark, TEXTS)).collect()}
    k = 16
    want = set()
    for i in range(len(TEXTS)):
        for j in range(i + 1, len(TEXTS)):
            if bin((h[i] ^ h[j]) & (2**64 - 1)).count("1") <= k:
                want.add((i, j))
    got = {(r["a"], r["b"]) for r in
           simhash_candidates(_docs(spark, TEXTS), max_hamming=k).collect()}
    # block-permutation LSH guarantees recall only for hamming ≤ nblocks-1
    # spread evenly; with k=16 and 17 blocks of <4 bits recall is exact here
    assert got == want


def test_embedding_near_duplicates(spark):
    from linkgraph.pipeline.dedup import embedding_near_duplicates

    rng = np.random.RandomState(0)
    base = rng.normal(size=16)
    rows = [
        (0, (base / np.linalg.norm(base)).tolist()),
        (1, (base / np.linalg.norm(base)).tolist()),           # identical
        (2, ((base + 0.01 * rng.normal(size=16)) / 1.0).tolist()),  # near dup
        (3, rng.normal(size=16).tolist()),                     # unrelated
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["a"], r["b"]): r["cosine"]
           for r in embedding_near_duplicates(emb, threshold=0.98).collect()}
    assert (0, 1) in got and got[(0, 1)] == pytest.approx(1.0)
    assert (0, 2) in got
    assert all(3 not in pair for pair in got)


def test_embedding_near_dup_recall_precision(spark):
    """Planted-duplicate corpus: banded hyperplane LSH must recover every
    pair above threshold (recall) and report only true pairs (precision)."""
    from linkgraph.pipeline.dedup import embedding_near_duplicates

    rng = np.random.RandomState(7)
    d, n_planted = 32, 20
    rows, truth = [], set()
    for i in range(n_planted):
        v = rng.normal(size=d)
        v /= np.linalg.norm(v)
        w = v + 0.02 * rng.normal(size=d)  # cosine ≈ 0.9998
        rows.append((2 * i, v.tolist()))
        rows.append((2 * i + 1, (w / np.linalg.norm(w)).tolist()))
        truth.add((2 * i, 2 * i + 1))
    for j in range(100):  # unrelated background
        u = rng.normal(size=d)
        rows.append((1000 + j, (u / np.linalg.norm(u)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_near_duplicates(emb, threshold=0.98).collect()
    pairs = {(r["a"], r["b"]) for r in got}
    assert pairs == truth  # full recall AND precision
    assert all(r["cosine"] >= 0.98 for r in got)


def test_pearson_lists_vs_numpy(spark):
    from linkgraph.functions.similarities import pearson_lists

    rng = np.random.RandomState(1)
    rows = [(i, rng.normal(size=8).tolist(), rng.normal(size=8).tolist())
            for i in range(20)]
    rows.append((20, [1.0, 1.0, 1.0], [2.0, 3.0, 4.0]))  # zero variance → 0
    rows.append((21, [], []))                            # empty → 0
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    got = {r["i"]: r["p"] for r in
           df.select("i", pearson_lists("a", "b").alias("p")).collect()}
    for i, a, b in rows[:20]:
        assert got[i] == pytest.approx(float(np.corrcoef(a, b)[0, 1]), abs=1e-9)
    assert got[20] == 0.0 and got[21] == 0.0


def test_ann_bruteforce_vs_numpy(spark):
    from linkgraph.pipeline.ann import cosine_topk_bruteforce

    rng = np.random.RandomState(2)
    mat = rng.normal(size=(30, 8))
    emb = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(30)], "vec_id long, embedding array<double>"
    )
    got = {}
    for r in cosine_topk_bruteforce(emb.filter(F.col("vec_id") < 5), emb, k=3).collect():
        got.setdefault(r["a"], []).append(r["b"])
    norms = np.linalg.norm(mat, axis=1)
    sims = np.round((mat @ mat.T) / np.outer(norms, norms), 4)
    for a in range(5):
        order = sorted((-(sims[a, b]), b) for b in range(30) if b != a)[:3]
        assert got[a] == [b for _, b in order]


def test_ann_ivf_recall(spark):
    from linkgraph.pipeline.ann import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(3)
    # 4 well-separated clusters
    centers = rng.normal(size=(4, 8)) * 5
    mat = np.vstack([c + rng.normal(size=(25, 8)) * 0.3 for c in centers])
    emb = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(100)], "vec_id long, embedding array<double>"
    )
    cent = train_ivf_centroids(emb, num_cells=4, max_sample=1000)
    assert cent.shape == (4, 8)
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["a"], r["b"]) for r in cosine_topk_bruteforce(q, emb, k=3).collect()}
    approx = {(r["a"], r["b"]) for r in cosine_topk_ivf(q, emb, cent, k=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9


def test_ann_ivf_nprobe_recovers_boundary_recall(spark):
    """Vectors near Voronoi boundaries lose neighbors at nprobe=1; probing
    more cells must recover them — recall is monotone in nprobe and ≥0.95
    by nprobe=3 on deliberately overlapping clusters."""
    from linkgraph.pipeline.ann import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(7)
    # heavily OVERLAPPING clusters → many cross-cell nearest neighbors
    centers = rng.normal(size=(4, 8))
    mat = np.vstack([c + rng.normal(size=(40, 8)) * 1.5 for c in centers])
    emb = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(160)], "vec_id long, embedding array<double>"
    )
    cent = train_ivf_centroids(emb, num_cells=4, max_sample=1000)
    q = emb.filter(F.col("vec_id") < 30)
    exact = {(r["a"], r["b"]) for r in cosine_topk_bruteforce(q, emb, k=3).collect()}

    def recall(nprobe):
        approx = {
            (r["a"], r["b"])
            for r in cosine_topk_ivf(q, emb, cent, k=3, nprobe=nprobe).collect()
        }
        return len(exact & approx) / len(exact)

    r1, r2, r3 = recall(1), recall(2), recall(3)
    assert r1 <= r2 <= r3
    assert r3 >= 0.95
    assert r3 > r1  # the boundary effect is real on this data


def test_pq_ivf_composition(spark):
    """IVF∘PQ: cell pruning in front of ADC re-rank. Full probe
    (nprobe=num_cells) must equal the exhaustive ADC scan exactly, and
    nprobe=2 must keep high recall against it at a fraction of the scan."""
    from linkgraph.pipeline.ann import (
        pq_encode,
        pq_topk,
        pq_topk_ivf,
        pq_train,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(11)
    centers = rng.normal(size=(4, 8)) * 4
    mat = np.vstack([c + rng.normal(size=(30, 8)) * 0.4 for c in centers])
    emb = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(120)], "vec_id long, embedding array<double>"
    )
    cent = train_ivf_centroids(emb, num_cells=4, max_sample=1000)
    books = pq_train(emb, num_subspaces=4, bits=4, iters=6)
    coded = pq_encode(emb, books, centroids=cent)
    assert set(coded.columns) == {"id", "codes", "cell"}
    qs = emb.filter(F.col("vec_id") < 20)

    exhaustive = {(r["a"], r["b"]) for r in pq_topk(qs, coded, books, k=3).collect()}
    full_probe = {
        (r["a"], r["b"])
        for r in pq_topk_ivf(qs, coded, books, cent, k=3, nprobe=4).collect()
    }
    assert full_probe == exhaustive  # nprobe=C ≡ linear ADC scan

    pruned = {
        (r["a"], r["b"])
        for r in pq_topk_ivf(qs, coded, books, cent, k=3, nprobe=2).collect()
    }
    assert len(exhaustive & pruned) / len(exhaustive) >= 0.9


def test_pq_residual_encoding_beats_raw(spark):
    """IVFADC proper: quantizing residuals (x − centroid) carries far more
    detail per code byte than quantizing raw vectors. At a coarse code
    budget (bits=3) residual recall vs exact L2 must be ≥ raw recall, and
    high in absolute terms."""
    from linkgraph.pipeline.ann import (
        ivf_cell_means,
        pq_encode,
        pq_topk_ivf,
        pq_train,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(17)
    centers = rng.normal(size=(4, 8)) * 6  # far-apart clusters, local detail
    mat = np.vstack([c + rng.normal(size=(40, 8)) * 0.5 for c in centers])
    emb = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(160)], "vec_id long, embedding array<double>"
    )
    cent = train_ivf_centroids(emb, num_cells=4, max_sample=1000)
    anchors = ivf_cell_means(emb, cent)
    qs = emb.filter(F.col("vec_id") < 25)

    # exact L2 ground truth (numpy)
    d2 = ((mat[:25, None, :] - mat[None, :, :]) ** 2).sum(axis=2)
    np.fill_diagonal(d2[:, :25], np.inf)
    truth = {
        (a, b) for a in range(25) for b in np.argsort(d2[a])[:3]
    }

    def recall(residual):
        books = pq_train(emb, num_subspaces=4, bits=3, iters=6,
                         centroids=cent, residual=residual, anchors=anchors)
        coded = pq_encode(emb, books, centroids=cent, residual=residual,
                          anchors=anchors)
        got = {
            (r["a"], r["b"])
            for r in pq_topk_ivf(qs, coded, books, cent, k=3, nprobe=4,
                                 residual=residual, anchors=anchors).collect()
        }
        return len(truth & got) / len(truth)

    r_raw, r_res = recall(False), recall(True)
    # residual quantization error is a fraction of raw (anchors at data
    # scale): strictly better recall at this coarse 3-bit budget
    assert r_res > r_raw
    assert r_res >= 0.5


def test_pq_topk_ivf_requires_cell_column(spark):
    from linkgraph.pipeline.ann import pq_encode, pq_topk_ivf, pq_train, train_ivf_centroids

    rng = np.random.RandomState(5)
    mat = rng.normal(size=(40, 8))
    emb = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(40)], "vec_id long, embedding array<double>"
    )
    cent = train_ivf_centroids(emb, num_cells=2, max_sample=100)
    books = pq_train(emb, num_subspaces=4, bits=3, iters=3)
    plain = pq_encode(emb, books)  # no centroids → no cell column
    with pytest.raises(ValueError, match="cell"):
        pq_topk_ivf(emb.limit(5), plain, books, cent)


def test_multimodal_plumbing(spark):
    from linkgraph.pipeline.multimodal import extract_features, frame_sample, synthesize_media

    media = synthesize_media(spark, n=16)
    feats = extract_features(media)
    assert feats.count() == 16
    cols = set(feats.columns)
    assert {"media_id", "kind"} <= cols
    frames = frame_sample(media)
    assert frames.count() > 0


def test_multimodal_real_decode_capability_probe(monkeypatch):
    """r3 VERDICT task 5: decode_real probes for PIL at call time — a fake
    PIL in sys.modules makes the real path run; without PIL it raises
    NotImplementedError (probe, not a hardcoded refusal)."""
    import sys
    import types

    import numpy as np

    from linkgraph.pipeline import multimodal

    class _FakeImg:
        def convert(self, mode):
            assert mode == "L"
            return np.full((2, 3), 7, dtype=np.uint8)

    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.SimpleNamespace(open=lambda buf: _FakeImg())
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_pil.Image)
    px = multimodal._decode_real(b"\x00" * 8, 3, 2)
    assert px.shape == (2, 3) and (px == 7).all()

    # without PIL the probe fails loudly with the documented error
    monkeypatch.delitem(sys.modules, "PIL")
    monkeypatch.delitem(sys.modules, "PIL.Image")
    monkeypatch.setattr(
        "builtins.__import__",
        _import_blocking("PIL"),
    )
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="not installed"):
        multimodal._decode_real(b"\x00" * 8, 3, 2)


def _import_blocking(blocked_prefix):
    real_import = __import__

    def guarded(name, *args, **kwargs):
        if name == blocked_prefix or name.startswith(blocked_prefix + "."):
            raise ImportError(f"blocked for test: {name}")
        return real_import(name, *args, **kwargs)

    return guarded


def test_text_ops_schema(spark):
    from linkgraph.pipeline.text import fingerprint, language_id, quality_scores, token_stats

    docs = _docs(spark, TEXTS)
    assert token_stats(docs).count() == 6
    assert quality_scores(docs).count() == 6
    assert language_id(docs).count() == 6
    fp = fingerprint(docs).collect()
    assert len({r["fp16"] for r in fp}) == 5  # exact dups share a fingerprint


def test_pii_scan_counts(spark):
    from linkgraph.pipeline.text import pii_scan

    docs = _docs(
        spark,
        [
            "mail me at a.b+c@example.com or d@sub.example.org thanks",
            "server at 10.0.0.1 and backup 192.168.1.255",
            "call +1-555-123-4567 today",
            "nothing sensitive here at all",
            "x@y.io from 8.8.8.8 call +44-020-794-0000",
        ],
    )
    rows = {r["doc_id"]: r for r in pii_scan(docs).collect()}
    assert (rows[0]["n_emails"], rows[0]["has_pii"]) == (2, True)
    assert rows[1]["n_ipv4"] == 2
    assert rows[2]["n_phones"] == 1
    assert (rows[3]["n_emails"], rows[3]["n_ipv4"], rows[3]["n_phones"], rows[3]["has_pii"]) == (0, 0, 0, False)
    assert (rows[4]["n_emails"], rows[4]["n_ipv4"], rows[4]["n_phones"]) == (1, 1, 1)


def test_ngram_repetition_values(spark):
    from linkgraph.pipeline.text import ngram_repetition

    docs = _docs(spark, ["a b a b a", "a b c d", "x", ""])
    rows = {r["doc_id"]: r for r in ngram_repetition(docs, n=2).collect()}
    # "a b a b a" bigrams: [a b, b a, a b, b a] -> 4 total, 2 uniq
    assert (rows[0]["n_grams"], rows[0]["n_uniq_grams"]) == (4, 2)
    assert rows[0]["dup_ratio"] == 0.5
    assert (rows[1]["n_grams"], rows[1]["n_uniq_grams"], rows[1]["dup_ratio"]) == (3, 3, 0.0)
    assert (rows[2]["n_grams"], rows[2]["dup_ratio"]) == (0, 0.0)


def test_benchmark_contamination(spark):
    from linkgraph.pipeline.text import benchmark_contamination

    bench = _docs(spark, ["the quick brown fox jumps"])
    docs = _docs(
        spark,
        [
            "the quick brown fox jumps over",  # grams: 4 uniq, 3 contaminated
            "totally clean document text here",  # 3 uniq trigrams, 0 hit
            "xy",  # too short: 0 grams
        ],
    )
    rows = {r["doc_id"]: r for r in benchmark_contamination(docs, bench, n=3).collect()}
    assert (rows[0]["n_uniq_grams"], rows[0]["n_contaminated"]) == (4, 3)
    assert rows[0]["contamination_ratio"] == 0.75
    assert (rows[1]["n_uniq_grams"], rows[1]["n_contaminated"]) == (3, 0)
    assert (rows[2]["n_uniq_grams"], rows[2]["contamination_ratio"]) == (0, 0.0)


def test_stratified_sample_quota_and_determinism(spark):
    from linkgraph.pipeline.text import stratified_sample

    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 3)) for i in range(60)], "doc_id long, source string"
    )
    out = stratified_sample(docs, "source", per_stratum=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"s0", "s1", "s2"}
    for rows in by_src.values():
        assert len(rows) == 5
        assert sorted(r["sample_rank"] for r in rows) == [1, 2, 3, 4, 5]
    # deterministic across runs
    out2 = stratified_sample(docs, "source", per_stratum=5).collect()
    assert sorted((r["doc_id"], r["sample_rank"]) for r in out) == sorted(
        (r["doc_id"], r["sample_rank"]) for r in out2
    )


def test_quality_gate_funnel_order(spark):
    from linkgraph.pipeline.text import quality_gate

    docs = spark.createDataFrame(
        [
            (0, "one two three four five six", "en"),      # keep
            (1, "short text", "en"),                       # too_few_tokens
            (2, "a b a b a b a b a b a b", "zh"),          # repetitive AND bad lang -> first rule wins
            (3, "clean words here but wrong language ok", "de"),  # bad_lang
            (4, "contact me at foo@bar.com for details please", "en"),  # has_pii
        ],
        "doc_id long, text string, lang string",
    )
    rows = {
        r["doc_id"]: r
        for r in quality_gate(
            docs, min_tokens=3, max_dup_ratio=0.5, langs=("en",)
        ).collect()
    }
    assert (rows[0]["keep"], rows[0]["fail_reason"]) == (True, "")
    assert rows[1]["fail_reason"] == "too_few_tokens"
    assert rows[2]["fail_reason"] == "too_repetitive"  # fires before bad_lang
    assert rows[3]["fail_reason"] == "bad_lang"
    assert (rows[4]["keep"], rows[4]["fail_reason"]) == (False, "has_pii")


def test_tfidf_topk_vs_numpy(spark):
    import math

    from linkgraph.pipeline.text import tfidf_topk

    texts = ["cat dog cat", "dog fish", "cat bird bird"]
    docs = _docs(spark, texts)
    out = tfidf_topk(docs, k=2).collect()
    # independent python oracle
    n = len(texts)
    tokd = [t.split(" ") for t in texts]
    df = {}
    for toks in tokd:
        for tok in set(toks):
            df[tok] = df.get(tok, 0) + 1
    expect = {}
    for i, toks in enumerate(tokd):
        scores = sorted(
            (
                (-toks.count(t) * (math.log((n + 1) / (df[t] + 1)) + 1), t)
                for t in set(toks)
            )
        )[:2]
        expect[i] = [(t, round(-s, 4), r + 1) for r, (s, t) in enumerate(scores)]
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append((r["token"], r["tfidf"], r["rk"]))
    for i in expect:
        assert sorted(got[i], key=lambda x: x[2]) == expect[i]


def test_mix_report_totals(spark):
    from linkgraph.pipeline.text import mix_report

    docs = spark.createDataFrame(
        [
            (0, "a b c", "en", "s1"),
            (1, "d e", "en", "s1"),
            (2, "f g h i", "fr", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {(r["source"], r["lang"]): r for r in mix_report(docs).collect()}
    assert rows[("s1", "en")]["n_docs"] == 2
    assert rows[("s1", "en")]["n_tokens"] == 5
    assert rows[("s1", "en")]["avg_tokens"] == 2.5
    assert rows[("s1", "fr")]["n_tokens"] == 4


def test_remove_boilerplate_spans(spark):
    from linkgraph.pipeline.dedup import remove_boilerplate_spans

    docs = _docs(
        spark,
        [
            "one two three unique alpha beta gamma",   # blocks: [one..alpha],[beta gamma]
            "one two three unique alpha other words",  # shares block 1 with doc 0
            "totally different content in this doc",
        ],
    )
    rows = {
        r["doc_id"]: r
        for r in remove_boilerplate_spans(docs, n=5, min_df=2).collect()
    }
    # the shared 5-token block is removed from both docs, tails survive
    assert rows[0]["clean_text"] == "beta gamma"
    assert (rows[0]["n_blocks"], rows[0]["n_removed"]) == (2, 1)
    assert rows[1]["clean_text"] == "other words"
    assert rows[2]["n_removed"] == 0
    assert rows[2]["clean_text"] == "totally different content in this doc"


def test_winnow_fingerprints_shared_run_guarantee(spark):
    from linkgraph.pipeline.text import winnow_fingerprints

    k, w = 4, 5
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = w+k-1
    docs = _docs(
        spark,
        [
            "x1 x2 x3 " + shared + " y1 y2",
            "z9 z8 " + shared + " q5 q6 q7",
            "completely unrelated words here now ok fine",
        ],
    )
    fps = {}
    for r in winnow_fingerprints(docs, k=k, w=w).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    # winnowing guarantee: a shared run of w+k-1 tokens yields >=1 common fp
    assert fps[0] & fps[1]
    assert not (fps[0] & fps[2])
    # short doc (< k tokens) emits nothing; doc with < w grams emits one
    short = _docs(spark, ["a b c", "t1 t2 t3 t4 t5"])
    out = winnow_fingerprints(short, k=k, w=w).collect()
    assert {r["doc_id"] for r in out} == {1}
    assert len([r for r in out if r["doc_id"] == 1]) == 1


def test_streaming_exact_dedup(spark, tmp_path):
    """Streaming dedup drops exact content duplicates as they arrive and
    agrees with the batch exact-dedup grouping."""
    import datetime

    from linkgraph.streaming import run_available_now, stream_exact_dedup

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (i, t, t0 + datetime.timedelta(minutes=i)) for i, t in enumerate(TEXTS)
    ]
    src_dir = str(tmp_path / "dedup_stream")
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).write.parquet(src_dir)
    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(
        src_dir
    )
    # all-time-state variant: one survivor per distinct text
    got = run_available_now(stream_exact_dedup(stream), "dedup_stream_q")
    texts = [r["text"] for r in got]
    assert sorted(texts) == sorted(set(TEXTS))
    # watermark-bounded variant runs and also drops the in-window duplicate
    got_wm = run_available_now(
        stream_exact_dedup(stream, event_time_col="ts", watermark="1 hour"),
        "dedup_stream_wm_q",
    )
    assert sorted(r["text"] for r in got_wm) == sorted(set(TEXTS))


def test_tokenset_duplicates(spark):
    """Bag-of-words dedup: word reorder and token repeats collapse into one
    group; vocabulary changes do not."""
    from linkgraph.pipeline.dedup import tokenset_duplicates

    docs = _docs(spark, [
        "the quick brown fox",
        "fox brown quick the",          # reorder → same token set
        "the the quick brown fox fox",  # repeats → same token set
        "the quick brown wolf",         # different vocabulary
        None,                           # NULL text gets its own group
    ])
    groups = {r["tokenset_hash"]: (r["cnt"], r["rep_id"])
              for r in tokenset_duplicates(docs).collect()}
    assert len(groups) == 3
    assert (3, 0) in groups.values()   # docs 0,1,2 collapse, rep = min id
    assert (1, 3) in groups.values()


def test_stateful_distinct_degree(spark, tmp_path):
    """applyInPandasWithState distinct-degree: state accumulates across a
    query restart (same checkpoint), duplicates don't inflate the count."""
    from linkgraph.streaming import stateful_distinct_degree

    src_dir = str(tmp_path / "edges_stream")
    ckpt = str(tmp_path / "ckpt")
    batch1 = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 1), (1, 2)], "src long, dst long"
    )
    batch1.write.parquet(src_dir)

    def drain(name):
        rows = []
        stream = spark.readStream.schema("src long, dst long").parquet(src_dir)
        q = (
            stateful_distinct_degree(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: rows.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["src"]: (r["distinct_neighbors"], r["total_edges"], r["exact"])
            for r in rows
        }

    got1 = drain("sd1")
    assert got1[0] == (2, 3, True)  # dup (0,1) counted once distinct
    assert got1[1] == (1, 1, True)

    # second file arrives; restart from the same checkpoint → state restored
    spark.createDataFrame([(0, 3), (0, 2), (2, 0)], "src long, dst long").write.mode(
        "append"
    ).parquet(src_dir)
    got2 = drain("sd2")
    assert got2[0] == (3, 5, True)  # 1,2,3 distinct; 5 total edges ever
    assert got2[2] == (1, 1, True)


def test_ivf_distributed_training_matches_driver(spark):
    """Distributed Lloyd converges to centroids that cluster as well as the
    driver-sample path on a well-separated corpus."""
    from linkgraph.pipeline.ann import (
        ivf_assign,
        train_ivf_centroids,
        train_ivf_centroids_distributed,
    )

    rng = np.random.RandomState(5)
    centers = rng.normal(size=(4, 16)) * 5
    rows = []
    for i in range(200):
        c = i % 4
        v = centers[c] + rng.normal(size=16) * 0.1
        rows.append((i, v.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cd = train_ivf_centroids_distributed(emb, num_cells=4, iters=4)
    assert cd.shape == (4, 16)
    got = ivf_assign(emb, cd).select("id", "cell").collect()
    # purity: every true cluster maps to exactly one learned cell
    by_true = {}
    for r in got:
        by_true.setdefault(r["id"] % 4, set()).add(r["cell"])
    assert all(len(cells) == 1 for cells in by_true.values())
    assert len({next(iter(c)) for c in by_true.values()}) == 4


def test_ivf_distributed_training_agg_parity_dim64(spark):
    """r3 VERDICT task 7: the mapInPandas partial-sum reduction must agree
    with the straightforward per-dimension DataFrame aggregation."""
    from pyspark.sql.functions import pandas_udf

    from linkgraph.pipeline import ann

    rng = np.random.RandomState(9)
    centers = rng.normal(size=(4, 64)) * 5
    rows = [(i, (centers[i % 4] + rng.normal(size=64) * 0.1).tolist())
            for i in range(160)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb = emb.repartition(8).persist()

    got = ann.train_ivf_centroids_distributed(emb, num_cells=4, iters=3)

    # reference: identical seeding + assignment, reduction via the old
    # per-dimension F.sum(element_at(...)) formulation
    pool = np.array(
        emb.select(F.col("embedding").alias("v"))
        .orderBy(F.xxhash64(F.col("v").cast("string"), F.lit(42)))
        .limit(4 * 32).toPandas()["v"].tolist(), dtype=np.float64)
    pool /= np.maximum(np.linalg.norm(pool, axis=1, keepdims=True), 1e-12)
    chosen = [0]
    for _ in range(1, 4):
        sims = pool @ pool[chosen].T
        d = 1.0 - sims.max(axis=1)
        d[chosen] = -1.0
        chosen.append(int(d.argmax()))
    cent = pool[chosen].copy()
    for _ in range(3):
        c = cent

        @pandas_udf("struct<cell:int, nv:array<double>>")
        def assign_norm(vecs):
            import pandas as pd
            x = np.array(vecs.tolist(), dtype=np.float64)
            x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            return pd.DataFrame({"cell": (x @ c.T).argmax(axis=1).astype(np.int32),
                                 "nv": list(x)})

        agg = (emb.select(assign_norm(F.col("embedding")).alias("s"))
               .select(F.col("s.cell").alias("cell"), F.col("s.nv").alias("nv"))
               .groupBy("cell")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.array(*[F.sum(F.element_at("nv", i + 1))
                              for i in range(64)]).alias("vsum"))
               .collect())
        for row in agg:
            if row["n"]:
                v = np.array(row["vsum"]) / row["n"]
                cent[row["cell"]] = v / max(np.linalg.norm(v), 1e-12)
    assert np.allclose(got, cent, atol=1e-9)


def test_ivf_distributed_training_dim768_smoke(spark):
    from linkgraph.pipeline.ann import ivf_assign, train_ivf_centroids_distributed

    rng = np.random.RandomState(13)
    centers = rng.normal(size=(3, 768)) * 4
    rows = [(i, (centers[i % 3] + rng.normal(size=768) * 0.1).tolist())
            for i in range(90)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cd = train_ivf_centroids_distributed(emb, num_cells=3, iters=2)
    assert cd.shape == (3, 768)
    got = ivf_assign(emb, cd).select("id", "cell").collect()
    by_true = {}
    for r in got:
        by_true.setdefault(r["id"] % 3, set()).add(r["cell"])
    assert all(len(cells) == 1 for cells in by_true.values())


def test_pq_ann_recall(spark):
    """PQ encode + asymmetric-distance search: top-1 on a clustered corpus
    recovers the true nearest neighbor for most queries (recall@1 ≥ 0.8)."""
    from linkgraph.pipeline.ann import pq_encode, pq_topk, pq_train

    rng = np.random.RandomState(11)
    centers = rng.normal(size=(6, 16)) * 4
    rows = [(i, (centers[i % 6] + rng.normal(size=16) * 0.15).tolist())
            for i in range(240)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books = pq_train(emb, num_subspaces=4, bits=4, iters=6)
    assert books.shape == (4, 16, 4)
    codes = pq_encode(emb, books)
    qs = emb.filter(F.col("vec_id") < 20)
    got = {r["a"]: r["b"]
           for r in pq_topk(qs, codes, books, k=2).filter(F.col("a") != F.col("b"))
                     .groupBy("a").agg(F.min_by("b", "adc").alias("b")).collect()}

    # cluster-level recall: the found neighbor lies in the query's cluster
    cluster_hits = sum(1 for a in range(20) if got.get(a) is not None
                       and got[a] % 6 == a % 6)
    assert cluster_hits >= 16  # ≥80% same-cluster top-1


def _emb_df(spark, n=80, d=12, seed=7):
    rng = np.random.RandomState(seed)
    x = rng.standard_normal((n, d))
    # give the data real principal structure
    x[:, 0] *= 5.0
    x[:, 1] *= 2.5
    rows = [(i, x[i].astype(float).tolist()) for i in range(n)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        x,
    )


def test_covariance_matrix_matches_numpy(spark):
    from linkgraph.pipeline.embed import covariance_matrix

    emb, x = _emb_df(spark)
    cov, mean, n = covariance_matrix(emb.repartition(7))
    assert n == x.shape[0]
    np.testing.assert_allclose(mean, x.mean(axis=0), atol=1e-10)
    np.testing.assert_allclose(cov, np.cov(x, rowvar=False, bias=True), atol=1e-9)


def test_pca_project_matches_numpy(spark):
    from linkgraph.pipeline.embed import pca_project

    emb, x = _emb_df(spark)
    out = {r["vec_id"]: np.asarray(r["pc"]) for r in pca_project(emb, 3).collect()}
    cov = np.cov(x, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    comps = vecs[:, np.argsort(vals)[::-1][:3]].T
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    expect = (x - x.mean(axis=0)) @ comps.T
    got = np.stack([out[i] for i in range(x.shape[0])])
    np.testing.assert_allclose(got, np.round(expect, 4), atol=2e-4)
    # variance concentrates on pc0 (we scaled dim 0 by 5x)
    v = got.var(axis=0)
    assert v[0] > v[1] > v[2]


def test_random_projection_preserves_distances(spark):
    from linkgraph.pipeline.embed import random_projection_wide

    emb, x = _emb_df(spark, n=40, d=12)
    out = {
        r["vec_id"]: np.asarray(r[1:])
        for r in random_projection_wide(emb, out_dim=8, seed=1).collect()
    }
    p = np.stack([out[i] for i in range(40)])
    # JL: relative pairwise-distance distortion is bounded on average
    from itertools import combinations

    pairs = list(combinations(range(40), 2))[:200]
    orig = np.array([np.linalg.norm(x[a] - x[b]) for a, b in pairs])
    proj = np.array([np.linalg.norm(p[a] - p[b]) for a, b in pairs])
    ratio = proj / orig
    assert abs(float(np.median(ratio)) - 1.0) < 0.25


def test_stream_near_dup_matches_batch(spark, tmp_path):
    """Streaming LSH near-dup filter: stream docs vs a static corpus must
    flag exactly the pairs the batch candidates+verify path flags."""
    from linkgraph.pipeline.dedup import minhash_bands
    from linkgraph.streaming import stream_near_dup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    static_rows = [
        (100, base),
        (101, base + " lambda"),
        (102, "totally different words about other topics entirely here now"),
    ]
    stream_rows = [
        (0, base),                        # exact copy of 100 → near-dup
        (1, base.replace("beta", "bete")),  # 1-token change → near-dup
        (2, "unrelated content that shares nothing with the static corpus"),
    ]
    static_docs = spark.createDataFrame(static_rows, "doc_id long, text string")
    src_dir = str(tmp_path / "near_dup_stream")
    spark.createDataFrame(stream_rows, "doc_id long, text string").write.parquet(
        src_dir
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(src_dir)

    got: list = []

    def sink(df, epoch):
        got.extend((r.doc_id, r.static_id, r.jaccard) for r in df.collect())

    q = stream_near_dup(
        stream, static_docs, sink, threshold=0.5, num_hashes=32, bands=16
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    # batch twin: same bands + exact verify
    batch_docs = spark.createDataFrame(stream_rows, "doc_id long, text string")
    bb = minhash_bands(batch_docs, 32, 16)
    sb = minhash_bands(static_docs, 32, 16).withColumnRenamed("doc_id", "static_id")
    cand = (
        bb.join(sb, ["band", "bucket"]).select("doc_id", "static_id").distinct()
    )
    import pyspark.sql.functions as F2

    ta = batch_docs.select("doc_id", F2.array_distinct(F2.split("text", " ")).alias("ta"))
    tb = static_docs.select(
        F2.col("doc_id").alias("static_id"),
        F2.array_distinct(F2.split("text", " ")).alias("tb"),
    )
    j = cand.join(ta, "doc_id").join(tb, "static_id")
    inter = F2.size(F2.array_intersect("ta", "tb"))
    exp = {
        (r.doc_id, r.static_id, r.j)
        for r in j.select(
            "doc_id", "static_id",
            F2.round(inter.cast("double") / (F2.size("ta") + F2.size("tb") - inter), 5).alias("j"),
        ).filter(F2.col("j") >= 0.5).collect()
    }
    assert set(got) == exp
    flagged = {d for d, _, _ in got}
    assert 0 in flagged and 1 in flagged and 2 not in flagged


def test_dedup_keep_best_picks_longest(spark):
    """Keep-best survivor = longest member of each near-dup cluster,
    ties to min doc_id; singletons survive as themselves."""
    from linkgraph.pipeline.dedup import dedup_keep_best

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base + " iota"),          # same cluster, LONGER -> survivor
            (2, base.replace("beta", "bete")),  # same cluster, same len as 0
            (3, "completely different words that share nothing at all here"),
        ],
        "doc_id long, text string",
    )
    rows = dedup_keep_best(docs, threshold=0.7).collect()
    survivors = {r.cluster: (r.doc_id, r.n_tokens) for r in rows}
    # docs 0,1,2 cluster together (min-id cluster 0); doc 1 is longest
    assert survivors[0] == (1, 9)
    assert survivors[3] == (3, 9)
    assert len(survivors) == 2


def test_knn_components_ivf_agreement(spark):
    """r4 VERDICT task 5: the IVF-fronted kNN->WCC composition must agree
    with the brute-force front on >=95% of co-membership decisions over
    planted well-separated clusters (both should recover the plant)."""
    from linkgraph.algorithms.wcc import wcc
    from linkgraph.graph import Graph
    from linkgraph.pipeline.ann import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(11)
    d, per, n_clusters = 16, 25, 5
    rows = []
    for c in range(n_clusters):
        center = rng.normal(size=d) * 4.0
        for i in range(per):
            v = center + 0.05 * rng.normal(size=d)
            rows.append((c * per + i, (v / np.linalg.norm(v)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def components(knn):
        edges = (
            knn.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(knn.select(F.col("b").alias("src"), F.col("a").alias("dst")))
            .distinct()
        )
        g = Graph.from_edges(edges, nodes=emb.select(F.col("vec_id").alias("id")))
        return {r["id"]: r["component"] for r in wcc(g).collect()}

    brute = components(cosine_topk_bruteforce(emb, emb, k=3))
    cents = train_ivf_centroids(emb, num_cells=8, seed=42)
    ivf = components(cosine_topk_ivf(emb, emb, cents, k=3, nprobe=4))

    ids = sorted(brute)
    agree = total = 0
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            total += 1
            same_b = brute[ids[i]] == brute[ids[j]]
            same_v = ivf[ids[i]] == ivf[ids[j]]
            agree += same_b == same_v
    assert agree / total >= 0.95, f"co-membership agreement {agree/total:.3f}"
