"""Sessionization, sequence packing, and LM-score operators."""

import math

from pyspark.sql import functions as F


def _events(spark, rows):
    """[(user_id, ts_str, value), ...] with synthetic event ids."""
    return spark.createDataFrame(
        [(i, u, t, float(v)) for i, (u, t, v) in enumerate(rows)],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_sessionize_gap_split(spark):
    from linkgraph.pipeline.sessions import sessionize

    ev = _events(
        spark,
        [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:10:00", 2.0),  # same session (10 min gap)
            (1, "2024-01-01 01:00:00", 4.0),  # 50 min gap -> new session
            (2, "2024-01-01 00:00:00", 8.0),  # other user: own session
        ],
    )
    out = {
        (r["user_id"], r["start_s"]): r
        for r in sessionize(ev, gap="30 minutes").collect()
    }
    assert len(out) == 3
    s1 = out[(1, _epoch("2024-01-01 00:00:00"))]
    assert s1["n_events"] == 2 and s1["total_value"] == 3.0
    assert s1["end_s"] == _epoch("2024-01-01 00:10:00")
    s2 = out[(1, _epoch("2024-01-01 01:00:00"))]
    assert s2["n_events"] == 1 and s2["total_value"] == 4.0
    assert out[(2, _epoch("2024-01-01 00:00:00"))]["total_value"] == 8.0


def test_sessionize_exact_gap_boundary_splits(spark):
    """Spark's session_window is gap-INCLUSIVE: a follow-up exactly `gap`
    later still merges (measured — the contract oracle's strict-> split
    mirrors this); one microsecond beyond splits."""
    from linkgraph.pipeline.sessions import sessionize

    ev = _events(
        spark,
        [(1, "2024-01-01 00:00:00", 1.0), (1, "2024-01-01 00:30:00", 1.0)],
    )
    assert sessionize(ev, gap="30 minutes").count() == 1
    ev2 = _events(
        spark,
        [(1, "2024-01-01 00:00:00", 1.0), (1, "2024-01-01 00:30:00.000001", 1.0)],
    )
    assert sessionize(ev2, gap="30 minutes").count() == 2


def _epoch(ts_str):
    import datetime

    return datetime.datetime.fromisoformat(ts_str).timestamp()


def test_pack_sequences_layout(spark):
    from linkgraph.pipeline.sessions import pack_sequences

    docs = spark.createDataFrame(
        [
            (0, "a b c"),          # 3 tokens, offsets [0, 3)
            (1, "d e f g"),        # 4 tokens, [3, 7) -> crosses seq 0/1 at L=4
            (2, "h"),              # 1 token, [7, 8)
            (3, "i j k l m"),      # 5 tokens, [8, 13)
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pack_sequences(docs, seq_len=4).collect()}
    assert out[0]["start_offset"] == 0 and out[0]["first_seq"] == 0
    assert out[0]["last_seq"] == 0
    assert out[1]["start_offset"] == 3
    assert (out[1]["first_seq"], out[1]["last_seq"]) == (0, 1)
    assert out[2]["start_offset"] == 7 and out[2]["first_seq"] == 1
    assert (out[3]["first_seq"], out[3]["last_seq"]) == (2, 3)
    assert out[3]["start_offset"] + out[3]["n_tokens"] == 13
    # docs 1 and 3 straddle a sequence boundary
    assert sorted(d for d, r in out.items() if r["first_seq"] != r["last_seq"]) == [1, 3]


def test_pack_sequences_partition_invariance(spark):
    """The distributed prefix sum must give identical offsets at any
    bucket count (1 bucket = the naive single-window answer)."""
    from linkgraph.pipeline.sessions import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["t"] * (1 + i % 7))) for i in range(40)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, pack_sequences(docs, seq_len=8, num_partitions=1).collect()))
    b = sorted(map(tuple, pack_sequences(docs, seq_len=8, num_partitions=6).collect()))
    assert a == b


def test_pack_sequences_empty(spark):
    from linkgraph.pipeline.sessions import pack_sequences

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert pack_sequences(empty, seq_len=4).count() == 0


def test_lm_score_matches_hand_computation(spark):
    from linkgraph.pipeline.text import lm_score

    corpus = [(0, "a b a b"), (1, "a b"), (2, "c")]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {r["doc_id"]: r for r in lm_score(docs, k_smooth=0.5).collect()}
    # unigram counts: a=3, b=3, c=1; V=3
    # bigram counts: (a,b)=3, (b,a)=1
    def lp(c2, c1):
        return math.log((c2 + 0.5) / (c1 + 0.5 * 3))

    exp0 = (lp(3, 3) + lp(1, 3) + lp(3, 3)) / 3  # a b, b a, a b
    assert abs(out[0]["avg_logprob"] - round(exp0, 4)) < 1e-9
    assert out[0]["n_bigrams"] == 3
    assert abs(out[1]["avg_logprob"] - round(lp(3, 3), 4)) < 1e-9
    assert 2 not in out  # single-token doc has no bigrams


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Streaming session_window (append mode — the only mode Spark
    supports for streaming session aggregation) emits each session exactly
    once, after the watermark passes it, and agrees with the batch
    operator. A second file carrying one far-future event advances the
    watermark past every real session so they all flush."""
    from linkgraph.pipeline.sessions import sessionize

    ev = _events(
        spark,
        [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:10:00", 2.0),
            (1, "2024-01-01 02:00:00", 4.0),
            (2, "2024-01-01 00:05:00", 8.0),
        ],
    )
    flush = _events(spark, [(99, "2024-01-02 00:00:00", 0.0)])
    path = str(tmp_path / "events")
    # one part-file per logical batch: the file source paces by FILE, so a
    # multi-part write would scatter one session's events across batches
    # and race them against the watermark
    ev.coalesce(1).write.parquet(f"{path}/f1.parquet")
    flush.coalesce(1).write.parquet(f"{path}/f2.parquet")
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/*.parquet")
    )
    q = (
        sessionize(stream.withWatermark("ts", "10 minutes"), gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM sess_stream WHERE user_id != 99").collect())
    )
    want = sorted(map(tuple, sessionize(ev, gap="30 minutes").collect()))
    assert got == want


def test_score_bigram_lm_full_model_matches_lm_score(spark):
    """score_bigram_lm(train_bigram_lm(docs)) is byte-identical to the
    one-shot lm_score, with and without model broadcast."""
    from linkgraph.pipeline.text import lm_score, score_bigram_lm, train_bigram_lm

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c a"), (2, "c c b")],
        "doc_id long, text string",
    )
    want = sorted(map(tuple, lm_score(docs).collect()))
    model = train_bigram_lm(docs)
    assert sorted(map(tuple, score_bigram_lm(docs, model).collect())) == want
    got_bc = score_bigram_lm(docs, model, broadcast_model=True)
    assert sorted(map(tuple, got_bc.collect())) == want


def test_score_bigram_lm_capped_model_fallback(spark):
    """A capped model scores out-of-cap grams through the add-k fallback
    (count 0) while vocab smoothing mass stays the FULL distinct count."""
    from linkgraph.pipeline.text import score_bigram_lm, train_bigram_lm

    docs = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "c d")], "doc_id long, text string"
    )
    # unigrams: a=3, b=3, c=1, d=1; V=4. bigrams: (a,b)=3, (b,a)=2, (c,d)=1
    model = train_bigram_lm(docs, max_bigrams=2, max_unigrams=2)
    out = {
        r["doc_id"]: r
        for r in score_bigram_lm(docs, model, k_smooth=0.5, broadcast_model=True)
        .collect()
    }

    def lp(c2, c1):
        return math.log((c2 + 0.5) / (c1 + 0.5 * 4))

    # doc 0: all bigrams and unigrams inside the cap
    exp0 = (lp(3, 3) + lp(2, 3) + lp(3, 3) + lp(2, 3) + lp(3, 3)) / 5
    assert abs(out[0]["avg_logprob"] - round(exp0, 4)) < 1e-9
    # doc 1: (c,d) evicted from the bigram cap, c evicted from the unigram
    # cap -> both counts fall back to 0
    assert abs(out[1]["avg_logprob"] - round(lp(0, 0), 4)) < 1e-9


def test_mixture_weights_hand_computation(spark):
    from linkgraph.pipeline.text import mixture_weights

    docs = spark.createDataFrame(
        [(i, "web") for i in range(8)] + [(100 + i, "code") for i in range(1)],
        "doc_id long, source string",
    )
    out = {r["source"]: r for r in mixture_weights(docs, alpha=0.5).collect()}
    z = 8**0.5 + 1**0.5
    assert out["web"]["n_docs"] == 8
    assert abs(out["web"]["weight"] - round(8**0.5 / z, 6)) < 1e-12
    assert abs(out["code"]["weight"] - round(1 / z, 6)) < 1e-12
    # alpha=1 is proportional sampling
    prop = {r["source"]: r["weight"] for r in mixture_weights(docs, alpha=1.0).collect()}
    assert abs(prop["web"] - round(8 / 9, 6)) < 1e-12


def test_bm25_topk_hand_computation(spark):
    from linkgraph.pipeline.text import bm25_topk

    docs = spark.createDataFrame(
        [(0, "x x y"), (1, "y z")], "doc_id long, text string"
    )
    out = {(r["doc_id"], r["token"]): r for r in bm25_topk(docs, k=3).collect()}
    # N=2, avgdl=2.5; df: x=1, y=2, z=1
    k1, b = 1.2, 0.75

    def bm25(tf, df, dl):
        idf = math.log(1 + (2 - df + 0.5) / (df + 0.5))
        return idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / 2.5))

    assert abs(out[(0, "x")]["bm25"] - round(bm25(2, 1, 3), 4)) < 1e-9
    assert abs(out[(0, "y")]["bm25"] - round(bm25(1, 2, 3), 4)) < 1e-9
    assert abs(out[(1, "z")]["bm25"] - round(bm25(1, 1, 2), 4)) < 1e-9
    # ranking: within doc 0 the rarer, more frequent x outranks y
    assert out[(0, "x")]["rk"] == 1 and out[(0, "y")]["rk"] == 2


def test_perplexity_buckets_ordering_and_sizes(spark):
    """Buckets are monotone in avg_logprob and split ~ into thirds."""
    from linkgraph.pipeline.text import lm_score, perplexity_buckets

    texts = []
    for i in range(30):
        # vary fluency: repetitive docs (high bigram prob) vs shuffled ones
        words = ["a", "b"] * 10 if i < 10 else [f"w{i}_{j}" for j in range(20)]
        if 10 <= i < 20:
            words = ["a", "b"] * 5 + [f"m{i}_{j}" for j in range(10)]
        texts.append((i, " ".join(words)))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    out = perplexity_buckets(docs).collect()
    assert len(out) == 30
    rank = {"tail": 0, "middle": 1, "head": 2}
    rows = sorted(out, key=lambda r: r["avg_logprob"])
    labels = [rank[r["bucket"]] for r in rows]
    assert labels == sorted(labels)  # monotone in score
    from collections import Counter

    sizes = Counter(r["bucket"] for r in out)
    assert set(sizes) == {"head", "middle", "tail"}
    assert all(5 <= v <= 15 for v in sizes.values())
    # scores agree with lm_score
    lm = {r["doc_id"]: r["avg_logprob"] for r in lm_score(docs).collect()}
    assert all(abs(lm[r["doc_id"]] - r["avg_logprob"]) < 1e-12 for r in out)


def test_reship_after_source_edit_does_not_poison_executors(spark):
    """Regression: ship_package used a FIXED zip name, so re-shipping after
    any package edit into a live JVM made every subsequent task fail with
    'exists and does not match contents'. Content-hashed names fix it:
    a changed zip is a new file, an unchanged one re-adds identical bytes."""
    import os
    import time

    import linkgraph
    from linkgraph.session import ship_package

    ship_package(spark)
    # bump an mtime: zips embed file times, so the archive bytes change —
    # the exact trigger of the old same-name/different-content failure
    probe = os.path.join(os.path.dirname(os.path.abspath(linkgraph.__file__)), "__init__.py")
    st = os.stat(probe)
    os.utime(probe, (st.st_atime, st.st_mtime + 2))
    try:
        ship_package(spark)
        # distributed work (Arrow UDF → executors fetch dependencies) must
        # still succeed after the re-ship
        import pandas as pd

        df = spark.range(100).selectExpr("id", "id % 4 AS k")
        got = (
            df.groupBy("k")
            .applyInPandas(
                lambda pdf: pd.DataFrame({"k": [pdf["k"].iloc[0]], "n": [len(pdf)]}),
                schema="k long, n long",
            )
            .count()
        )
        assert got == 4
    finally:
        os.utime(probe, (st.st_atime, st.st_mtime))


def test_chunk_documents_reference(spark):
    from linkgraph.pipeline.sessions import chunk_documents

    texts = [
        (0, "a b c d e f g h i j"),   # 10 tokens
        (1, "x y z"),                  # shorter than one chunk
        (2, ""),                       # empty: no chunks
        (3, "  p  q "),                # stray spaces filtered
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_idx): (r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    }

    exp = {}
    for did, t in texts:
        toks = [w for w in t.split(" ") if w]
        s = 0
        i = 0
        while s < len(toks):
            w = toks[s : s + 4]
            exp[(did, i)] = (len(w), " ".join(w))
            s += 3
            i += 1
    assert got == exp
    # overlap: doc 0 chunk 0 ends with the token chunk 1 starts after
    assert got[(0, 0)][1] == "a b c d" and got[(0, 1)][1] == "d e f g"
    assert (2, 0) not in got  # empty doc emits nothing


def test_chunk_documents_disjoint_default(spark):
    from linkgraph.pipeline.sessions import chunk_documents

    docs = spark.createDataFrame([(0, " ".join(str(i) for i in range(9)))],
                                 "doc_id long, text string")
    rows = chunk_documents(docs, chunk_tokens=4).orderBy("chunk_idx").collect()
    assert [r.chunk_text for r in rows] == ["0 1 2 3", "4 5 6 7", "8"]


def test_session_cooccurrence_reference(spark):
    import datetime

    from linkgraph.pipeline.sessions import session_cooccurrence

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, user, minutes, etype):
        return (eid, t0 + datetime.timedelta(minutes=minutes), user, etype, 1.0)

    rows = [
        # user 1, session A: click+view+buy; session B (2h later): click only
        ev(0, 1, 0, "click"), ev(1, 1, 5, "view"), ev(2, 1, 10, "buy"),
        ev(3, 1, 130, "click"),
        # user 2, one session: click+view (view repeated — distinct once)
        ev(4, 2, 0, "view"), ev(5, 2, 1, "click"), ev(6, 2, 2, "view"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        (r.type_a, r.type_b): r.n_sessions
        for r in session_cooccurrence(events, gap="30 minutes").collect()
    }
    assert got == {
        ("buy", "click"): 1,
        ("buy", "view"): 1,
        ("click", "view"): 2,
    }
