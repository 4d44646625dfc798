"""Text analysis operators — language-ID, quality scoring, token stats,
document fingerprinting. All JVM-side built-ins (whole-stage codegen);
no Python in the hot path."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

STOPWORDS = ["the", "a"]


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_uniq_tokens) — whitespace tokenization."""
    toks = F.split(F.col(text_col), " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
    )


# GPT-2-style pre-tokenizer shape, restricted to constructs that behave
# identically in Java regex (Spark) and RE2 (DuckDB oracle): a run of
# letters, a run of digits, or a run of other non-space symbols, each with
# an optional leading space. No lookahead, no \p classes.
BPE_ISH_PATTERN = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def token_counts(
    docs: DataFrame, text_col: str = "text", pattern: str = BPE_ISH_PATTERN
) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens) — whitespace count plus a
    BPE-style pre-tokenizer count (`regexp_extract_all`, JVM-side): the
    per-document token-budget estimate an LLM-data pipeline bills by."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, stop_ratio, avg_token_len) — length/stopword heuristics."""
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks).cast("long")
    stop_cnt = F.size(
        F.filter(toks, lambda x: x.isin(STOPWORDS))
    ).cast("long")
    text_len = F.length(F.col(text_col)).cast("long")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(stop_cnt.cast("double") / n_tokens, 5).alias("stop_ratio"),
        F.round((text_len - (n_tokens - 1)).cast("double") / n_tokens, 5).alias(
            "avg_token_len"
        ),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang) — deterministic n-gram/stopword-ratio heuristic.

    A stand-in classifier with the real Spark plumbing; buckets by the
    stopword density of the text (synthetic corpora are English-ish).
    """
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks).cast("long")
    stop_cnt = F.size(F.filter(toks, lambda x: x.isin(STOPWORDS))).cast("long")
    r = stop_cnt.cast("double") / n_tokens
    return docs.select(
        "doc_id",
        F.when(r >= 0.09, "en_high")
        .when(r >= 0.05, "en_med")
        .otherwise("en_low")
        .alias("pred_lang"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp16) — 64-bit content fingerprint as 16 hex chars."""
    return docs.select(
        "doc_id", F.substring(F.md5(F.col(text_col)), 1, 16).alias("fp16")
    )


# PII patterns restricted to the Java-regex ∩ RE2 intersection (no
# lookaround, no \b, no \p classes) so the DuckDB oracle counts matches
# identically. Both engines use leftmost non-overlapping match semantics.
PII_PATTERNS = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+",
    "ipv4": "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
    "phone": "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}",
}


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_emails, n_ipv4, n_phones, has_pii) — per-document counts
    of email / IPv4 / E.164-ish phone matches, the redaction pre-pass a
    training-data pipeline runs before anything else.

    Pure `regexp_count` over the row — whole-stage codegen, zero shuffle,
    embarrassingly parallel at any corpus size. Ref (pipeline-op family):
    standard C4/RefinedWeb-style PII filtering stage.
    """
    cnt = {
        k: F.regexp_count(F.col(text_col), F.lit(p)).cast("long")
        for k, p in PII_PATTERNS.items()
    }
    return docs.select(
        "doc_id",
        cnt["email"].alias("n_emails"),
        cnt["ipv4"].alias("n_ipv4"),
        cnt["phone"].alias("n_phones"),
        (cnt["email"] + cnt["ipv4"] + cnt["phone"] > 0).alias("has_pii"),
    )


def _word_ngrams_arr(toks, n: int, mapper=None):
    """Guarded row-local word n-gram array expression over a MATERIALIZED
    token-array column (`sequence` → `transform` → `slice` → `concat_ws`).
    `sequence(a, b)` is DESCENDING when b < a, so short docs are guarded
    to an empty array first. ``mapper`` (e.g. ``F.md5``) is applied to
    each gram inside the transform lambda.

    Callers stage ``split(text, ' ')`` in its own projection and pass the
    attribute: the transform lambda runs interpreted without CSE, so an
    inline split is re-evaluated once per GRAM (r6; same fix as
    dsir._grams_arr — measured ~2.5× on the gram-explode operators)."""
    gram = (
        (lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        if mapper is None
        else (lambda i: mapper(F.concat_ws(" ", F.slice(toks, i, n))))
    )
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), gram),
    ).otherwise(F.array().cast("array<string>"))


def ngram_repetition(docs: DataFrame, n: int = 2, text_col: str = "text") -> DataFrame:
    """(doc_id, n_grams, n_uniq_grams, dup_ratio) — within-document word
    n-gram repetition, the Rae et al. (Gopher) style boilerplate/loop
    filter signal.

    Grams are built row-locally via :func:`_word_ngrams`: zero shuffle, all
    JVM codegen — the only shape that survives 100 TB (no explode, no
    group-by; gram lists never leave the row).
    """
    staged = docs.select("doc_id", F.split(F.col(text_col), " ").alias("_toks"))
    grams = _word_ngrams_arr(F.col("_toks"), n)
    total = F.size(grams).cast("long")
    uniq = F.size(F.array_distinct(grams)).cast("long")
    return staged.select(
        "doc_id",
        total.alias("n_grams"),
        uniq.alias("n_uniq_grams"),
        F.when(total > 0, F.round(1.0 - uniq.cast("double") / total, 5))
        .otherwise(F.lit(0.0))
        .alias("dup_ratio"),
    )


def benchmark_contamination(
    docs: DataFrame,
    bench_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_uniq_grams, n_contaminated, contamination_ratio) — for
    each candidate training document, how many of its distinct word
    n-grams also occur anywhere in the benchmark/eval corpus — the
    decontamination check every LLM data pipeline runs (GPT-3 appendix C /
    PaLM style n-gram overlap).

    Scale shape: the benchmark side (eval sets are MBs, not TBs) is
    reduced to DISTINCT grams and broadcast; the corpus side explodes
    per-doc distinct grams and left-joins the broadcast set — one narrow
    pass over the corpus, no corpus×corpus shuffle. The join key is the
    raw gram string here for oracle parity; at 100 TB hash it first
    (xxhash64) to shrink the broadcast and the shuffle rows.
    """
    from pyspark.sql.functions import broadcast

    gram_col = _word_ngrams_arr(F.col("_toks"), n)
    toks = F.split(F.col(text_col), " ").alias("_toks")
    doc_grams = docs.select("doc_id", toks).select(
        "doc_id", F.explode(F.array_distinct(gram_col)).alias("gram")
    )
    bench_grams = (
        bench_docs.select(toks)
        .select(F.explode(F.array_distinct(gram_col)).alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        doc_grams.join(broadcast(bench_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_uniq_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_uniq_grams", F.lit(0)).cast("long").alias("n_uniq_grams"),
        F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
        F.when(
            F.coalesce("n_uniq_grams", F.lit(0)) > 0,
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_uniq_grams"), 5
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("contamination_ratio"),
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str = "source",
    per_stratum: int = 10,
    key_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, <strata_col>, sample_rank) — deterministic top-``k`` sample
    per stratum, ordered by a content-independent pseudo-random key
    (md5 of the id): the data-mixing primitive for per-source quotas.

    One hash-partitioned window per stratum — the sort is per-group, not
    global. With few giant strata (web crawl domains) the per-stratum sort
    is the bottleneck; the documented at-scale variant is a two-phase
    threshold sample (approx quantile of the hash per stratum → filter),
    which this function's deterministic hash key makes drop-in.
    """
    from pyspark.sql import Window

    rnd = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(rnd.asc(), F.col(key_col).asc())
    return (
        docs.select(key_col, strata_col, F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= per_stratum)
    )


def md5_uniform(*cols: F.Column) -> F.Column:
    """Deterministic pseudo-uniform in (0,1) from the given columns —
    THE engine's cross-engine random source (weighted_sample, DIMSUM
    coins): md5 of the ':'-joined string forms, first 15 hex digits as an
    integer, +0.5, / 16^15. The int→double conversion drops bits past the
    53-bit mantissa, but Spark, DuckDB, and Python all apply the same
    round-to-nearest, so values agree bit-for-bit across engines. Keep
    this recipe single-sourced — its SQL twin is
    `(CAST(concat('0x', substr(md5(<expr>), 1, 15)) AS BIGINT) + 0.5)
    / 1152921504606846976.0` with <expr> = the ':'-joined operands."""
    h = F.md5(F.concat_ws(":", *[c.cast("string") for c in cols]))
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("double") + F.lit(0.5)
    ) / F.lit(float(16**15))


def weighted_sample(
    docs: DataFrame,
    weight: F.Column,
    n: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, sample_key) — deterministic weight-proportional sampling
    WITHOUT replacement (Efraimidis & Spirakis 2006 A-Res): each row gets
    key = u^(1/w) with u a content-independent pseudo-uniform from
    md5(id), and the global top-n keys are the sample. Inclusion
    probability is proportional to weight; the same ids win at any
    partitioning or engine because u is derived from the row id, not an
    RNG stream.

    Scale shape: one zero-shuffle key computation + TakeOrderedAndProject
    top-n — no global sort, no window. The at-scale curriculum/mixture
    sampler: weight = quality score or temperature-scaled source weight.
    """
    key = F.pow(md5_uniform(F.col(key_col)), F.lit(1.0) / weight)
    return (
        docs.select(
            F.col(key_col),
            F.round(key, 5).alias("sample_key"),
            key.alias("_k"),
        )
        .orderBy(F.desc("_k"), F.col(key_col))
        .limit(n)
        .drop("_k")
    )


def quality_gate(
    docs: DataFrame,
    min_tokens: int = 5,
    max_dup_ratio: float = 0.6,
    langs: tuple = ("en",),
    forbid_pii: bool = True,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """(doc_id, keep, fail_reason) — the composed keep/drop decision a
    C4/RefinedWeb-style pipeline makes per document, with the FIRST failing
    rule recorded (funnel semantics, fixed rule order: too_few_tokens →
    too_repetitive → bad_lang → has_pii).

    Pure column expressions over the signal family above — whole-stage
    codegen, zero shuffle; the funnel report is then one groupBy(fail_reason)
    away. `fail_reason` is '' for kept docs (never NULL, so the decision
    column hashes identically across engines).
    """
    staged = docs.select(
        "doc_id", lang_col, text_col, F.split(F.col(text_col), " ").alias("_toks")
    )
    n_tokens = F.size(F.col("_toks")).cast("long")
    # bigram dup ratio, same row-local construction as ngram_repetition(n=2)
    grams = _word_ngrams_arr(F.col("_toks"), 2)
    total = F.size(grams).cast("double")
    dup_ratio = F.when(
        total > 0, 1.0 - F.size(F.array_distinct(grams)).cast("double") / total
    ).otherwise(F.lit(0.0))
    pii_total = sum(
        F.regexp_count(F.col(text_col), F.lit(p)) for p in PII_PATTERNS.values()
    )
    reason = (
        F.when(n_tokens < min_tokens, "too_few_tokens")
        .when(dup_ratio > max_dup_ratio, "too_repetitive")
        .when(~F.col(lang_col).isin(list(langs)), "bad_lang")
    )
    if forbid_pii:
        reason = reason.when(pii_total > 0, "has_pii")
    reason = reason.otherwise("")
    return staged.select(
        "doc_id",
        (reason == "").alias("keep"),
        reason.alias("fail_reason"),
    )


def tfidf_topk(
    docs: DataFrame, k: int = 5, text_col: str = "text"
) -> DataFrame:
    """(doc_id, token, tfidf, rk) — top-``k`` TF-IDF terms per document
    (smooth idf = ln((N+1)/(df+1)) + 1), ties broken by token asc.

    Scale shape: explode → two partial-aggregated groupBys (tf per
    (doc, token); df per token) → a TOKEN-keyed hash join (df table can be
    billions of rows at corpus scale — joined on the shuffle key, NOT
    broadcast) → per-doc top-k window (hash-partitioned by doc, sort is
    per-group). All JVM; tfidf rounded to 4 decimals so the value hash is
    engine-stable.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = docs.count()
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        (
            F.col("tf").cast("double")
            * (F.log((n_docs + 1) / (F.col("df").cast("double") + 1)) + 1.0)
        ).alias("_tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("_tfidf"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "doc_id",
            "token",
            F.round("_tfidf", 4).alias("tfidf"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, token, bm25, rk) — top-``k`` BM25 terms per document
    (Robertson/Spärck Jones Okapi BM25, Lucene's non-negative idf variant
    ln(1 + (N - df + 0.5)/(df + 0.5))).

    Scale shape mirrors :func:`tfidf_topk`: token-keyed df join (NOT
    broadcast — billions of rows at corpus scale), doc-length table joined
    on the doc key, avg doc length as a broadcast scalar, per-doc top-k
    window. All JVM codegen.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dl"))
    df = toks.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    n_docs = docs.count()
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    idf = F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    norm = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    scored = (
        tf.join(df, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "doc_id",
            "token",
            (idf * (F.col("tf") * (k1 + 1.0)) / norm).alias("_bm25"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("_bm25"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "doc_id",
            "token",
            F.round("_bm25", 4).alias("bm25"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    k_smooth: float = 0.5,
    text_col: str = "text",
    exact: bool = True,
    approx_accuracy: int = 10000,
) -> DataFrame:
    """(doc_id, avg_logprob, bucket) — CCNet-style fluency buckets: score
    every document with the corpus bigram LM (:func:`lm_score`), then
    label head/middle/tail by avg-logprob quantiles (higher logprob
    = more fluent = head). Single-token documents have no bigrams and are
    excluded, as in lm_score.

    Scale shape: the two cutpoints are one percentile aggregate broadcast
    back as scalars — the labeling pass is map-side. ``exact=True`` uses
    the exact linear-interpolated percentile (ANSI quantile_cont parity —
    the oracle-gated mode; requires a sort of the score column).
    ``exact=False`` is the 100 TB mode: ``approx_percentile`` (mergeable
    Greenwald-Khanna sketch, no global sort; rank error ≤ 1/accuracy) —
    same plan shape, sketch-sized driver traffic.
    """
    lo, hi = cuts
    scored = lm_score(docs, k_smooth=k_smooth, text_col=text_col).select(
        "doc_id", "avg_logprob"
    )
    if exact:
        cutpoints = scored.agg(
            F.percentile("avg_logprob", F.lit(lo)).alias("c_lo"),
            F.percentile("avg_logprob", F.lit(hi)).alias("c_hi"),
        )
    else:
        cutpoints = scored.agg(
            F.percentile_approx("avg_logprob", F.lit(lo), F.lit(approx_accuracy)).alias("c_lo"),
            F.percentile_approx("avg_logprob", F.lit(hi), F.lit(approx_accuracy)).alias("c_hi"),
        )
    return scored.crossJoin(F.broadcast(cutpoints)).select(
        "doc_id",
        "avg_logprob",
        F.when(F.col("avg_logprob") >= F.col("c_hi"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("c_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def mix_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, lang, n_docs, n_tokens, n_chars, avg_tokens) — the
    per-(source, lang) mixture report driving data-mixing decisions.
    One partial-aggregated groupBy; output is |sources|×|langs| rows."""
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tok).alias("n_tokens"),
            F.sum(F.length(text_col).cast("long")).alias("n_chars"),
            F.round(F.avg(n_tok), 5).alias("avg_tokens"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = 4, w: int = 5, text_col: str = "text"
) -> DataFrame:
    """(doc_id, fp) — MOSS-style winnowing fingerprints (Schleimer,
    Wilkerson, Aiken, SIGMOD'03): hash every token ``k``-gram, slide a
    window of ``w`` consecutive gram hashes, keep each window's minimum,
    emit the distinct minima. Guarantees any shared run of
    ``w + k - 1`` tokens yields at least one common fingerprint — the
    robust containment/fragment-overlap signal whole-doc md5 can't give.

    Entirely row-local until the final explode (higher-order array ops,
    no UDF); the hash is md5 hex — a FIXED-LENGTH string, so the window
    minimum is a plain lexicographic ``array_min`` that behaves
    identically in any engine. Documents shorter than ``k`` tokens emit
    no fingerprints; docs with fewer than ``w`` grams emit the single
    global minimum (standard winnowing boundary case).
    """
    gram_expr = _word_ngrams_arr(F.col("_toks"), k, mapper=F.md5)
    # materialize the token array, then the gram array, as real columns:
    # referencing a raw expression inside interpreted HOF lambdas makes
    # Catalyst re-evaluate it per element (O(grams²·md5) per row for the
    # window minima — measured 79 s vs 2 s at sf0.1; split-per-gram for
    # the gram build, r6)
    with_grams = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("_toks")
    ).select("doc_id", gram_expr.alias("_grams"))
    grams = F.col("_grams")
    g = F.size(grams)
    fps = (
        F.when(
            g >= w,
            F.transform(
                F.sequence(F.lit(1), g - (w - 1)),
                lambda j: F.array_min(F.slice(grams, j, w)),
            ),
        )
        .when(g > 0, F.array(F.array_min(grams)))
        .otherwise(F.array().cast("array<string>"))
    )
    return with_grams.select(
        "doc_id", F.explode(F.array_distinct(fps)).alias("fp")
    )


def lm_score(
    docs: DataFrame,
    k_smooth: float = 0.5,
    text_col: str = "text",
    ndigits: int = 4,
) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob) — corpus-trained bigram language-
    model score per document, the CCNet/KenLM-style fluency signal used to
    rank web text for LM training (higher = more typical of the corpus).

    Train and score in one plan: word-bigram and unigram counts are
    aggregated over the WHOLE input, then every document's bigrams are
    joined back against the counts and scored with add-``k_smooth``
    smoothing:  log P(w | prev) = log((c2 + k) / (c1 + k·V)),  V = corpus
    vocabulary size.  ``avg_logprob`` is the mean over the doc's bigrams
    (exp(−avg) is the perplexity).  Documents with fewer than two tokens
    have no bigrams and are absent from the output.

    Scale shape: two groupBy shuffles for the count tables and one
    shuffle join on the bigram key — all built-in aggregates, no UDF. At
    100 TB, train with :func:`train_bigram_lm` ``max_bigrams=M`` (top-M
    capped count tables, broadcastable) — this full-join path is the
    exact small-scale reference the capped variant must match.
    """
    return score_bigram_lm(
        docs, train_bigram_lm(docs, text_col=text_col), k_smooth, text_col, ndigits
    )


def _doc_bigrams(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, prev, w) — one row per in-document word bigram."""
    toks = F.split(F.col(text_col), " ")
    # two-step select: materialize the token array first — referencing the
    # raw split() inside the transform lambda makes Catalyst re-evaluate it
    # per element (the O(n²) trap winnow_fingerprints documents)
    tokd = docs.select("doc_id", toks.alias("_t"))
    return (
        tokd.select(
            "doc_id",
            F.when(F.size("_t") >= 2, F.sequence(F.lit(1), F.size("_t") - 1))
            .otherwise(F.array().cast("array<int>"))
            .alias("_idx"),
            "_t",
        )
        .select("doc_id", F.explode("_idx").alias("i"), "_t")
        .select(
            "doc_id",
            F.element_at("_t", F.col("i")).alias("prev"),
            F.element_at("_t", F.col("i") + 1).alias("w"),
        )
    )


def train_bigram_lm(
    docs: DataFrame,
    max_bigrams: int | None = None,
    max_unigrams: int | None = None,
    text_col: str = "text",
) -> dict:
    """Train the bigram model: ``{'bigrams': (prev, w, c2),
    'unigrams': (tok, c1), 'vocab': (v)}`` count DataFrames.

    With ``max_bigrams``/``max_unigrams`` the count tables are capped to
    the top-M rows by count (deterministic count-desc, key-asc
    tie-break) — the 100 TB shape: a capped table is small enough to
    BROADCAST into :func:`score_bigram_lm`, turning the scoring join
    into a map-side lookup; grams outside the cap score through the
    add-k fallback (count 0). ``vocab`` stays the FULL distinct-token
    count so smoothing mass is unchanged by the cap. The top-M
    row_number window runs over the COUNT table (vocab-sized, orders of
    magnitude smaller than the corpus); at extreme vocab sizes pre-filter
    with a count cutoff (``c2 >= t``) before capping.
    """
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    big = _doc_bigrams(docs, text_col).groupBy("prev", "w").agg(
        F.count(F.lit(1)).alias("c2")
    )
    uni = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    if max_bigrams is not None:
        wb = Window.orderBy(F.desc("c2"), F.asc("prev"), F.asc("w"))
        big = (
            big.withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") <= max_bigrams)
            .drop("_rn")
        )
    if max_unigrams is not None:
        wu = Window.orderBy(F.desc("c1"), F.asc("tok"))
        uni = (
            uni.withColumn("_rn", F.row_number().over(wu))
            .filter(F.col("_rn") <= max_unigrams)
            .drop("_rn")
        )
    vocab = docs.select(F.explode(toks).alias("tok")).agg(
        F.count_distinct("tok").alias("v")
    )
    return {"bigrams": big, "unigrams": uni, "vocab": vocab}


def score_bigram_lm(
    docs: DataFrame,
    model: dict,
    k_smooth: float = 0.5,
    text_col: str = "text",
    ndigits: int = 4,
    broadcast_model: bool = False,
) -> DataFrame:
    """Score documents against a trained bigram model (same output shape
    as :func:`lm_score`). LEFT joins + count-0 fallback make it exact for
    a full model and well-defined for a capped one; with
    ``broadcast_model=True`` both count tables are broadcast (the capped-
    model 100 TB path — no shuffle of the corpus bigrams at all). Works
    unchanged on a STREAMING ``docs`` frame (stream-static left joins).
    """
    big, uni = model["bigrams"], model["unigrams"]
    if broadcast_model:
        big, uni = F.broadcast(big), F.broadcast(uni)
    bg = _doc_bigrams(docs, text_col)
    scored = (
        bg.join(big, ["prev", "w"], "left")
        .join(uni.withColumnRenamed("tok", "prev"), "prev", "left")
        .crossJoin(F.broadcast(model["vocab"]))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + k_smooth)
                / (F.coalesce(F.col("c1"), F.lit(0)) + k_smooth * F.col("v"))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), ndigits).alias("avg_logprob"),
    )


def mixture_weights(
    docs: DataFrame,
    group_col: str = "source",
    alpha: float = 0.7,
    ndigits: int = 6,
) -> DataFrame:
    """(source, n_docs, weight) — temperature-based sampling weights for
    a training mixture: weight ∝ n^alpha, normalized (alpha=1 is
    proportional sampling, alpha→0 uniform over groups — the standard
    multilingual/multi-source rebalancing rule). The grouped table has
    one row per source, so the normalizer is a broadcast scalar."""
    g = docs.groupBy(group_col).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    z = g.agg(F.sum(F.pow("n_docs", F.lit(alpha))).alias("z"))
    return g.crossJoin(F.broadcast(z)).select(
        group_col,
        "n_docs",
        F.round(F.pow("n_docs", F.lit(alpha)) / F.col("z"), ndigits).alias("weight"),
    )


# The 8 high-frequency function words Gopher (Rae et al. 2021, A1.1) uses
# for its "contains at least 2 stop words" rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_words, keep, fail_reason) — the Gopher document-quality
    rule set (Rae et al. 2021, "Scaling Language Models", appendix A1.1)
    as a fixed-order funnel: word-count bounds → mean-word-length bounds →
    symbol-to-word ratio (# and ellipsis) → bullet-start / ellipsis-end
    line fractions → alphabetic-word fraction → ≥2 distinct stop words.
    ``fail_reason`` names the FIRST failing rule ('' for kept docs, never
    NULL, so the column hashes identically across engines).

    Scale shape: pure column expressions over one scan — whole-stage
    codegen, zero shuffle, no Python. Reference-adjacent anchor: the
    reference engine has no corpus-quality surface; this follows the
    published Gopher rules directly.
    """
    toks = F.split(F.col(text_col), " ")
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("long"), lambda a, x: a + x
    )
    mean_wl = sum_len.cast("double") / n_words
    symbols = (
        F.regexp_count(F.col(text_col), F.lit("#"))
        + F.regexp_count(F.col(text_col), F.lit(r"\.\.\."))
    ).cast("double")
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines).cast("double")
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: l.startswith("- ") | l.startswith("•"),
            )
        ).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("double") / n_lines
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))).cast("double") / n_words
    )
    stop_hits = sum(
        F.array_contains(toks, w).cast("int") for w in GOPHER_STOPWORDS
    )
    reason = (
        F.when((n_words < min_words) | (n_words > max_words), "word_count")
        .when(
            (mean_wl < min_mean_word_len) | (mean_wl > max_mean_word_len),
            "mean_word_length",
        )
        .when(symbols / n_words > max_symbol_ratio, "symbol_ratio")
        .when(
            (bullet_frac > max_bullet_ratio) | (ellipsis_frac > max_ellipsis_ratio),
            "bullet_ellipsis",
        )
        .when(alpha_frac < min_alpha_ratio, "alpha_ratio")
        .when(stop_hits < min_stopword_hits, "stop_words")
        .otherwise("")
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        (reason == "").alias("keep"),
        reason.alias("fail_reason"),
    )


def c4_line_clean(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    require_terminal_punct: bool = True,
    blocklist: tuple[str, ...] = ("lorem ipsum",),
    dedup_lines: bool = True,
) -> DataFrame:
    """(doc_id, keep, n_lines, n_kept, clean_text) — C4-style LINE-level
    cleaning (Raffel et al. 2020 §2.2, the C4 heuristics): keep only lines
    with ≥ ``min_words`` words that end in terminal punctuation, drop
    duplicate lines within a page keeping the FIRST occurrence, and mark
    the whole page keep=false when any ``blocklist`` phrase occurs
    anywhere in it. ``clean_text`` is the surviving lines re-joined with
    newlines (empty when the page is blocked-in-full semantics is left to
    the caller — blocked pages still carry their cleaned text).

    Engine-added (no reference analogue) — the per-LINE complement of the
    per-DOCUMENT `quality_gate` funnel.

    Scale shape: zero shuffle — every rule is a row-local higher-order
    array expression (`filter` / `array_distinct` / `array_join`) in
    whole-stage codegen; `array_distinct` preserves first-occurrence
    order, giving the keep-first dedup without a window.
    """
    lines = F.split(F.col(text_col), "\n")
    wordcount = lambda l: F.size(F.filter(F.split(F.trim(l), " "), lambda w: w != ""))  # noqa: E731
    rule = lambda l: wordcount(l) >= int(min_words)  # noqa: E731
    if require_terminal_punct:
        base_rule = rule
        rule = lambda l: base_rule(l) & F.trim(l).rlike("[.!?]$")  # noqa: E731
    kept = F.filter(lines, rule)
    if dedup_lines:
        kept = F.array_distinct(kept)
    blocked = F.lit(False)
    for phrase in blocklist:
        blocked = blocked | F.lower(F.col(text_col)).contains(phrase.lower())
    return docs.select(
        "doc_id",
        (~blocked).alias("keep"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, "\n").alias("clean_text"),
    )
