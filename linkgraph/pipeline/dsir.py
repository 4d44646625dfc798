"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023, "Data Selection for Language Models via Importance
Resampling").

The LLaMA-era answer to "which of these 10^10 raw documents should enter
the pretraining mix": featurize every document as a HASHED bag of
n-grams (unigrams + bigrams hashed into ``n_buckets`` counters — the
fixed-width trick that makes the feature space size-independent of the
corpus vocabulary), fit two bucket-unigram models (target domain p vs
raw pool q, add-k smoothed), weight each raw document by its importance
ratio log w(d) = Σ_b cnt_b(d)·(log p_b − log q_b), then draw the
selection WITHOUT replacement with probability ∝ w via Gumbel top-k
(key = log w + Gumbel noise — Efraimidis-Spirakis' A-Res in log space).

Reference analogue: none — the reference is a graph library; this is an
engine-added LLM-pipeline operator (SURVEY.md §2.10 family, same row as
Moore-Lewis selection in vocab.py — DSIR differs in using hashed
n-gram features, fixed O(n_buckets) model state, and SAMPLED rather
than top-scored selection).

Scale shape (the point of hashing): model state is 2·n_buckets counters
regardless of corpus size — ONE map-side-combining groupBy(bucket) per
model, and the bucket→log-ratio table (≤ n_buckets rows) broadcasts
onto the per-document count pass. The per-document pass is one
explode + groupBy(doc_id, bucket) with map-side combine; no join ever
carries more than n_buckets distinct right-side keys. Selection is a
TakeOrderedAndProject top-n, never a global sort.

Cross-engine determinism: the bucket hash and the Gumbel uniform both
come from the engine's single-sourced md5 recipe (text.md5_uniform), so
the WHOLE pipeline — hashing, smoothing, weights, noise, the sampled
cut — replays bit-identically in ANSI SQL (see queries.sql_dsir_select).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from linkgraph.pipeline.text import md5_uniform


def _grams_arr(toks: Column) -> Column:
    """Unigrams + space-joined bigrams from an ALREADY-MATERIALIZED token
    array column — row-local, no UDF, no shuffle. sequence(0, n-2) would
    be a DESCENDING [0,-1] for one-token docs (Spark's sequence
    semantics), hence the n >= 2 guard; DuckDB's half-open range(1, n)
    is empty there, so the SQL twin needs no guard.

    Callers should pass an attribute (stage ``split(text, ' ')`` in its
    own projection first): higher-order functions run INTERPRETED (no
    whole-stage codegen, no common-subexpression elimination), so a
    ``toks`` that is itself ``split(...)`` is re-evaluated by every
    ``element_at`` — ~2 splits per bigram (measured ~20× on the gram
    explode at sf0.1). CollapseProject will not inline a non-cheap alias
    referenced more than once, so the staged projection survives."""
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - F.lit(2)),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def _bucket(gram: Column, n_buckets: int) -> Column:
    """md5-derived hash bucket in [0, n_buckets) — cross-engine: the SQL
    twin is `CAST(concat('0x', substr(md5(gram),1,15)) AS BIGINT) % B`
    (15 hex digits = 60 bits, always non-negative, so % == pmod)."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("bigint")
        % F.lit(int(n_buckets))
    ).cast("int")


def dsir_log_weights(
    docs: DataFrame,
    target_source: str,
    n_buckets: int = 256,
    add_k: float = 0.5,
    text_col: str = "text",
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """→ (doc_id, log_weight) for every RAW-pool document (source !=
    ``target_source``): log importance ratio under add-``add_k``-smoothed
    bucket-unigram models. Target docs are the seed, not candidates —
    mirror of moore_lewis_scores' exclusion rule.

    log_weight is rounded to 5 digits (the engine's float-stability
    recipe) so oracle comparison and the downstream sampled cut are
    engine-invariant."""
    k = float(add_k)
    b = int(n_buckets)
    is_tgt = F.col(source_col) == target_source
    # carry the target flag THROUGH the explode (it is functionally
    # dependent on the doc key, so the groupBy is the same size) rather
    # than re-joining the doc dimension afterwards — one shuffle saved
    g = docs.select(
        F.col(key_col).alias("key"),
        is_tgt.alias("tgt"),
        F.split(F.col(text_col), " ").alias("_toks"),
    ).select("key", "tgt", F.explode(_grams_arr(F.col("_toks"))).alias("gram"))
    # materialize ONCE: feats feeds BOTH the bucket-model aggregate and
    # the per-doc weight pass, and Spark does not dedup common subtrees —
    # without this the explode + md5 hashing of every gram ran twice per
    # action (localCheckpoint, not persist: no CacheManager entry to be
    # plan-matched by a later identical call)
    feats = (
        g.select("key", "tgt", _bucket(F.col("gram"), b).alias("bucket"))
        .groupBy("key", "tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    per_bucket = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("tgt"), F.col("cnt")).otherwise(0)).alias("tc"),
        F.sum(F.when(~F.col("tgt"), F.col("cnt")).otherwise(0)).alias("rc"),
    )
    totals = per_bucket.agg(
        F.sum("tc").alias("tt"), F.sum("rc").alias("rt")
    )
    # ≤ n_buckets rows — explicitly broadcast onto the doc-bucket pass
    ratio = per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("tc") + k) / (F.col("tt") + k * b))
            - F.log((F.col("rc") + k) / (F.col("rt") + k * b))
        ).alias("llr"),
    )
    return (
        feats.filter(~F.col("tgt"))
        .join(F.broadcast(ratio), "bucket")
        .groupBy("key")
        .agg(F.round(F.sum(F.col("cnt") * F.col("llr")), 5).alias("log_weight"))
        .select(F.col("key").alias(key_col), "log_weight")
    )


def dsir_select(
    docs: DataFrame,
    target_source: str,
    n: int,
    n_buckets: int = 256,
    add_k: float = 0.5,
    text_col: str = "text",
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """→ (doc_id, log_weight, sample_key) — the ``n`` raw-pool documents
    selected by importance resampling WITHOUT replacement: Gumbel top-k
    over key = log_weight − ln(−ln(u)) with u the content-independent
    md5 uniform of ('dsir', doc_id). Inclusion is ∝ exp(log_weight) —
    the paper's resampling step — yet fully deterministic and
    SQL-replayable. Keys are rounded BEFORE the cut (ties → doc_id asc);
    top-n is TakeOrderedAndProject, never a global sort."""
    lw = dsir_log_weights(
        docs,
        target_source,
        n_buckets=n_buckets,
        add_k=add_k,
        text_col=text_col,
        source_col=source_col,
        key_col=key_col,
    )
    u = md5_uniform(F.lit("dsir"), F.col(key_col))
    keyed = lw.withColumn(
        "sample_key", F.round(F.col("log_weight") - F.log(-F.log(u)), 5)
    )
    return (
        keyed.orderBy(F.desc("sample_key"), F.asc(key_col))
        .limit(int(n))
        .select(key_col, "log_weight", "sample_key")
    )
