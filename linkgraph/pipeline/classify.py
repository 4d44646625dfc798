"""Hashed-feature linear quality classifier — the fasttext-shaped
document scorer the CCNet / LLaMA-era pipelines use ("keep pages a
linear model thinks look like Wikipedia").

Features are the SAME hashed n-gram buckets as DSIR (pipeline/dsir.py):
unigrams + bigrams hashed into ``n_buckets`` counters, L1-normalized
per document. The model is logistic regression trained by full-batch
gradient descent:

    p_d     = sigmoid(b + Σ_bucket x_db · w_bucket)
    grad_w  = (1/N) Σ_d x_db (p_d − y_d)        (no regularizer — the
    grad_b  = (1/N) Σ_d (p_d − y_d)              hashed dim is fixed)

Scale shape: the model is ``n_buckets + 1`` doubles — bounded state like
a sketch. Features are packed once into per-doc sorted arrays
(key, [(bucket, x)...]) and materialized; each GD iteration is then ONE
map-side-combining shuffle: the residual is a row-local expression (the
weight vector inlined as a literal array — no margins join), and a
sentinel feature (bucket=-1, x=1) per doc folds the bias gradient into
the same groupBy(bucket). The driver round-trip per iteration carries
n_buckets + 1 rows (same documented pattern as BPE's per-merge argmax
and IVF's Lloyd partials).

Determinism: features, labels, and updates are exact arithmetic over a
deterministic hash — no RNG anywhere. Float sum-order differences across
engines stay ~1e-13 after a handful of iterations and are absorbed by
the end-of-pipeline rounding, so train + score replays in ANSI SQL
(queries.sql_quality_classifier unrolls the gradient loop into a CTE
chain — the oracle re-trains the model from scratch in DuckDB).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from linkgraph.pipeline.dsir import _bucket, _grams_arr


def doc_features(
    docs: DataFrame,
    n_buckets: int = 256,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """→ (key, bucket, x) — L1-normalized hashed n-gram features: x_db =
    cnt_db / Σ_b cnt_db. One explode + one map-side-combining groupBy;
    the normalizer needs no second pass — total grams per doc is
    size(unigrams) + size(bigrams) = 2·n_tokens − 1, a row-local
    expression carried through the groupBy key. NULL text is coalesced to
    '' so a NULL-text doc still emits its one ''-gram feature row and gets
    a score (an explode of a NULL gram array would drop the doc)."""
    toks = F.col("_toks")
    total = (F.lit(2) * F.size(toks) - F.lit(1)).cast("double")
    g = docs.select(
        F.col(key_col).alias("key"),
        F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias("_toks"),
    ).select(
        "key",
        total.alias("tot"),
        F.explode(_grams_arr(toks)).alias("gram"),
    )
    return (
        g.select("key", "tot", _bucket(F.col("gram"), n_buckets).alias("bucket"))
        .groupBy("key", "tot", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("key", "bucket", (F.col("cnt") / F.col("tot")).alias("x"))
    )


def _doc_feature_arrays(
    docs: DataFrame,
    n_buckets: int = 256,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """→ (key, bx: array<struct<bucket,x>>) — each doc's L1-normalized
    hashed features packed into ONE bucket-sorted array row. Same x
    values as :func:`doc_features`; the packed form makes a GD
    iteration's margin a row-local expression (literal weight array — no
    join, no groupBy) and the gradient one map-side-combining shuffle."""
    return (
        doc_features(docs, n_buckets=n_buckets, text_col=text_col, key_col=key_col)
        .groupBy("key")
        .agg(F.array_sort(F.collect_list(F.struct("bucket", "x"))).alias("bx"))
    )


def _w_literal_array(w: np.ndarray):
    """Full weight vector as a literal ARRAY (element_at is O(1) by
    position; a literal MAP's GetMapValue is a linear key scan — measured
    ~n_buckets× slower per gram). Zero entries contribute exactly 0.0 to
    the margin, so including them is bit-identical to skipping them."""
    return F.array(*[F.lit(float(v)) for v in w])


def _margin_expr(warr, bias: float):
    """bias + Σ x·w[bucket] over a packed `bx` array — row-local codegen."""
    return F.lit(float(bias)) + F.aggregate(
        F.col("bx"),
        F.lit(0.0),
        lambda acc, e: acc + e["x"] * F.element_at(warr, e["bucket"] + F.lit(1)),
    )


def _train_on_arrays(
    fda_y: DataFrame, n: float, n_buckets: int, iters: int, lr: float
) -> tuple[np.ndarray, float]:
    """Full-batch GD over a materialized (key, bx, y) table — ONE
    map-side-combining shuffle per iteration. The residual r is row-local
    (margin via the literal weight array), and appending a sentinel feature
    (bucket=-1, x=1) per doc folds the bias gradient into the same
    groupBy(bucket): Σ x_db·r_d lands on each real bucket, Σ r_d on the
    sentinel. (r5 ADVICE: the old margins-join form ran three shuffle
    computations per iteration.)"""
    w = np.zeros(int(n_buckets), dtype=np.float64)
    bias = 0.0
    sentinel = F.array(
        F.struct(F.lit(-1).cast("int").alias("bucket"), F.lit(1.0).alias("x"))
    )
    for _ in range(int(iters)):
        r = (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin_expr(_w_literal_array(w), bias)))
            - F.col("y")
        )
        # r STAGED below the explode: a single select would pull the
        # margin expression above the Generate and re-evaluate it per
        # exploded feature row (measured ~10× per iteration)
        grad = (
            fda_y.select("bx", r.alias("r"))
            .select("r", F.explode(F.concat(F.col("bx"), sentinel)).alias("e"))
            .groupBy(F.col("e.bucket").alias("bucket"))
            .agg((F.sum(F.col("e.x") * F.col("r")) / n).alias("g"))
            .collect()
        )
        for row in grad:
            if row["bucket"] < 0:
                bias -= lr * float(row["g"])
            else:
                w[row["bucket"]] -= lr * float(row["g"])
    return w, bias


def quality_classifier_scores(
    docs: DataFrame,
    target_source: str,
    n_buckets: int = 256,
    iters: int = 5,
    lr: float = 10.0,
    text_col: str = "text",
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Train-then-score in one call (the contract-query entry point).

    Features are packed + materialized ONCE, as (key, bx, y), and shared
    by the GD loop and the scoring pass; scoring itself is row-local over
    the packed arrays. The table is a localCheckpoint, not a persist: its
    blocks die with this run's RDD, where a persist's CacheManager entry
    is plan-keyed and would be silently shared with a later identical
    call."""
    y = (F.col(source_col) == target_source).cast("double")
    labels = docs.select(F.col(key_col).alias("key"), y.alias("y"))
    fda_y = _doc_feature_arrays(
        docs, n_buckets=int(n_buckets), text_col=text_col, key_col=key_col
    ).join(labels, "key").localCheckpoint(eager=True)
    n = float(labels.count())
    w, bias = _train_on_arrays(fda_y, n, int(n_buckets), iters, lr)
    m = _margin_expr(_w_literal_array(w), bias)
    return fda_y.select(
        F.col("key").alias(key_col),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-m)), 5).alias("score"),
    )
