"""DIMSUM sampled all-pairs cosine similarity (Zadeh & Carlson 2013,
"Dimension Independent Matrix Square using MapReduce"; shipped in Spark
MLlib as RowMatrix.columnSimilarities).

Column-column cosine over a (row, col, val) triplet matrix. The naive
per-row pair emission is Σ_row nnz(row)² — a hub-shaped row alone breaks
it. DIMSUM keeps each entry with probability min(1, √γ / ‖c‖) and scales
kept values by 1 / min(√γ, ‖c‖); summed pair products are then an
UNBIASED estimator of cosine(ci, cj), with relative error O(1/√γ) for
column norms ≥ √γ.

ORIENTATION MATTERS — the theorem's bound is only non-vacuous when the
COLUMN norms grow with data volume. The expected per-row pair emission is
Σ_(i,j)∈row γ/(‖ci‖‖cj‖): for token-token similarity over (row=doc,
col=token) incidence triplets, ‖c‖ = √df grows with the corpus, so a
stopword COLUMN (df in the millions) is sampled hardest and total cost
stays Θ(γ · nnz) — dimension independent. Flipped to (row=token,
col=doc), column norms are √(tokens per doc) — FIXED as the corpus grows
— so the sampling keeps an O(1) fraction of every entry and the stopword
row's Θ(df²) self-join survives; doc-doc similarity at scale needs a
candidate front (MinHash-LSH, AllPairs prefix) instead, not DIMSUM.

Engine twist: the sampling coin is NOT an RNG stream — it is a
deterministic md5-derived uniform per (row, col), so the whole estimator
(coins included) replays bit-identically in ANSI SQL; the contract oracle
recomputes sampling + estimate end-to-end, and results are invariant to
partitioning and engine.

Scale shape: one groupBy(col) for norms (AQE broadcasts when small),
one row-keyed self-join of the FILTERED entry table (expected entries per
row bounded by γ-scaled mass, the point of the algorithm), one pair-sum
groupBy with map-side combine; top-k is TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.pipeline.text import md5_uniform


def dimsum_cosine(
    triplets: DataFrame,
    gamma: float,
    k: int = 100,
    row_col: str = "row",
    col_col: str = "col",
    val_col: str = "val",
) -> DataFrame:
    """→ (col_a, col_b, cos_est) — top-k column pairs by estimated cosine
    similarity, ordered (cos_est desc, col_a, col_b), rounded to 5 digits
    BEFORE ordering so the cut is float-stable across engines.

    γ ≥ max ‖c‖² keeps every entry (estimate == exact cosine); smaller γ
    trades accuracy on low-norm columns for a hard per-row fan-out bound.
    """
    t = triplets.select(
        F.col(row_col).alias("row"),
        F.col(col_col).alias("col"),
        F.col(val_col).cast("double").alias("val"),
    )
    norms = t.groupBy("col").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("norm")
    )
    sg = float(gamma) ** 0.5
    # norms join: one row per column — AQE broadcasts it when small; no
    # forced broadcast (columns can be documents: 1e9+ rows at corpus
    # scale, where this must stay a shuffle join on col)
    kept = (
        t.join(norms, "col")
        .where(md5_uniform(F.col("row"), F.col("col")) < F.lit(sg) / F.col("norm"))
        .select(
            "row",
            "col",
            (F.col("val") / F.least(F.lit(sg), F.col("norm"))).alias("s"),
        )
    )
    a = kept.select("row", F.col("col").alias("col_a"), F.col("s").alias("sa"))
    b = kept.select("row", F.col("col").alias("col_b"), F.col("s").alias("sb"))
    est = (
        a.join(b, "row")
        .where(F.col("col_a") < F.col("col_b"))
        .groupBy("col_a", "col_b")
        .agg(F.round(F.sum(F.col("sa") * F.col("sb")), 5).alias("cos_est"))
    )
    return est.orderBy(F.desc("cos_est"), "col_a", "col_b").limit(k)


def token_incidence_triplets(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(row=doc_id, col=token, val=1.0) — binary incidence triplets in the
    orientation where DIMSUM's guarantee holds: column norms are √df and
    GROW with the corpus, so stopword columns are sampled hardest and the
    per-document fan-out stays bounded. Column cosine(tok_a, tok_b) =
    |D_a ∩ D_b| / √(df_a · df_b) — the Ochiai co-occurrence similarity
    used for synonym/collocation mining over a corpus."""
    return docs.select(
        F.col("doc_id").alias("row"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("col"),
        F.lit(1.0).alias("val"),
    ).where(F.col("col") != "")
