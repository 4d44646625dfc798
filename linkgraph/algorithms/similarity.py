"""Similarity procedures — `algo.similarity.jaccard/overlap/cosine/...`.

Reference: `algo/src/main/java/org/neo4j/graphalgo/similarity/{JaccardProc,
OverlapProc,CosineProc,SimilarityProc,TopKConsumer}.java`. There: all-pairs
loops over RLE-packed vectors with a bounded top-k heap per item. Here, two
physical plans for the set similarities (jaccard/overlap), picked by data
size:

* **driver** — the ``(item, cat)`` projection (null items dropped) fits one
  LIMIT-bounded ``blocks.collect_if_small`` (no shuffle). The rows are
  deduped in numpy and each item's category set becomes a bitmask
  (``blocks.set_masks``); one exact popcount kernel
  (``blocks.set_intersections``) gives every pair's intersection, and the
  cutoffs, top-k and global top run in numpy. The result is a local
  relation, rounded in Spark. Taken when the U items with a category
  (after ``degreeCutoff``) also fit the crossover as U(U−1)/2 pairs and as
  U·V incidence cells over the V distinct categories
  (``blocks.fits_driver``); otherwise the collected rows are dropped and
  the DataFrame side runs.
* **DataFrame** — an **inverted-index equi-join** on the shared category;
  cost is Σ_cat df(cat)², no cross-join ever materializes all pairs.

Both sides share the semantics: a null category counts toward an item's
degree but never intersects, a null item never pairs, top-k per item keeps
the first k by (similarity desc, b asc) — the deterministic analogue of
TopKConsumer's heap — and ``similarityCutoff`` / ``degreeCutoff`` / global
``top`` (similarity desc, a asc, b asc) map to filters and a limit. The
similarity is the same IEEE double division on both sides and is rounded
to 5 places by Spark's ``round``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    DoubleType, IntegralType, StringType, StructField, StructType,
)

from linkgraph.algorithms import blocks


def _item_categories(df: DataFrame, item_col: str, category_col: str) -> DataFrame:
    return df.select(
        F.col(item_col).alias("item"), F.col(category_col).alias("cat")
    ).distinct()


def jaccard(
    df: DataFrame,
    item_col: str,
    category_col: str,
    top_k: int | None = None,
    similarity_cutoff: float | None = None,
    degree_cutoff: int | None = None,
    top: int | None = None,
) -> DataFrame:
    """→ (a, b, similarity): |A∩B| / |A∪B| over item category-sets."""
    return _set_similarity(
        df, item_col, category_col, "jaccard", top_k, similarity_cutoff, degree_cutoff, top
    )


def overlap(
    df: DataFrame,
    item_col: str,
    category_col: str,
    top_k: int | None = None,
    similarity_cutoff: float | None = None,
    degree_cutoff: int | None = None,
    top: int | None = None,
) -> DataFrame:
    """→ (a, b, similarity): |A∩B| / min(|A|,|B|)."""
    return _set_similarity(
        df, item_col, category_col, "overlap", top_k, similarity_cutoff, degree_cutoff, top
    )


def _set_similarity(
    df: DataFrame,
    item_col: str,
    category_col: str,
    kind: str,
    top_k: int | None,
    similarity_cutoff: float | None,
    degree_cutoff: int | None,
    top: int | None,
) -> DataFrame:
    local = _set_similarity_local(
        df, item_col, category_col, kind, top_k, similarity_cutoff, degree_cutoff, top
    )
    if local is not None:
        return local.select("a", "b", F.round("similarity", 5).alias("similarity"))
    cats = _item_categories(df, item_col, category_col).persist()
    deg = cats.groupBy("item").agg(F.count(F.lit(1)).alias("d"))
    if degree_cutoff is not None:
        deg = deg.filter(F.col("d") >= degree_cutoff)
        cats = cats.join(deg.select("item"), "item")
    a = cats.select(F.col("item").alias("a"), "cat")
    b = cats.select(F.col("item").alias("b"), "cat")
    inter = (
        a.join(b, "cat")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    da = deg.select(F.col("item").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("item").alias("b"), F.col("d").alias("db"))
    joined = inter.join(da, "a").join(db, "b")
    if kind == "jaccard":
        sim = F.col("i").cast("double") / (F.col("da") + F.col("db") - F.col("i"))
    else:  # overlap
        sim = F.col("i").cast("double") / F.least("da", "db")
    scored = joined.select("a", "b", sim.alias("similarity"))
    if similarity_cutoff is not None:
        scored = scored.filter(F.col("similarity") >= similarity_cutoff)
    if top_k is not None:
        win = Window.partitionBy("a").orderBy(F.desc("similarity"), F.asc("b"))
        scored = (
            scored.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") <= top_k)
            .drop("_rn")
        )
    if top is not None:
        scored = scored.orderBy(F.desc("similarity"), F.asc("a"), F.asc("b")).limit(top)
    return scored.select("a", "b", F.round("similarity", 5).alias("similarity"))


def _set_similarity_local(
    df: DataFrame,
    item_col: str,
    category_col: str,
    kind: str,
    top_k: int | None,
    similarity_cutoff: float | None,
    degree_cutoff: int | None,
    top: int | None,
) -> DataFrame | None:
    """The driver side of ``_set_similarity`` as an unrounded local
    (a, b, similarity) relation; None past a gate or for item or category
    types other than strings and integers (see the module docstring)."""
    item_type = df.schema[item_col].dataType
    cat = F.col(category_col)
    cat_type = df.schema[category_col].dataType
    if not (isinstance(item_type, (StringType, IntegralType))
            and isinstance(cat_type, (StringType, IntegralType))):
        return None
    if isinstance(cat_type, IntegralType):
        cat = cat.cast("string")  # exact in pandas even with nulls
    pdf = blocks.collect_if_small(
        df.select(F.col(item_col).alias("item"), cat.alias("cat")).where(
            F.col("item").isNotNull()
        )
    )
    if pdf is None:
        return None
    pdf = pdf.drop_duplicates()
    item_code, items = pd.factorize(pdf["item"], sort=True)
    deg = np.bincount(item_code, minlength=len(items))
    member = pdf["cat"].notna().to_numpy()
    if degree_cutoff is not None:
        member &= deg[item_code] >= degree_cutoff
    live, m_item = np.unique(item_code[member], return_inverse=True)
    m_cat, cats = pd.factorize(pdf["cat"][member])
    u = len(live)
    if not blocks.fits_driver(u * (u - 1) // 2, u * len(cats)):
        return None
    d = deg[live]
    masks = blocks.set_masks(m_item, m_cat, u, len(cats))
    parts = [(np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0))]
    for rows, inter in blocks.set_intersections(masks, np.arange(u)):
        r, b = np.nonzero(inter)
        a = rows[r]
        i, keep = inter[r, b], a != b
        a, b, i = a[keep], b[keep], i[keep]
        if kind == "jaccard":
            sim = i / (d[a] + d[b] - i)
        else:  # overlap
            sim = i / np.minimum(d[a], d[b])
        if similarity_cutoff is not None:
            keep = sim >= similarity_cutoff
            a, b, sim = a[keep], b[keep], sim[keep]
        if top_k is not None:  # a chunk holds whole rows a
            o = np.lexsort((b, -sim, a))
            a, b, sim = a[o], b[o], sim[o]
            first = np.searchsorted(a, a)
            keep = np.arange(len(a)) - first < top_k
            a, b, sim = a[keep], b[keep], sim[keep]
        parts.append((a, b, sim))
    a, b, sim = (np.concatenate(x) for x in zip(*parts))
    if top is not None:
        o = np.lexsort((b, a, -sim))[:top]
        a, b, sim = a[o], b[o], sim[o]
    ids = items.to_numpy()[live]
    schema = StructType([
        StructField("a", item_type), StructField("b", item_type),
        StructField("similarity", DoubleType()),
    ])
    return df.sparkSession.createDataFrame(
        pd.DataFrame({"a": ids[a], "b": ids[b], "similarity": sim}), schema
    )
