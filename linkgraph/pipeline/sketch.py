"""Frequency sketches: heavy hitters and count-min token counts.

Beyond the reference's graph surface — the counting primitives a 100 TB
training-data pipeline needs when the long tail is too big to shuffle:

* :func:`heavy_hitters` — Misra–Gries summaries per partition (Arrow
  ``mapInPandas``, mergeable per Agarwal et al., "Mergeable Summaries",
  PODS 2012), merged into a small candidate set, then an EXACT count of
  the candidates only. MG guarantees every token with global frequency
  ≥ phi·N survives the per-partition summary, so the exact verify pass
  has no false negatives and the final output is exact — the
  sketch-candidates → exact-verify shape the dedup family already uses.

Scale shape: the only full shuffle is the groupBy over tokens that HIT a
broadcast candidate set of ≤ partitions × k rows — the long tail (the
overwhelming majority of a web corpus's vocabulary) never shuffles at
all. Exact word-count over 100 TB is feasible but shuffles |vocab| rows;
this path shuffles |candidates|.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def mg_update(counters: dict, toks: "pd.Series", k: int) -> dict:
    """One batched Misra–Gries step: merge the batch's exact value_counts
    into `counters`, then decrement by the (k+1)-th largest weight when
    the summary overflows k entries (equivalent error bound to the
    per-item update: undercount ≤ m/(k+1))."""
    vc = toks.value_counts()
    for tok, c in vc.items():
        counters[tok] = counters.get(tok, 0) + int(c)
    if len(counters) > k:
        # subtract the (k+1)-th largest count from everything; drop <=0
        kth = sorted(counters.values(), reverse=True)[k]
        counters = {t: c - kth for t, c in counters.items() if c > kth}
    return counters


def _misra_gries_partition(
    batches: Iterator[pd.DataFrame], k: int
) -> Iterator[pd.DataFrame]:
    """One Misra–Gries summary (k counters) over ALL Arrow batches of a
    partition (mergeable per Agarwal et al.; the compress step lives in
    :func:`mg_update`)."""
    counters: dict[str, int] = {}
    for pdf in batches:
        if pdf.empty:
            continue
        counters = mg_update(counters, pdf["tok"], k)
    yield pd.DataFrame(
        {"tok": list(counters.keys()), "est": list(counters.values())}
    ).astype({"tok": "string", "est": "int64"})


def heavy_hitters(
    docs: DataFrame,
    phi: float = 0.01,
    text_col: str = "text",
    safety: float = 2.0,
) -> DataFrame:
    """→ (token, count): EXACT counts of every token whose global
    frequency is ≥ ``phi`` of all token occurrences.

    Misra–Gries per partition with k = ceil(safety/phi) counters. Summed
    across P partitions the total undercount is ≤ N/(k+1) < phi·N/safety,
    so any true phi-heavy token keeps a positive merged estimate and
    reaches the verify pass — candidates are a guaranteed superset. The
    verify pass exact-counts ONLY candidate tokens (broadcast semi-join)
    and applies the crisp threshold count ≥ phi·N, so output is exact.
    """
    if not 0.0 < phi < 1.0:
        raise ValueError(f"phi must be in (0,1), got {phi}")
    k = int(math.ceil(safety / phi))
    toks = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    summaries = toks.mapInPandas(
        lambda it: _misra_gries_partition(it, k), "tok string, est long"
    )
    # merged candidate set: <= P*k rows, tiny — safe to broadcast
    cands = summaries.groupBy("tok").agg(F.sum("est").alias("est")).select("tok")
    exact = (
        toks.join(F.broadcast(cands), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("count") >= F.lit(phi) * F.col("n_total"))
        .select(F.col("tok").alias("token"), "count")
    )


def _cm_cell(tok: F.Column, row: int, width: int) -> F.Column:
    """Count-Min cell index for hash row `row` — md5-prefix integer mod
    width (same cross-engine recipe family as text.md5_uniform, so the
    SQL oracle replays the sketch bit-for-bit; xxhash64 would be faster
    but DuckDB cannot reproduce it)."""
    h = F.md5(F.concat_ws(":", tok, F.lit(str(row))))
    return F.pmod(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long"), F.lit(width)
    )


def count_min_token_counts(
    docs: DataFrame,
    depth: int = 4,
    width: int = 1024,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """→ (token, est_count) — Count-Min sketch estimates (Cormode &
    Muthukrishnan 2005) for every distinct token, top-k by (est desc,
    token). Estimates never undercount; overcount ≤ 2N/width per row,
    min over `depth` independent rows.

    Scale shape: the sketch is `depth × width` counters built with ONE
    map-side-combining groupBy over (row, cell) — bounded state
    regardless of vocabulary size, and sketches of partitions/streams
    merge by cell-wise addition (the groupBy IS the merge). Point
    queries join the distinct-token table against the d·w-row sketch
    (broadcast) and take the row-wise min. Everything is JVM codegen —
    no Python in either pass.
    """
    toks = docs.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    toks = toks.where(F.col("tok") != "")
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cm_cell(F.col("tok"), r, width).alias("c"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc")
    )
    sketch = (
        cells.select("rc.r", "rc.c")
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    qtok = toks.distinct()
    qcells = qtok.select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cm_cell(F.col("tok"), r, width).alias("c"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("rc"),
    ).select("tok", "rc.r", "rc.c")
    est = (
        qcells.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("tok")
        .agg(F.min("n").alias("est_count"))
    )
    return (
        est.select(F.col("tok").alias("token"), "est_count")
        .orderBy(F.desc("est_count"), "token")
        .limit(k)
    )
