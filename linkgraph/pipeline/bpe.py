"""Distributed BPE merge learning (Sennrich et al., ACL 2016).

Learns the first K byte-pair-encoding merges over a corpus: start from
per-word character sequences, repeatedly (1) count adjacent symbol pairs
corpus-wide, (2) pick the most frequent pair (deterministic tiebreak:
count desc, then lexicographic), (3) merge every occurrence left-to-right.

Scale shape
-----------
The corpus is first reduced to a WORD-FREQUENCY table (one groupBy) —
the classic trick: merges only depend on word shapes × counts, so the
iteration state is |vocab| rows, not |corpus| rows, and every later pass
touches the (much smaller) word table. Per merge iteration:

  * pair counting — `zip_with(syms, slice(syms, 2, n), ..)` emits the
    adjacent pairs row-locally (zero joins), one weighted groupBy count
    with map-side combine;
  * argmax — TakeOrderedAndProject (limit 1), not a global sort;
  * merge application — a row-local left-to-right fold via
    `F.aggregate` (whole-stage codegen, no Python);
  * one eager localCheckpoint per iteration truncates lineage (K merges
    would otherwise stack K plan copies — see the gotcha in io.py).

At 100 TB the word-frequency reduction is the only corpus-size pass;
the per-iteration cost is bounded by the surviving vocabulary (typically
<10 M rows), which is also why production tokenizer training runs on a
word-count table. Reference: engine-added (the reference graph engine
has no tokenizer surface); algorithm per Sennrich'16 / GPT-2 BPE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) — whitespace-token frequency table."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _adjacent_pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, n) — corpus-weighted adjacent symbol-pair counts."""
    pairs = F.zip_with(
        F.slice(F.col("syms"), 1, F.size("syms") - 1),
        F.slice(F.col("syms"), 2, F.size("syms") - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return (
        words.where(F.size("syms") >= 2)
        .select(F.explode(pairs).alias("p"), "cnt")
        .groupBy("p.a", "p.b")
        .agg(F.sum("cnt").alias("n"))
    )


def _merge_pair(syms: F.Column, a: str, b: str) -> F.Column:
    """Left-to-right greedy merge of adjacent (a, b) into a||b — a
    codegen fold: acc.out is the rebuilt array, acc.pend the symbol
    waiting to see whether its right neighbor completes the pair."""
    merged = F.lit(a + b)
    empty = F.array().cast("array<string>")
    acc0 = F.struct(
        empty.alias("out"), F.lit(None).cast("string").alias("pend")
    )
    step = lambda acc, x: F.when(  # noqa: E731
        acc["pend"].isNull(),
        F.struct(acc["out"].alias("out"), x.alias("pend")),
    ).otherwise(
        F.when(
            (acc["pend"] == F.lit(a)) & (x == F.lit(b)),
            # pair closed: emit the merged symbol, nothing pending —
            # greedy non-overlapping, so the merged token cannot chain
            # into another (a, b) occurrence as its left element unless
            # re-seen as `pend` on a later pass (standard BPE semantics:
            # the merged symbol IS a new unit named a||b)
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(
            F.struct(
                F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                x.alias("pend"),
            )
        )
    )
    fin = lambda acc: F.when(  # noqa: E731
        acc["pend"].isNull(), acc["out"]
    ).otherwise(F.concat(acc["out"], F.array(acc["pend"])))
    return F.aggregate(syms, acc0, step, fin)


def learn_bpe_merges(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn `n_merges` merges; returns [(a, b, count), ...] in merge
    order. Stops early when no pair reaches `min_pair_count`.

    Driver cost model: each merge is exactly ONE job (pair-count aggregate
    + limit(1) collect of a single row) plus one checkpoint of the
    word-frequency table — the per-merge data collected is O(1), but the
    round-trips are serial, so the practical cap is a few hundred merges
    (Sennrich-style BPE vocabularies in the 10k+ range should learn on a
    bounded word-frequency SAMPLE, or batch non-overlapping merges per
    round). The word-frequency table itself is corpus-size-independent
    state (distinct words × avg word length), so memory is not the cap —
    merge-count × job-latency is."""
    words = word_freq(docs, text_col).select(
        F.split(F.col("word"), "").alias("syms"), "cnt"
    )
    words = words.localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            _adjacent_pair_counts(words)
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_pair_count:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((a, b, n))
        prev = words
        words = words.select(
            _merge_pair(F.col("syms"), a, b).alias("syms"), "cnt"
        ).localCheckpoint(eager=True)
        prev.unpersist()
    return merges
