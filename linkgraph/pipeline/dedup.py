"""Deduplication operators: exact, token-Jaccard, MinHash+LSH, SimHash.

Exact + Jaccard are pure DataFrame ops (hash-groupBy / inverted-index
equi-join — the scale path: no cross-join). Token hashing happens JVM-side
(`xxhash64` inside `transform`, whole-stage codegen); the MinHash/SimHash
signature kernels are Arrow-vectorized numpy over the pre-hashed token
arrays — no Python string hashing anywhere in the hot path. LSH banding
turns near-dup search into an equi-join on (band, band_hash), and SimHash
gets its Hamming-ball candidate join via the block-permutation trick — the
standard shuffle-friendly formulations for 100 TB corpora.

``near_duplicate_clusters(strategy="auto")`` (and ``dedup_keep_best`` on
top of it) has a **driver side** for driver-sized corpora: one
LIMIT-bounded ``blocks.collect_if_small`` of ``(doc_id, text)`` (no
shuffle), ``str.split(" ")`` token sets (the ``F.split`` +
``array_distinct`` of the Spark side), a collapse to the U distinct sets,
all-pair intersections by the popcount kernel the Spark bitmask pass
uses (``blocks.set_intersections`` over ``blocks.set_masks``), the cut
``round(i/u, 5) >= t`` as an exact integer test, and the driver
union-find (``wcc.union_find_labels``); the result is a local relation of
every document row. The rows carry whole texts, so the probe's budget is
not the edge-row crossover but ``blocks.pair_budget()``: the most rows
whose pairs fit ``blocks.DRIVER_EDGE_THRESHOLD`` (2,000 at the default),
which bounds the U(U−1)/2 pairs of the U ≤ rows distinct sets too. The
side is taken when the rows fit that budget, the U·V incidence cells over
the V distinct tokens fit the crossover (checked before any mask is
built) and doc ids are non-null integers; otherwise the collected rows
are dropped and the Spark strategies run unchanged. The row budget is
conservative on corpora with many identical token sets.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType, IntegralType, LongType, StringType, StructField, StructType,
)

from linkgraph.algorithms import blocks


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(text_hash, cnt, rep_id): groups by content hash; rep = min doc_id."""
    return (
        docs.select("doc_id", F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("rep_id"))
    )


def tokenset_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(tokenset_hash, cnt, rep_id): groups docs by their DISTINCT-token SET
    (sorted bag-of-words) — catches word-reorder and token-repeat variants
    that byte-exact hashing misses, with the same hash-groupBy scale shape.
    Pure whole-stage-codegen expressions (split → array_distinct →
    sort_array → concat_ws → md5); deterministic across engines."""
    key = F.md5(
        F.concat_ws(
            " ",
            F.sort_array(F.array_distinct(F.split(F.coalesce(F.col(text_col), F.lit("")), " "))),
        )
    )
    return (
        docs.select("doc_id", key.alias("tokenset_hash"))
        .groupBy("tokenset_hash")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("rep_id"))
    )


def token_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    max_doc_freq: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """(a, b, jaccard) for unordered doc pairs with unigram-set Jaccard ≥ t.

    Two exact strategies (identical output):

    * ``prefix`` — AllPairs/SSJoin prefix filtering (Bayardo et al., WWW'07;
      Chaudhuri et al., ICDE'06): a pair with Jaccard ≥ t must share a token
      among each doc's ``|x| − ⌈t·|x|⌉ + 1`` RAREST tokens (global df-asc
      order), so the inverted-index join runs only over those prefixes, plus
      the length filter ``t·|x| ≤ |y| ≤ |x|/t``; survivors are exact-verified
      with one array_intersect. Cost is Σ_token prefix-df(token)² — stopwords
      never enter the join, which is what makes this the 100 TB shape. Exact
      at every scale (recall 1 — no LSH miss probability).
    * ``index`` — plain inverted-index join over ALL tokens; cost
      Σ_token df(token)². Used when ``max_doc_freq`` is set: the cutoff
      drops tokens with df > cutoff BEFORE the join and BOTH intersection
      and union are computed over the FILTERED vocabulary (consistent
      jaccard on the restricted token space); pairs sharing only dropped
      tokens are missed — the documented cutoff trade-off.

    ``auto`` = prefix when no cutoff is requested, else index.
    """
    if strategy == "auto":
        strategy = "index" if max_doc_freq is not None else "prefix"
    if strategy == "prefix":
        cand = _prefix_filter_candidates(docs, threshold, text_col)
        return _verify_jaccard_pairs(docs, cand, threshold, text_col)
    dtok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok")
    ).persist()
    joinable = dtok
    if max_doc_freq is not None:
        dfreq = dtok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
        joinable = dtok.join(
            dfreq.filter(F.col("df") <= max_doc_freq).select("tok"), "tok"
        )
    dcnt = joinable.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    a = joinable.select(F.col("doc_id").alias("a"), "tok")
    b = joinable.select(F.col("doc_id").alias("b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ca = dcnt.select(F.col("doc_id").alias("a"), F.col("c").alias("ca"))
    cb = dcnt.select(F.col("doc_id").alias("b"), F.col("c").alias("cb"))
    sim = (
        inter.join(ca, "a")
        .join(cb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("i").cast("double") / (F.col("ca") + F.col("cb") - F.col("i")), 5
            ).alias("jaccard"),
        )
    )
    return sim.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def _prefix_filter_candidates(
    docs: DataFrame, threshold: float, text_col: str
) -> DataFrame:
    """(a, b) candidate pairs containing EVERY pair with Jaccard ≥ threshold.

    Prefix-filter theorem: under any global token total order, if
    |x∩y| ≥ α then the first |x|−α+1 tokens of x and the first |y|−α+1 of y
    share an element (the order-minimal common token). Jaccard ≥ t gives
    α = ⌈t·|x|⌉ per side (i ≥ t·|x∪y| ≥ t·max(|x|,|y|)), so joining only
    each doc's df-ascending prefix is lossless; the length filter
    |y| ≥ ⌈t·|x|⌉ (both ways) prunes the rest."""
    dtok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok")
    )
    dfreq = dtok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    dcnt = dtok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    # global total order (df asc, tok asc) → per-doc rank → keep the prefix
    win = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok"))
    prefix = (
        dtok.join(dfreq, "tok")
        .withColumn("rn", F.row_number().over(win))
        .join(dcnt, "doc_id")
        .filter(F.col("rn") <= F.col("c") - F.ceil(F.lit(threshold) * F.col("c")) + 1)
        .select("doc_id", "tok", "c")
    )
    a = prefix.select(F.col("doc_id").alias("a"), "tok", F.col("c").alias("ca"))
    b = prefix.select(F.col("doc_id").alias("b"), "tok", F.col("c").alias("cb"))
    # explicit numbered repartition before the dedup: AQE coalesces the tiny
    # upstream shuffles (df table, window) to 1-2 partitions, and broadcast
    # joins propagate that collapse into the EXPANSIVE stages (token join →
    # candidate dedup → array_intersect verify), serializing them. A
    # REPARTITION_BY_NUM shuffle is exempt from AQE coalescing and restores
    # full parallelism for everything downstream (measured 6× at sf0.1).
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        a.join(b, "tok")
        .filter(
            (F.col("a") < F.col("b"))
            & (F.col("cb") >= F.ceil(F.lit(threshold) * F.col("ca")))
            & (F.col("ca") >= F.ceil(F.lit(threshold) * F.col("cb")))
        )
        .select("a", "b")
        .repartition(par, "a", "b")
        .dropDuplicates()
    )


def _verify_jaccard_pairs(
    docs: DataFrame, cand: DataFrame, threshold: float, text_col: str
) -> DataFrame:
    """Exact unigram-Jaccard on candidate (a, b) pairs only — one
    array_intersect per pair, zero false positives. Same rounding as the
    full inverted-index path, so the two strategies are value-identical."""
    toks = docs.select(
        "doc_id", F.array_distinct(F.split(F.col(text_col), " ")).alias("t")
    )
    j = (
        cand.select("a", "b")
        .join(toks.select(F.col("doc_id").alias("a"), F.col("t").alias("ta")), "a")
        .join(toks.select(F.col("doc_id").alias("b"), F.col("t").alias("tb")), "b")
    )
    i = F.size(F.array_intersect("ta", "tb"))
    return (
        j.select(
            "a",
            "b",
            F.round(
                i.cast("double") / (F.size("ta") + F.size("tb") - i), 5
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _clusters_from_pairs(pairs: DataFrame, items: DataFrame, id_col: str) -> DataFrame:
    """(a, b) duplicate pairs → (id_col, cluster, is_representative):
    ``wcc()`` over the pair graph, min-id representative — shared tail of
    the dedup-cluster operators. ``wcc`` picks the side (driver union-find
    or distributed contraction + star rounds) and its eager checkpoint of
    the symmetrized pairs evaluates the pair plan once."""
    from linkgraph.algorithms.wcc import wcc
    from linkgraph.graph import Graph

    g = Graph.from_edges(
        pairs, src="a", dst="b", weight=None,
        nodes=items.select(F.col(id_col).alias("id")),
    )
    return wcc(g).select(
        F.col("id").alias(id_col),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("is_representative"),
    )


_BITSET_MAX_VOCAB = 1024  # ≤16 uint64 words per doc-mask


def _token_incidence(token_sets) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """(sizes, set_idx, tok_idx, V) of token sets of distinct tokens: each
    (set, token) membership over the V distinct tokens, the input of
    ``blocks.set_masks``. V is known before any mask is allocated, so a
    caller can gate the U·⌈V/64⌉ masks first."""
    sizes = np.fromiter(map(len, token_sets), np.int64, len(token_sets))
    codes, vocab = pd.factorize(
        np.fromiter((t for ts in token_sets for t in ts), object, int(sizes.sum()))
    )
    return sizes, np.repeat(np.arange(len(token_sets)), sizes), codes, len(vocab)


def _bitset_jaccard_pairs(toks: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs Jaccard when the DISTINCT VOCABULARY is tiny
    (≤ _BITSET_MAX_VOCAB): every token set becomes a ⌈V/64⌉-word bitmask
    (``_token_incidence`` + ``blocks.set_masks``), the intersection is
    popcount(a AND b) (``blocks.set_intersections``, the driver side's
    kernel too), and a U×U block kernel in one Arrow pass replaces U²/2
    interpreted array_intersects (measured ~6× on the sf0.1 near-clique
    corpus, where V = 31). The guarded driver collect is bounded by the caller's
    U ≤ direct_max gate — the same collect-and-broadcast small-side
    pattern as vector_similarity.

    Bit-identical to the codegen path: popcounts are exact ints, the
    division is the same IEEE double op, and ROUNDING + the threshold cut
    happen in Spark (np.round half-even ≠ Spark/DuckDB HALF_UP — only a
    conservative raw prefilter runs in numpy)."""
    import pyarrow as pa

    spark = toks.sparkSession
    rows = toks.select("doc_id", "t").collect()
    ids = np.array([r["doc_id"] for r in rows], dtype=np.int64)
    U = len(ids)
    cnts, set_idx, tok_idx, v = _token_incidence([r["t"] for r in rows])
    masks = blocks.set_masks(set_idx, tok_idx, U, v)
    bc = spark.sparkContext.broadcast((ids, cnts, masks))

    def kernel(batches):
        ids_, cnts_, masks_ = bc.value
        pre = threshold - 1e-5  # raw prefilter; exact rounded cut in Spark
        for batch in batches:
            idx = batch.column("id").to_numpy().astype(np.int64)
            for rows_i, inter in blocks.set_intersections(masks_, idx):
                union = cnts_[rows_i][:, None] + cnts_[None, :] - inter
                raw = inter / np.maximum(union, 1)
                keep = (raw >= pre) & (rows_i[:, None] < np.arange(U)[None, :])
                ii, jj = np.nonzero(keep)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids_[rows_i[ii]], pa.int64()),
                        pa.array(ids_[jj], pa.int64()),
                        pa.array(raw[ii, jj], pa.float64()),
                    ],
                    names=["ia", "ib", "raw"],
                )

    par = spark.sparkContext.defaultParallelism
    left = spark.range(U).repartition(par)
    scored = left.mapInArrow(kernel, schema="ia long, ib long, raw double")
    return scored.select(
        F.least("ia", "ib").alias("a"),
        F.greatest("ia", "ib").alias("b"),
        F.round("raw", 5).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _direct_jaccard_pairs(
    docs: DataFrame, threshold: float, text_col: str
) -> DataFrame:
    """Exact (a, b, jaccard ≥ t) pairs by broadcast-nested-loop verify over
    ALL pairs (with the two-sided length filter in the join condition).

    This is the small-side regime of the similarity-join cost model: when
    the number of distinct documents U is small (near_duplicate_clusters
    gates on U ≤ direct_max AFTER tokenset collapse), U²/2 codegen
    array_intersects beat building the inverted prefix index — on
    near-clique fixtures (tiny vocab, most pairs true) the prefix join
    degenerates to MORE than U² emissions because every "rare" token
    still has huge df. Same rounding as the index path: value-identical.

    r6: when the distinct vocabulary is ≤ _BITSET_MAX_VOCAB (one adaptive
    aggregate — near-clique corpora have tiny vocabularies by nature),
    the verify drops into the bitmask popcount kernel above."""
    toks = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.col(text_col), " ")).alias("t"),
    ).withColumn("c", F.size("t"))
    n_vocab = toks.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok")
    ).first()[0] or 0
    if 0 < n_vocab <= _BITSET_MAX_VOCAB:
        return _bitset_jaccard_pairs(toks, threshold)
    # the stream side of a broadcast-nested-loop join is NOT re-split by the
    # planner: if docs arrived as one partition (e.g. off a localCheckpoint),
    # the whole U² scan runs on one core. Spread it across the cluster.
    par = docs.sparkSession.sparkContext.defaultParallelism
    a = toks.repartition(par).select(
        F.col("doc_id").alias("a"), F.col("t").alias("ta"), F.col("c").alias("ca")
    )
    b = toks.select(
        F.col("doc_id").alias("b"), F.col("t").alias("tb"), F.col("c").alias("cb")
    )
    j = a.join(
        F.broadcast(b),
        (F.col("a") < F.col("b"))
        & (F.col("cb") >= F.ceil(F.lit(threshold) * F.col("ca")))
        & (F.col("ca") >= F.ceil(F.lit(threshold) * F.col("cb"))),
    )
    i = F.size(F.array_intersect("ta", "tb"))
    return j.select(
        "a",
        "b",
        F.round(i.cast("double") / (F.col("ca") + F.col("cb") - i), 5).alias(
            "jaccard"
        ),
    ).filter(F.col("jaccard") >= threshold)


def near_duplicate_clusters(
    docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    max_doc_freq: int | None = None,
    strategy: str = "auto",
    direct_max: int = 20_000,
    lsh_num_hashes: int = 64,
    lsh_bands: int = 32,
) -> DataFrame:
    """(doc_id, cluster, is_representative) — the end-to-end dedup step a
    training-data pipeline actually runs: collapse byte-distinct docs with
    IDENTICAL distinct-token sets (they are J=1 pairs by definition, so
    only one representative per set needs to enter the pair search), find
    near-dup PAIRS among the unique sets, run connected components over
    the pair graph (``wcc()``, which picks the driver or distributed side),
    pull clusters back through the set key, keep the min-id
    representative.

    Pair strategies over the collapsed set-representatives:

    * ``prefix`` — AllPairs prefix-filter index join (exact; the 100 TB
      default: stopwords never enter the join).
    * ``direct`` — broadcast-nested-loop exact verify; chosen by ``auto``
      when the number of distinct sets U ≤ ``direct_max``, where U²/2
      codegen intersects beat building the index (the prefix join
      DEGENERATES past U² emissions on tiny-vocab/near-clique data).
    * ``lsh`` — MinHash-LSH candidate front (``lsh_num_hashes`` /
      ``lsh_bands``; 64×32 ⇒ rows-per-band 2, candidate recall at
      J ≥ 0.8 is 1 − (1 − 0.8²)³² ≈ 1 − 6e-15) + exact-Jaccard verify:
      the sub-quadratic path for corpora whose TRUE pair set is sparse.
      MinHash is seed-deterministic, so output is stable run-to-run.
    * ``auto`` — count U once (one cheap aggregate — an adaptive-planning
      action, same spirit as AQE's runtime join pick): ``direct`` when
      U ≤ direct_max, else ``prefix``.

    ``max_doc_freq`` keeps the legacy uncollapsed index path (its
    restricted-vocabulary Jaccard is cutoff-dependent, so collapsing by
    FULL token set would change the documented semantics)."""
    if max_doc_freq is not None or strategy == "index":
        pairs = token_jaccard_pairs(docs, threshold, text_col, max_doc_freq, "index")
        return _clusters_from_pairs(pairs, docs, "doc_id")
    if strategy == "auto":
        local = _near_dup_clusters_local(docs, threshold, text_col)
        if local is not None:
            return local

    # 1. collapse to distinct token SETS: key = md5 of the sorted distinct
    # tokens (tokens cannot contain ' ', so ' '-joining is injective);
    # null-text docs get a null key and pass through as singletons —
    # matching the pair path, where explode() drops them entirely
    toks_sorted = F.sort_array(F.array_distinct(F.split(F.col(text_col), " ")))
    keyed = docs.select(
        "doc_id",
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.md5(F.concat_ws(" ", toks_sorted)))
        .alias("_key"),
    ).localCheckpoint(eager=True)
    reps = keyed.where(F.col("_key").isNotNull()).groupBy("_key").agg(
        F.min("doc_id").alias("doc_id")
    )
    # r6: one map-side-combining groupBy replaces groupBy + join-back-to-
    # docs — min_by(text, doc_id) IS the min-member's text (doc_ids are
    # distinct), so rep_docs never re-reads the docs table
    rep_docs = (
        docs.select("doc_id", F.col(text_col).alias(text_col))
        .withColumn(
            "_key",
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
                F.md5(F.concat_ws(" ", toks_sorted))
            ),
        )
        .where(F.col("_key").isNotNull())
        .groupBy("_key")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by(text_col, "doc_id").alias(text_col),
        )
        .drop("_key")
        .localCheckpoint(eager=True)
    )

    if strategy == "auto":
        u = rep_docs.count()
        strategy = "direct" if u <= direct_max else "prefix"
    if strategy == "direct":
        pairs = _direct_jaccard_pairs(rep_docs, threshold, text_col)
    elif strategy == "lsh":
        cand = minhash_lsh_candidates(
            rep_docs, num_hashes=lsh_num_hashes, bands=lsh_bands, text_col=text_col
        )
        pairs = _verify_jaccard_pairs(rep_docs, cand, threshold, text_col)
    else:  # prefix
        cand = _prefix_filter_candidates(rep_docs, threshold, text_col)
        pairs = _verify_jaccard_pairs(rep_docs, cand, threshold, text_col)

    # 2. cluster the unique-set graph (reps are per-set MIN doc ids, so
    # the component minimum is the global min doc id of the cluster)
    rep_clusters = _clusters_from_pairs(pairs, rep_docs, "doc_id").select(
        F.col("doc_id").alias("_rep"), "cluster"
    )
    # 3. pull every doc back through its set key
    return (
        keyed.join(reps.select("_key", F.col("doc_id").alias("_rep")), "_key", "left")
        .join(rep_clusters, "_rep", "left")
        .select(
            "doc_id",
            F.coalesce("cluster", F.col("doc_id")).alias("cluster"),
            (F.col("doc_id") == F.coalesce("cluster", F.col("doc_id"))).alias(
                "is_representative"
            ),
        )
    )


def _round5_cut(t: float) -> int:
    """The least R with R/10⁵ >= t (as doubles): Spark's HALF_UP
    ``round(x, 5) >= t`` holds exactly when x >= (2R − 1)/(2·10⁵)."""
    r = math.ceil(t * 100_000)
    while (r - 1) / 100_000 >= t:
        r -= 1
    while r / 100_000 < t:
        r += 1
    return r


def _near_dup_clusters_local(
    docs: DataFrame, threshold: float, text_col: str
) -> DataFrame | None:
    """The driver side of ``near_duplicate_clusters(strategy="auto")``
    (module docstring): (doc_id, cluster, is_representative) as a local
    relation, or None past a gate or for doc ids that are not non-null
    integers. The probe's row budget is ``blocks.pair_budget()``, the
    most rows whose pairs fit, so at most that many texts (2,000 at the
    default) plus the one that shows the overflow reach the driver, and
    the U distinct sets of the rows always pass the pair gate. Null text
    stays a singleton. A pair is kept when round(i/u, 5) >= t, tested on
    the integer counts as 2·10⁵·i >= (2R − 1)·u (``_round5_cut``): the
    division and HALF_UP rounding of the Spark side, with no float on the
    cut."""
    from linkgraph.algorithms.wcc import union_find_labels

    id_type = docs.schema["doc_id"].dataType
    if not (isinstance(id_type, IntegralType)
            and isinstance(docs.schema[text_col].dataType, StringType)):
        return None
    pdf = blocks.collect_if_small(
        docs.select("doc_id", F.col(text_col).alias("text")), budget=blocks.pair_budget()
    )
    if pdf is None or pdf["doc_id"].isna().any():
        return None
    ids = pdf["doc_id"].to_numpy(np.int64)
    has_text = pdf["text"].notna().to_numpy()
    key_of: dict = {}
    set_of = np.fromiter(
        (key_of.setdefault(frozenset(t.split(" ")), len(key_of))
         for t in pdf["text"][has_text]),
        np.int64, int(has_text.sum()),
    )
    u = len(key_of)  # u <= rows <= pair_budget: the U(U−1)/2 pairs fit
    sizes, set_idx, tok_idx, v = _token_incidence(list(key_of))
    if not blocks.fits_driver(u * v):
        return None
    masks = blocks.set_masks(set_idx, tok_idx, u, v)
    rep = np.full(u, np.iinfo(np.int64).max)
    np.minimum.at(rep, set_of, ids[has_text])  # each set's min doc id
    cut = 2 * _round5_cut(threshold) - 1
    src, dst = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for rows, inter in blocks.set_intersections(masks, np.arange(u)):
        r, b = np.nonzero(np.arange(u)[None, :] > rows[:, None])
        a, i = rows[r], inter[r, b]
        keep = 200_000 * i >= cut * (sizes[a] + sizes[b] - i)
        src.append(rep[a[keep]])
        dst.append(rep[b[keep]])
    rep_cluster = union_find_labels(
        pd.DataFrame({"src": np.concatenate(src), "dst": np.concatenate(dst)}), rep
    )
    cluster = ids.copy()
    cluster[has_text] = rep_cluster[set_of]
    schema = StructType([
        StructField("doc_id", id_type), StructField("cluster", LongType()),
        StructField("is_representative", BooleanType()),
    ])
    return docs.sparkSession.createDataFrame(
        pd.DataFrame({"doc_id": ids, "cluster": cluster, "is_representative": ids == cluster}),
        schema,
    )


_MERSENNE = (1 << 61) - 1


def _minhash_params(num_hashes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return a, b


def _token_hash_col(text_col: str, shingle: int = 1, toks=None):
    """array<long> of per-shingle xxhash64 values — computed JVM-side
    inside whole-stage codegen; Python never touches a token string.

    ``shingle`` = word n-gram width: 1 hashes distinct unigrams; n > 1
    hashes every distinct n-token window (the classic shingling that makes
    MinHash sensitive to local word ORDER, not just vocabulary overlap).

    ``toks``: optionally a PRE-STAGED token-array attribute. The n > 1
    branch references the token array inside an interpreted ``transform``
    lambda (``slice`` per window), so an inline ``split`` is re-evaluated
    once per window (r6 finding 1); callers on that branch should project
    ``split(text, ' ')`` first and pass the attribute."""
    if toks is None:
        toks = F.split(F.col(text_col), " ")
    if shingle <= 1:
        return F.transform(F.array_distinct(toks), lambda t: F.xxhash64(t))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - shingle, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, shingle)),
    )
    # NULL text must stay NULL (→ the empty-signature sentinel), matching
    # the unigram path — otherwise size(NULL)→-1 collapses to one ''-gram
    # and every null-text doc becomes an LSH twin of every empty-text doc
    return F.when(
        F.col(text_col).isNull(), F.lit(None).cast("array<long>")
    ).otherwise(F.transform(F.array_distinct(grams), lambda g: F.xxhash64(g)))


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 64, text_col: str = "text", seed: int = 42,
    shingle: int = 1,
) -> DataFrame:
    """(doc_id, sig: array<long>) — MinHash over word ``shingle``-grams
    (1 = unigram vocabulary overlap; ≥2 = order-sensitive shingling).

    Token hashes come pre-computed from the JVM (xxhash64); the kernel is
    one (H × T) universal-hash matrix min per Arrow batch. Arithmetic wraps
    in uint64 and masks to 61 bits — deterministic everywhere.
    """
    a, b = _minhash_params(num_hashes, seed)
    au = a.astype(np.uint64)
    bu = b.astype(np.uint64)

    @pandas_udf("array<long>")
    def sig_udf(tok_hashes: pd.Series) -> pd.Series:
        sigs = []
        empty = np.full(num_hashes, _MERSENNE, dtype=np.int64)
        for hs in tok_hashes:
            if hs is None or len(hs) == 0:
                sigs.append(empty)
                continue
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            with np.errstate(over="ignore"):
                m = (h[None, :] * au[:, None] + bu[:, None]) & np.uint64(_MERSENNE)
            sigs.append(m.min(axis=1).astype(np.int64))
        return pd.Series(sigs)

    if shingle <= 1:
        return docs.select(
            "doc_id", sig_udf(_token_hash_col(text_col, shingle)).alias("sig")
        )
    # stage the token array ahead of the interpreted window-slice transform
    # (r6 finding 1: an inline split re-tokenizes once per shingle window)
    staged = docs.select(
        "doc_id", F.col(text_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    return staged.select(
        "doc_id",
        sig_udf(
            _token_hash_col(text_col, shingle, toks=F.col("_toks"))
        ).alias("sig"),
    )


def minhash_bands(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    seed: int = 42,
    shingle: int = 1,
) -> DataFrame:
    """(doc_id, band, bucket) — each doc's LSH band keys: the signature is
    cut into `bands` slices and each slice hashes (xxhash64) to a bucket.
    This is the shared index shape for both the batch candidate join and
    the streaming stream-vs-static filter."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, text_col, seed, shingle)
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    seed: int = 42,
    shingle: int = 1,
) -> DataFrame:
    """(a, b) candidate near-dup pairs via LSH banding.

    shingle → minhash → band → bucket equi-join; each band's rows hash to a
    bucket key, pairs sharing any bucket become candidates. The shuffle is
    an equi-join on (band, bucket) — no cross-join at any scale.
    """
    banded = minhash_bands(docs, num_hashes, bands, text_col, seed, shingle)
    l = banded.select(F.col("doc_id").alias("a"), "band", "bucket")
    r = banded.select(F.col("doc_id").alias("b"), "band", "bucket")
    return (
        l.join(r, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def simhash64(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — 64-bit SimHash over JVM-hashed unigram tokens."""

    @pandas_udf("long")
    def sim_udf(tok_hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(tok_hashes), dtype=np.int64)
        shifts = np.arange(64, dtype=np.uint64)
        for i, hs in enumerate(tok_hashes):
            if hs is None or len(hs) == 0:
                continue
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            bits = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            votes = (2 * bits - 1).sum(axis=0)
            out[i] = np.int64(
                np.uint64(
                    ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
                )
            )
        return pd.Series(out)

    return docs.select(
        "doc_id", sim_udf(_token_hash_col(text_col)).alias("simhash")
    )


def simhash_candidates(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text"
) -> DataFrame:
    """(a, b, hamming) pairs within a Hamming ball of the 64-bit SimHash.

    Block-permutation LSH: split the 64 bits into (max_hamming + 1) blocks —
    any pair within Hamming ≤ k agrees exactly on ≥ 1 block (pigeonhole), so
    candidates come from an equi-join on (block_idx, block_bits) and the
    exact popcount filter runs only on those.
    """
    nblocks = max_hamming + 1
    width = 64 // nblocks
    sig = simhash64(docs, text_col)
    # nblocks is a plan-time constant: unroll the block windows into one array
    block_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bits"),
            )
            for i in range(nblocks)
        ]
    )
    blocks = sig.select(
        "doc_id", "simhash", F.explode(block_arr).alias("bb")
    ).select("doc_id", "simhash", F.col("bb.blk").alias("blk"), F.col("bb.bits").alias("bits"))
    l = blocks.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"), "blk", "bits")
    r = blocks.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"), "blk", "bits")
    pairs = (
        l.join(r, ["blk", "bits"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.expr("ha ^ hb")).alias("hamming"))
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def embedding_near_duplicates(
    emb: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """(a, b, cosine) pairs above a cosine threshold, LSH-blocked.

    Random-hyperplane LSH (Charikar SimHash for vectors) with OR-amplified
    banding: ``num_bands`` independent bands of ``num_planes`` seeded Gaussian
    hyperplanes each. A pair is a candidate if it shares a bucket in ANY
    band — recall for a pair at angle θ is 1-(1-(1-θ/π)^planes)^bands
    (≈0.9998 at cosine 0.98 with the 8×8 default vs 0.59 for a single band).
    Candidates come from an equi-join on (band, bucket) — never a cross
    join — then an exact JVM-side cosine filter (zero false positives).
    """

    @pandas_udf("array<long>")
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        planes = np.random.RandomState(seed).normal(
            size=(x.shape[1], num_planes * num_bands)
        )
        signs = (x @ planes) >= 0  # (n, planes*bands)
        powers = (1 << np.arange(num_planes)).astype(np.int64)
        out = np.empty((x.shape[0], num_bands), dtype=np.int64)
        for band in range(num_bands):
            blk = signs[:, band * num_planes : (band + 1) * num_planes]
            out[:, band] = blk @ powers
        return pd.Series(list(out))

    sig = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.posexplode(buckets_udf(F.col(vec_col))).alias("band", "bucket"),
    )
    a = sig.select(F.col("id").alias("a"), F.col("v").alias("va"), "band", "bucket")
    b = sig.select(F.col("id").alias("b"), F.col("v").alias("vb"), "band", "bucket")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform("va", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform("vb", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return (
        pairs.select("a", "b", F.round(dot / (na * nb), 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def remove_boilerplate_spans(
    docs: DataFrame,
    n: int = 5,
    min_df: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, clean_text, n_blocks, n_removed) — C4-style cross-corpus
    boilerplate removal: split each document into consecutive disjoint
    ``n``-token blocks, drop every block whose exact text occurs in
    ≥ ``min_df`` distinct documents, and reassemble the survivors in
    order.

    Scale shape: one row-local block split (no shuffle), one
    partial-aggregated groupBy(block) for document frequency, one
    block-keyed hash join (the df table is corpus-sized — joined on the
    shuffle key, never broadcast), and one groupBy(doc) ordered
    reassembly via ``array_sort(collect_list(struct(pos, block)))``.
    Nothing touches the driver; block texts never leave their shuffle
    partition twice.
    """
    toks = F.split(F.col(text_col), " ")
    n_blocks = F.ceil(F.size(toks) / F.lit(float(n))).cast("int")
    blocks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_blocks),
                lambda j: F.concat_ws(" ", F.slice(toks, (j - 1) * n + 1, n)),
            )
        ).alias("j", "b"),
    )
    bdf = blocks.groupBy("b").agg(F.count_distinct("doc_id").alias("bdf"))
    tagged = blocks.join(bdf, "b").withColumn("boiler", F.col("bdf") >= min_df)
    rebuilt = tagged.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("boiler"), F.struct("j", "b")).otherwise(None)
                    )
                ),
                lambda s: s["b"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.col("boiler").cast("long")).alias("n_removed"),
    )
    return docs.select("doc_id").join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_blocks", F.lit(0)).alias("n_blocks"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
    )


def dedup_keep_best(
    docs: DataFrame, threshold: float = 0.8, text_col: str = "text"
) -> DataFrame:
    """(cluster, doc_id, n_tokens) — ONE survivor per near-duplicate
    cluster, chosen by quality instead of min-id: the longest document
    (token count), ties to the smallest doc_id. This is the dedup policy
    production pipelines actually want — the min-id representative is an
    arbitrary member; the longest member is usually the least-truncated
    copy.

    Scale shape: the cluster build is `near_duplicate_clusters`; the
    selection is ONE `max_by` aggregation (partial-aggregatable — a
    million-member cluster contributes one candidate per map task, never
    a per-cluster sort or window)."""
    comp = near_duplicate_clusters(docs, threshold, text_col)
    q = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
        ).cast("long").alias("n_tokens"),
    )
    joined = comp.select("doc_id", "cluster").join(q, "doc_id")
    best = joined.groupBy("cluster").agg(
        F.max_by(
            F.struct("doc_id", "n_tokens"),
            F.struct(F.col("n_tokens"), -F.col("doc_id")),
        ).alias("b")
    )
    return best.select(
        "cluster",
        F.col("b.doc_id").alias("doc_id"),
        F.col("b.n_tokens").alias("n_tokens"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    num_cells: int = 8,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, cluster, centroid_sim, keep) — SemDeDup (Abbas, Tirumala et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): embedding-space near-duplicate removal that
    never compares across k-means cells.

    1. k-means the embeddings into ``num_cells`` cells (the engine's
       fully distributed Lloyd — per-iteration reduction is cells × dim
       floats regardless of corpus size).
    2. Within each cell only, pair rows with cosine ≥ ``threshold``
       (cell-scoped self-join: cost Σ|cell|², the paper's trick — grow
       num_cells with the corpus and cells stay bounded, so the pair
       join never goes global the way brute-force embedding dedup does).
    3. Connected components over the pair graph: ``wcc()``, through the
       cluster tail shared with the text dedup operators.
    4. Per cluster keep the member with the LOWEST cosine to its cell
       centroid (the paper's rule: the most atypical copy carries the
       most information), ties to the smallest id — one partial-
       aggregatable ``min_by``, never a per-cluster window.

    Deterministic end-to-end (seeded k-means++, md5-free exact cosines,
    total tie-breaks); cross-cell near-dups are missed by design — that
    recall/cost trade IS SemDeDup (vs. embedding_near_duplicates'
    hyperplane-LSH front, which probes across the whole space).
    """
    from linkgraph.pipeline.ann import (
        _dot,
        _norm,
        ivf_assign,
        train_ivf_centroids_distributed,
    )

    cent = train_ivf_centroids_distributed(
        embeddings, num_cells=num_cells, vec_col=vec_col, iters=iters, seed=seed
    )
    assigned = ivf_assign(embeddings, cent, id_col=id_col, vec_col=vec_col)
    cent_df = embeddings.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(cent)],
        "cell int, cvec array<double>",
    )
    csim = assigned.join(F.broadcast(cent_df), "cell").select(
        "id",
        "v",
        "cell",
        F.round(
            _dot("v", "cvec") / (_norm("v") * _norm("cvec")), 5
        ).alias("centroid_sim"),
    )
    a = csim.select(
        F.col("cell").alias("ca"), F.col("id").alias("a"), F.col("v").alias("va")
    )
    b = csim.select(
        F.col("cell").alias("cb"), F.col("id").alias("b"), F.col("v").alias("vb")
    )
    pairs = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("a") < F.col("b")))
        .select(
            "a",
            "b",
            F.round(
                _dot("va", "vb") / (_norm("va") * _norm("vb")), 5
            ).alias("cos"),
        )
        .filter(F.col("cos") >= float(threshold))
    )
    comp = _clusters_from_pairs(
        pairs.select("a", "b"), embeddings.select(F.col(id_col)), id_col
    ).select(F.col(id_col).alias("id"), "cluster")
    keep_ids = (
        comp.join(csim.select("id", "centroid_sim"), "id")
        .groupBy("cluster")
        .agg(
            F.min_by("id", F.struct("centroid_sim", "id")).alias("keep_id")
        )
    )
    return (
        comp.join(csim.select("id", "centroid_sim"), "id")
        .join(keep_ids, "cluster")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            "centroid_sim",
            (F.col("id") == F.col("keep_id")).alias("keep"),
        )
    )
