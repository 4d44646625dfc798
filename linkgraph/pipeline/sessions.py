"""Event sessionization and LM-training sequence packing.

Engine-added operators for event streams and training-data prep (the
reference has no temporal surface — SURVEY.md §2.9). Both are pure
built-in-function plans:

- :func:`sessionize` groups an event table into activity sessions with
  Spark's native ``session_window`` aggregate — the same expression works
  unchanged in batch and, on a watermarked input, in Structured Streaming.
- :func:`pack_sequences` assigns every document a byte-exact slot in the
  GPT-style concat-and-chunk training layout via a DISTRIBUTED prefix sum
  (per-partition cumsum + a driver-side prefix over the tiny per-partition
  totals) — no global single-partition window, so the plan holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """(user_id, start_s, end_s, n_events, total_value) — merge each user's
    events into sessions separated by more than ``gap`` of inactivity.

    Uses the native ``session_window`` aggregate: Spark merges overlapping
    per-event windows inside a single hash aggregate keyed on
    (user, session) — one shuffle on ``user_col``, no self-join, identical
    semantics in batch and streaming mode. Session bounds are reported as
    the min/max EVENT times (epoch seconds), not the gap-padded window end,
    so the output is gap-parameter-reproducible from the events alone.
    """
    # TIMESTAMP_NTZ has no direct double cast; via LTZ is exact under the
    # engine's UTC session timezone (session.py pins it) and a no-op for
    # regular timestamps
    sec = F.col(ts_col).cast("timestamp_ltz").cast("double")
    return (
        events.groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.min(sec).alias("start_s"),
            F.max(sec).alias("end_s"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum(value_col), 2).alias("total_value"),
        )
        .select(user_col, "start_s", "end_s", "n_events", "total_value")
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 512,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, start_offset, first_seq, last_seq) — concat-and-
    chunk packing: documents are laid out in ``id_col`` order into one
    virtual token stream, then cut into fixed ``seq_len`` training
    sequences; each doc learns which sequences it lands in.

    The global exclusive cumulative sum is computed distributedly: bucket
    by contiguous ``id_col`` ranges (deterministic arithmetic buckets, NOT
    ``repartitionByRange`` — its sampled boundaries can differ between the
    two jobs below and silently mis-assign offsets), per-bucket running sum
    under a bucket-local window, then a driver-side prefix over the tiny
    per-bucket totals (#buckets rows — trivially collectable at any scale)
    broadcast back as offsets. The naive alternative — a window ordered by
    ``id_col`` with no PARTITION BY — funnels the whole corpus through ONE
    task and dies at scale; this plan never does.
    """
    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    toks = F.split(F.col(text_col), " ")
    d = docs.select(F.col(id_col), F.size(toks).cast("long").alias("n_tokens"))
    max_id = d.agg(F.max(id_col)).first()[0]
    if max_id is None:
        return d.select(
            id_col,
            "n_tokens",
            F.lit(0).cast("long").alias("start_offset"),
            F.lit(0).cast("long").alias("first_seq"),
            F.lit(0).cast("long").alias("last_seq"),
        )
    width = max(int(max_id) // num_partitions + 1, 1)
    part = d.withColumn("_pid", F.floor(F.col(id_col) / width).cast("int"))
    w = Window.partitionBy("_pid").orderBy(id_col)
    local = part.withColumn(
        "_local_excl", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    totals = sorted(
        (r["_pid"], r["_tot"])
        for r in local.groupBy("_pid").agg(F.sum("n_tokens").alias("_tot")).collect()
    )
    offsets, acc = [], 0
    for pid, tot in totals:
        offsets.append((pid, acc))
        acc += tot
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    )
    start = (F.col("_local_excl") + F.col("_off")).alias("start_offset")
    out = local.join(off, "_pid").select(
        F.col(id_col),
        F.col("n_tokens"),
        start,
        F.floor((F.col("_local_excl") + F.col("_off")) / seq_len)
        .cast("long")
        .alias("first_seq"),
        F.floor(
            (F.col("_local_excl") + F.col("_off") + F.col("n_tokens") - 1) / seq_len
        )
        .cast("long")
        .alias("last_seq"),
    )
    return out


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    stride: int | None = None,
    text_col: str = "text",
    min_tail: int = 1,
) -> DataFrame:
    """(doc_id, chunk_idx, n_chunk_tokens, chunk_text) — fixed-size token
    windows with overlap: window i covers tokens [i*stride, i*stride +
    chunk_tokens). The per-document chunker every pretraining / retrieval
    pipeline runs before tokenization; `stride < chunk_tokens` gives
    overlapping windows (RAG), `stride == chunk_tokens` (default) gives
    the disjoint pretraining split. Trailing windows shorter than
    `min_tail` tokens are dropped.

    Scale shape: entirely row-local — `split` once, `sequence` over chunk
    starts, `slice` + `concat_ws` per window, then one explode. Zero
    joins, zero shuffle, whole-stage codegen; output rows per doc =
    ceil((T - chunk_tokens)/stride) + 1, memory bounded by the longest
    document. (Contrast pack_sequences, which packs ACROSS documents and
    therefore needs the distributed prefix sum — chunking never does.)
    """
    if stride is None:
        stride = chunk_tokens
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    n = F.size(toks)
    # chunk starts: 0, stride, 2*stride, ... while start < n (>=1 chunk/doc)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.lit(0),
            F.floor((n.cast("double") - 1) / stride).cast("int") * stride,
        ),
        F.lit(stride),
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.slice(toks, s + 1, chunk_tokens).alias("w"),
        ),
    )
    out = (
        docs.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.size("c.w").cast("long").alias("n_chunk_tokens"),
            F.concat_ws(" ", F.col("c.w")).alias("chunk_text"),
        )
        .where(F.col("n_chunk_tokens") >= min_tail)
    )
    return out


def session_cooccurrence(
    events: DataFrame,
    gap: str = "30 minutes",
    k: int = 100,
    user_col: str = "user_id",
    ts_col: str = "ts",
    item_col: str = "event_type",
) -> DataFrame:
    """(type_a, type_b, n_sessions) — the co-session item graph: unordered
    item pairs counted by the number of SESSIONS containing both (basket
    analysis / behavior-graph construction — the edge-mining step before
    the graph algorithms run on interaction data).

    Scale shape: sessions come from the same native `session_window`
    aggregate as :func:`sessionize` (one shuffle on user); each session
    reduces to its SORTED DISTINCT item set, and pair expansion is the
    row-local nested-transform (zero joins — fan-out bounded by the
    session's distinct-item count, never the catalog size). The pair
    count map-side combines; top-k is TakeOrderedAndProject.
    """
    sess_items = events.groupBy(
        F.col(user_col), F.session_window(F.col(ts_col), gap)
    ).agg(
        F.sort_array(F.array_distinct(F.collect_list(item_col))).alias("items")
    )
    items = F.col("items")
    pairs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    counts = (
        sess_items.select(F.explode(pairs).alias("p"))
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    return counts.orderBy(F.desc("n_sessions"), "type_a", "type_b").limit(k)
