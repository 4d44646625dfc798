"""Structured Streaming surface.

The reference has NO streaming capability (SURVEY.md §2.9 — every proc
snapshots the store). This module is engine-added value for continuous
ingestion pipelines: watermark-bounded exact dedup, a running distinct
degree per source (`applyInPandasWithState`), and near-duplicate filtering
of a stream against a static corpus's LSH index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def stream_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    event_time_col: str | None = None,
    watermark: str = "10 minutes",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Streaming exact deduplication on content hash.

    Continuous-ingestion twin of ``pipeline.dedup.exact_duplicates``: each
    document's content is hashed JVM-side (xxhash64 — same key as the
    batch path) and duplicates are dropped as they arrive. With an event-
    time column the state is WATERMARK-BOUNDED
    (``dropDuplicatesWithinWatermark``): a re-ingested document more than
    ``watermark`` late is treated as new, but state never grows past the
    window — the only shape that survives an unbounded corpus stream.
    Without one, plain ``dropDuplicates`` keeps all-time state (exact, for
    bounded backfills). ``hash_fn``: 'xxhash64' (fastest) or 'md5'
    (cross-engine-stable hex, used by the oracle-checked contract query)."""
    hexpr = (
        F.md5(F.col(text_col)) if hash_fn == "md5" else F.xxhash64(F.col(text_col))
    )
    hashed = docs.withColumn("text_hash", hexpr)
    if event_time_col is not None:
        return hashed.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
            ["text_hash"]
        )
    return hashed.dropDuplicates(["text_hash"])


def stateful_distinct_degree(
    edges: DataFrame,
    max_exact: int = 100_000,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Per-source running DISTINCT neighbor count over an unbounded edge
    stream — a custom stateful operator via `applyInPandasWithState`.

    State per src: the exact neighbor-id set while it is ≤ ``max_exact``,
    then a degraded exact-count-stops marker (count keeps rising with
    possible overcount bounded by duplicates arriving after the cap) —
    bounded state per key by construction. Built-in streaming aggs cannot
    express running COUNT(DISTINCT) in update mode without unbounded
    shuffle state per micro-batch; per-key Arrow state can.

    → update-mode stream of (src, distinct_neighbors, total_edges, exact)
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "src long, distinct_neighbors long, total_edges long, exact boolean"
    )
    state_schema = "neighbors array<long>, total long, exact boolean"

    def update(key, pdfs, state):
        (src,) = key
        if state.exists:
            neighbors, total, exact = state.get
            seen = set(neighbors)
        else:
            seen, total, exact = set(), 0, True
        for pdf in pdfs:
            total += len(pdf)
            if exact:
                seen.update(int(d) for d in pdf["dst"])
                if len(seen) > max_exact:
                    exact = False
        state.update((sorted(seen), total, exact))
        yield pd.DataFrame(
            {
                "src": [src],
                "distinct_neighbors": [len(seen)],
                "total_edges": [total],
                "exact": [exact],
            }
        )

    tmo = {
        "NoTimeout": GroupStateTimeout.NoTimeout,
        "ProcessingTimeTimeout": GroupStateTimeout.ProcessingTimeTimeout,
        "EventTimeTimeout": GroupStateTimeout.EventTimeTimeout,
    }[timeout]
    return edges.groupBy("src").applyInPandasWithState(
        update, out_schema, state_schema, "update", tmo
    )


class StaticNearDupIndex:
    """Precomputed, persisted LSH state for `stream_near_dup`: the static
    corpus's (band, bucket) table and its distinct-token sets. Build once,
    share across streams, and `unpersist()` when done — the streaming
    writer outlives the builder call, so cache lifetime must be explicit
    (a bare persist inside the stream factory leaks one cached index per
    invocation in a long-lived session)."""

    def __init__(
        self,
        static_docs: DataFrame,
        num_hashes: int = 64,
        bands: int = 16,
        shingle: int = 1,
        text_col: str = "text",
    ):
        from linkgraph.pipeline.dedup import minhash_bands

        self.num_hashes, self.bands, self.shingle = num_hashes, bands, shingle
        self.bands_df = minhash_bands(
            static_docs, num_hashes, bands, text_col, seed=42, shingle=shingle
        ).persist()
        self.toks_df = static_docs.select(
            F.col("doc_id").alias("static_id"),
            F.array_distinct(F.split(F.col(text_col), " ")).alias("tb"),
        ).persist()

    def unpersist(self) -> None:
        self.bands_df.unpersist()
        self.toks_df.unpersist()


def stream_near_dup(
    stream_docs: DataFrame,
    static_docs,
    sink_fn,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle: int = 1,
    text_col: str = "text",
):
    """Filter a document STREAM against a static corpus for NEAR
    duplicates: per micro-batch, MinHash-band the incoming docs, equi-join
    their (band, bucket) keys against the static corpus's precomputed band
    index (the Broder LSH candidate step), then exact-verify each
    candidate pair with unigram Jaccard — the same two-stage shape as the
    batch `near_duplicate_clusters` front-end.

    ``sink_fn(matches_df, epoch_id)`` receives (doc_id, static_id,
    jaccard) rows with jaccard >= threshold. Stateless across batches:
    the static index is fixed, each batch's signatures live in the batch —
    state never grows with stream length (contrast keeping a growing LSH
    table in stream state, which an unbounded corpus would overflow).
    At scale the static band index is a bucketed table on (band, bucket),
    so the per-batch join is co-located and the small batch side shuffles.

    ``static_docs`` may be a DataFrame (an index is built ad hoc — the
    caller cannot release its cache; fine for one-shot jobs) or a
    :class:`StaticNearDupIndex` (preferred for long-lived sessions:
    build once, share across streams, ``unpersist()`` when done).
    """
    if isinstance(static_docs, StaticNearDupIndex):
        index = static_docs
    else:
        index = StaticNearDupIndex(
            static_docs, num_hashes, bands, shingle, text_col
        )
    static_bands = index.bands_df
    static_toks = index.toks_df

    def _batch(df: DataFrame, epoch_id: int) -> None:
        from linkgraph.pipeline.dedup import minhash_bands

        # band with the INDEX's geometry — a mismatched batch-side banding
        # would bucket-join apples to oranges
        batch_bands = minhash_bands(
            df, index.num_hashes, index.bands, text_col, seed=42,
            shingle=index.shingle,
        )
        cand = (
            batch_bands.join(
                static_bands.select(
                    F.col("doc_id").alias("static_id"), "band", "bucket"
                ),
                ["band", "bucket"],
            )
            .filter(F.col("doc_id") != F.col("static_id"))
            .select("doc_id", "static_id")
            .distinct()
        )
        toks_a = df.select(
            "doc_id", F.array_distinct(F.split(F.col(text_col), " ")).alias("ta")
        )
        j = cand.join(toks_a, "doc_id").join(static_toks, "static_id")
        inter = F.size(F.array_intersect("ta", "tb"))
        matches = j.select(
            "doc_id",
            "static_id",
            F.round(
                inter.cast("double") / (F.size("ta") + F.size("tb") - inter), 5
            ).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)
        sink_fn(matches, epoch_id)

    return stream_docs.writeStream.foreachBatch(_batch)


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> list:
    """Drain everything currently available into an in-memory sink and
    return the rows (test/bootstrap helper; production uses writeStream to
    a real sink with checkpointLocation). Use output_mode='complete' for
    windowed aggregations — append only emits watermark-closed windows."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}").collect()
