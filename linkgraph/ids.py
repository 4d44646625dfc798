"""Id densification — the reference's IdMap, Spark-first.

Reference: `core/src/main/java/org/neo4j/graphalgo/core/IdMap.java` /
`core/.../core/huge/loader/HugeIdMap.java`: sparse external ids →
consecutive internal ids, bidirectional.

`monotonically_increasing_id` is NOT contiguous: it is
``(partition << 33) + row-within-partition``. We make it contiguous in
Catalyst alone, with no Python worker and no join: range-partition and sort
the distinct keys, tag each row with its partition and its monotonic id,
materialise that once (``localCheckpoint``), collect the per-partition
counts, and rebase every row by its partition's cumulative offset read from
a literal map. Deterministic given the sort key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def densify_ids(df: DataFrame, key_col: str, num_partitions: int | None = None) -> DataFrame:
    """distinct keys → (id: long contiguous 0..n-1, <key_col>), ids in key order.

    repartitionByRange on the key, sort within each range partition, then
    ``id = _mono - (_part << 33) + offset[_part]``, where ``offset`` holds
    the cumulative row counts of the lower partitions. One collect of the
    counts; no global sort, no join, no UDF. Bound: a range partition may
    hold at most 2^33 rows, or its monotonic ids spill into the next
    partition's range.

    The tagged table is a ``localCheckpoint``, not a ``persist``, so no
    CacheManager entry outlives the call.
    """
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    keyed = (
        df.select(F.col(key_col).alias("_key"))
        .distinct()
        .repartitionByRange(n_parts, "_key")
        .sortWithinPartitions("_key")
        .select(
            "_key",
            F.spark_partition_id().alias("_part"),
            F.monotonically_increasing_id().alias("_mono"),
        )
        .localCheckpoint(eager=False)
    )
    counts = sorted(tuple(r) for r in keyed.groupBy("_part").count().collect())
    pairs, total = [], 0
    for part, cnt in counts:
        pairs += [F.lit(part), F.lit(total).cast("long")]
        total += cnt
    offset = F.element_at(F.create_map(*pairs), F.col("_part")) if pairs else F.lit(0)
    ids = F.col("_mono") - F.shiftleft(F.col("_part").cast("long"), 33) + offset
    return keyed.select(ids.alias("id"), F.col("_key").alias(key_col))
