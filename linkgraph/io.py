"""Checkpoint / table IO with per-partition lineage + metrics.

The reference writes results back into the Neo4j store via a parallel
transactional exporter (`core/src/main/java/org/neo4j/graphalgo/core/write/
Exporter.java`). Our sink is a table: partitioned Parquet + a JSON manifest
that carries the layout/lineage guarantees a table format such as Iceberg
would (documented divergence — no Iceberg runtime jar is installed).

A checkpoint per superstep makes the iterative algorithms resumable
mid-iteration and truncates Spark lineage (SURVEY.md §4 / §7 hard-part 3).
Manifest rows carry per-partition row counts + value checksums — the
"per-partition lineage and metrics" of the north rule.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


class CheckpointManager:
    """Per-superstep state checkpointing for iterative algorithms.

    Layout::

        <dir>/manifest.jsonl             one JSON line per committed superstep
        <dir>/step=<k>/ *.parquet        the state DataFrame at superstep k

    ``write`` is atomic at manifest granularity: the parquet dir is written
    first, the manifest line appended last; ``latest`` only trusts manifest
    lines whose data dir exists.
    """

    def __init__(self, spark: SparkSession, directory: str):
        self.spark = spark
        self.dir = directory
        os.makedirs(directory, exist_ok=True)
        self.manifest_path = os.path.join(directory, "manifest.jsonl")

    # ------------------------------------------------------------------ write
    def write(
        self,
        df: DataFrame,
        step: int,
        metrics: dict | None = None,
        fmt: str | None = None,
    ) -> DataFrame:
        """Persist state at ``step``; returns the re-read (lineage-truncated) DF.

        ``fmt`` tags the manifest line with the state-payload format (e.g.
        ``"wcc/edges-v2"``) so a resume under a DIFFERENT payload layout
        fails loudly instead of silently misinterpreting rows."""
        path = os.path.join(self.dir, f"step={step}")
        df.write.mode("overwrite").parquet(path)
        reread = self.spark.read.parquet(path)
        # per-partition lineage: rows + a value checksum per output file
        part_stats = [
            {"rows": r["rows"], "checksum": r["checksum"]}
            for r in reread.withColumn("_f", F.input_file_name())
            .groupBy("_f")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.bit_xor(F.xxhash64(*[c for c in reread.columns])).alias("checksum"),
            )
            .collect()
        ]
        line = {
            "step": step,
            "path": path,
            "ts": time.time(),
            "partitions": part_stats,
            "metrics": metrics or {},
        }
        if fmt is not None:
            line["format"] = fmt
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(line) + "\n")
        return reread

    # ------------------------------------------------------------------- read
    def entries(self) -> list[dict]:
        if not os.path.exists(self.manifest_path):
            return []
        out = []
        with open(self.manifest_path) as f:
            for ln in f:
                ln = ln.strip()
                if not ln:
                    continue
                rec = json.loads(ln)
                if os.path.isdir(rec["path"]):
                    out.append(rec)
        return out

    def latest(self, fmt: str | None = None) -> tuple[int, DataFrame, dict] | None:
        """Most recent committed state. When ``fmt`` is given, refuse a
        checkpoint whose manifest carries an explicitly DIFFERENT format tag —
        resuming under a changed payload layout would silently corrupt.
        A checkpoint written before format tags existed (no ``format`` key)
        is treated as "no resumable checkpoint" (returns None, warns) rather
        than crashing: recomputing is always safe, crashing is a regression."""
        entries = self.entries()
        if not entries:
            return None
        rec = max(entries, key=lambda r: r["step"])
        if fmt is not None:
            tag = rec.get("format")
            if tag is None:
                import warnings

                warnings.warn(
                    f"checkpoint at {rec['path']} predates format tags; "
                    f"ignoring it and recomputing (expected format {fmt!r})",
                    stacklevel=2,
                )
                return None
            if tag != fmt:
                raise ValueError(
                    f"checkpoint at {rec['path']} has format {tag!r}, "
                    f"expected {fmt!r} — refusing to resume from an "
                    "incompatible state layout"
                )
        return rec["step"], self.spark.read.parquet(rec["path"]), rec.get("metrics", {})


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Result sink — the analogue of `write:true, writeProperty:...`."""
    df.write.mode(mode).parquet(path)
