"""Multimodal column plumbing — binary payloads with typed metadata.

Image/audio/video travel as opaque `binary` columns plus a metadata struct.
The image decode/feature kernel is an Arrow-batched `mapInPandas` UDF; the
actual codec call is STUBBED (no image library is installed here) behind a
deterministic fake so the Spark-side plumbing — schema, batch shape,
partitioning — is real and tested. `decode_real=True` swaps in PIL.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, width int, height int, duration_ms int"
)


def synthesize_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table with binary payloads + metadata."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                kind = kinds[i % 3]
                payload = hashlib.sha256(f"media{i}".encode()).digest() * (4 + i % 4)
                rows.append(
                    (i, kind, payload, 64 + i % 128, 48 + i % 96, 1000 * (1 + i % 30))
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "payload", "width", "height", "duration_ms"],
            )

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


def _decode_stub(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic fake decode: payload bytes → (h, w) uint8 'pixels'.

    Real implementation would be `PIL.Image.open(io.BytesIO(payload))`;
    not available in this container (see :func:`_decode_real`).
    """
    raw = np.frombuffer(payload, dtype=np.uint8)
    need = width * height
    tiled = np.resize(raw, need)
    return tiled.reshape(height, width)


def _decode_real(payload: bytes, width: int, height: int) -> np.ndarray:
    """Real image decode via PIL, probed AT CALL TIME on the executor —
    drop-in on any cluster that has Pillow installed; raises
    NotImplementedError only when the import actually fails."""
    try:
        import io

        from PIL import Image
    except ImportError as ex:
        raise NotImplementedError(
            "real codecs (PIL/librosa/av) are not installed in this "
            "container; use decode_real=False for the deterministic stub "
            "(identical Spark plumbing)"
        ) from ex
    img = Image.open(io.BytesIO(payload)).convert("L")
    return np.asarray(img, dtype=np.uint8)


def extract_features(media: DataFrame, decode_real: bool = False) -> DataFrame:
    """(media_id, kind, mean_px, std_px, n_bytes) — Arrow-batched decode+stats.

    ``decode_real=True`` routes through a runtime capability probe
    (:func:`_decode_real`): real PIL decode when importable on the worker,
    NotImplementedError otherwise. The stub path is deterministic and
    exercises the identical mapInPandas plumbing."""
    decode = _decode_real if decode_real else _decode_stub

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            means, stds, sizes = [], [], []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                px = decode(payload, int(w), int(h))
                means.append(float(px.mean()))
                stds.append(float(px.std()))
                sizes.append(len(payload))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "mean_px": means,
                    "std_px": stds,
                    "n_bytes": sizes,
                }
            )

    return media.mapInPandas(
        feats, schema="media_id long, kind string, mean_px double, std_px double, n_bytes long"
    )


def frame_sample(media: DataFrame, every_ms: int = 5000) -> DataFrame:
    """(media_id, frame_ts_ms) — frame-sampling plan for video rows (JVM-side)."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )
