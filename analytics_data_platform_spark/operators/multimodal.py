"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata struct
(the lakehouse-native pattern: payload in parquet, no filesystem
side-channel). Byte features and frame sampling run as Arrow-batched
``mapInPandas`` stages over the raw payload bytes, so no image/audio
codec (PIL/ffmpeg) is needed.

Scale notes: binary payloads dominate row size — repartition by size
budget (``target_partition_mb``) before any Python stage so Arrow batches
stay bounded; never collect payloads to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id long, payload binary, media_type string, width int, height int, duration_ms int"
)

FEATURE_SCHEMA = "media_id long, n_bytes long, entropy double, byte_mean double, header_hex string"


def extract_byte_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    target_partition_mb: int = 256,
) -> DataFrame:
    """Codec-free content features: byte histogram entropy, mean, header.

    Fully real (numpy over Arrow batches) — the feature-extraction stage of
    a multimodal pipeline without external codecs.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nb, ent, mean, hdr = [], [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                ids.append(mid)
                nb.append(len(buf))
                if len(buf):
                    counts = np.bincount(buf, minlength=256)
                    p = counts[counts > 0] / len(buf)
                    ent.append(float(-(p * np.log2(p)).sum()))
                    mean.append(float(buf.mean()))
                    hdr.append(bytes(payload[:8]).hex())
                else:
                    ent.append(0.0)
                    mean.append(0.0)
                    hdr.append("")
            yield pd.DataFrame(
                {id_col: ids, "n_bytes": nb, "entropy": ent, "byte_mean": mean, "header_hex": hdr}
            )

    sized = _bound_partitions(df.select(id_col, payload_col), payload_col, target_partition_mb)
    return sized.mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_frames(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    duration_col: str = "duration_ms",
) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled timestamp (JVM explode);
    a downstream codec decodes each sampled frame."""
    n = (F.col(duration_col) / every_ms).cast("int")
    return df.select(
        id_col,
        F.explode(
            F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(F.array().cast("array<int>"))
        ).alias("frame_idx"),
    ).withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)


def _bound_partitions(df: DataFrame, payload_col: str, target_mb: int) -> DataFrame:
    """Repartition so Python stages see ~target_mb of payload per partition.

    Driver-side size probe via a cheap agg (sum of payload lengths) — one
    metadata-cheap pass, then an exact repartition count.
    """
    total = df.agg(F.sum(F.length(payload_col)).alias("b")).collect()[0]["b"] or 0
    parts = max(1, int(total / (target_mb * 1024 * 1024)) + 1)
    current = df.rdd.getNumPartitions()
    return df.repartition(parts) if parts > current else df
