"""Multimodal column plumbing: opaque binary payloads + typed metadata.

No image/audio/video decoder is a dependency of this package, so no
operator decodes media: only metadata computed from the raw bytes is
emitted, never invented dimensions or features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def media_metadata(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Pure-JVM metadata (no Python): size + sha256 of the binary payload."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.octet_length(F.col(payload_col)).alias("n_bytes"),
        F.sha2(F.col(payload_col), 256).alias("digest"),
    )
