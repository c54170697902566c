"""Binary payload columns with typed metadata.

``attach_binary`` wraps any binary (or castable) column into the
canonical media shape ``(media_id, kind, payload, meta)``, where
``meta`` holds the payload's size, MD5 and MIME type. It is pure Column
expressions: parquet keeps the payload in its own column chunk, so
predicates on ``meta`` prune without touching payload bytes. No codec
decodes the payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_binary(df: DataFrame, id_col: str, payload_col: str, kind: str = "image",
                  mime: str = "application/octet-stream") -> DataFrame:
    """Wrap a binary (or castable) column into the canonical media schema."""
    payload = F.col(payload_col).cast("binary")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("size_bytes"),
            F.md5(payload).alias("sha"),
            F.lit(mime).alias("mime"),
        ).alias("meta"),
    )
