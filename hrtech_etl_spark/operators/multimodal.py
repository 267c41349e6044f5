"""Multimodal columns: typed binary assets + Arrow-batched features.

Media travel as opaque ``binary`` columns wrapped in a typed struct
(content + mime + metadata) — the pattern Spark's own ``binaryFile``
source uses, extended with per-asset metadata. Features are computed
by one deterministic kernel, ``fake_image_features``: md5-seeded
pseudo-features that accept arbitrary bytes, so the DuckDB oracle can
replicate them exactly. There is no codec layer; a payload is never
decoded.

Design rules for 100 TB of media:

- Assets stay binary end-to-end; only *features* (small arrays) leave
  the executor. Never collect media to the driver.
- All transforms are ``mapInPandas`` / pandas UDFs over Arrow batches:
  one Python roundtrip per ~10k-row batch, never per row.
- ``spark.sql.files.maxPartitionBytes`` (not row count) governs task
  sizing for binary scans; re-chunk with ``spread`` only when a
  CPU-heavy kernel follows a low-parallelism scan.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("content", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source_id", T.LongType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("checksum", T.StringType()),
                ]
            ),
        ),
    ]
)


def media_column(content: Column, mime: Column, source_id: Column) -> Column:
    """Assemble the typed media struct from a binary payload."""
    return F.struct(
        content.alias("content"),
        mime.alias("mime"),
        F.struct(
            source_id.cast("long").alias("source_id"),
            F.octet_length(content).cast("long").alias("n_bytes"),
            F.md5(content).alias("checksum"),
        ).alias("meta"),
    )


def attach_fake_media(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic media fixture: each document's text bytes stand in
    for an image payload (same shape the real pipeline has after a
    binaryFile-source join)."""
    content = F.encode(F.col(text_col), "utf-8").cast("binary")
    return df.withColumn(
        "media", media_column(content, F.lit("image/fake"), F.col(id_col))
    )


def fake_image_features(content: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for an image-embedding kernel: md5-seeded
    pseudo-features in [0, 1). Stable across engines and processes, so
    tests and oracles can assert exact values."""
    out = []
    for i in range(dim):
        h = hashlib.md5(b"%d:" % i + content).hexdigest()[:8]
        out.append(round(int(h, 16) / 0xFFFFFFFF, 6))
    return out


def media_features(
    df: DataFrame,
    *,
    media_col: str = "media",
    id_col: str = "doc_id",
    dim: int = 8,
) -> DataFrame:
    """Feature extraction: (id, media) → (id, mime, n_bytes, features).

    ``mapInPandas`` contract: each batch arrives as a pandas DataFrame
    whose binary column holds Python ``bytes``; the kernel runs once
    per asset inside the Arrow batch (no per-row Python round trip).
    """
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("mime", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = pdf[media_col]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "mime": [m["mime"] for m in media],
                    "n_bytes": [len(m["content"]) for m in media],
                    "features": [
                        fake_image_features(bytes(m["content"]), dim)
                        for m in media
                    ],
                }
            )

    return df.select(id_col, media_col).mapInPandas(run, schema=out_schema)
