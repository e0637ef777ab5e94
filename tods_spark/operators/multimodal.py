"""Multimodal column plumbing (driver mandate): image/audio/video as opaque
``binary`` columns with typed metadata; decode and feature extraction as
Arrow UDFs over ``mapInPandas``.

The sandbox has no image/audio libraries, so the DECODE step is stubbed
(NotImplementedError behind `strict=True`, deterministic fake otherwise) —
the Spark-side plumbing is real and tested: schema (binary payload + struct
metadata), partitioning (payloads never shuffled except by explicit key),
UDF signatures, and Arrow batch shapes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_META = T.StructType(
    [
        T.StructField("modality", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
    ]
)


def attach_fake_media(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic binary payload + metadata from text (the
    stand-in for a real image/audio blob column in an Iceberg table)."""
    payload = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        F.lit("image").alias("modality"),
        F.lit("application/x-fake").alias("mime"),
        (F.length(text_col) % 640 + 32).cast("int").alias("width"),
        (F.length(text_col) % 480 + 32).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
        F.octet_length(payload).cast("int").alias("n_bytes"),
    )
    return df.select(F.col(id_col), payload.alias("payload"), meta.alias("meta"))


def decode_media(payload: bytes, meta: dict, strict: bool = True) -> np.ndarray:
    """Decode stub. A real deployment plugs Pillow/torchaudio/PyAV here."""
    if strict:
        raise NotImplementedError(
            "media decode requires an image/audio codec library, not present "
            "in this environment; pass strict=False for a deterministic fake"
        )
    # deterministic fake: LCG-style pseudo-pixels seeded by the portable
    # 60-bit md5 slice of the payload (the same value DuckDB computes as
    # ('0x' || substr(md5(text), 1, 15))::BIGINT — dedup.md5_h64), so
    # pooled features downstream are exactly oracle-checkable:
    #   px[i] = (31·i + h64) mod 256
    h64 = int(hashlib.md5(payload).hexdigest()[:15], 16)
    n = (meta["width"] or 8) * (meta["height"] or 8)
    return ((31 * np.arange(n, dtype=np.int64) + h64) % 256).astype(np.float32)


def extract_features(
    df: DataFrame, n_features: int = 16, strict_decode: bool = False
) -> DataFrame:
    """Feature extraction over binary payloads: mapInPandas, one Arrow batch
    of payload bytes in, fixed-width float vectors out. The batch shape is
    what a real CNN/fbank extractor would consume.

    Pooled means are computed as exact int64 pixel sums divided in float64
    — bit-identical to the oracle twin's SQL arithmetic (a float32
    accumulator would round differently per chunk length)."""
    schema = "doc_id long, features array<double>"

    def extract(batches):
        for pdf in batches:
            feats = []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                px = decode_media(bytes(payload), meta, strict=strict_decode)
                # deterministic pooled features: mean of n_features strides
                chunks = np.array_split(px, n_features)
                feats.append(np.array(
                    [c.astype(np.int64).sum() / len(c) for c in chunks]
                ))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return df.mapInPandas(extract, schema)
