"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Media spans (kind='media') reference image/audio/video assets. At
100 TB these live as `binary` columns with typed metadata, processed
by Arrow-batched pandas UDFs over `mapInPandas`. This container has no
image/audio codecs, so the *decode* step is stubbed (deterministic
fake, clearly marked) while everything Spark-side — schema, partition
strategy, UDF signature, batch shape — is real and tested.

Layout rules that matter at scale:
* payloads travel in their own column so parquet column pruning keeps
  metadata-only queries from touching bytes at all;
* feature extraction is one `mapInPandas` pass: bytes in via Arrow,
  fixed-width feature vectors out — no driver collection, no per-row
  Python UDF serde.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from searchengine_spark.functions.hashes import hash60

MEDIA_SCHEMA = (
    "media_id string, doc_id string, media_type string, "
    "width int, height int, n_bytes int, payload binary"
)
FEATURE_DIM = 8

REAL_CODECS_AVAILABLE = False  # no PIL/ffmpeg in this container; BMP
# decodes for real (pure-numpy header parse, decode_bmp below)


def decode_bmp(payload: bytes) -> np.ndarray:
    """REAL decode of an uncompressed 24-bpp BMP (BITMAPINFOHEADER,
    BI_RGB) in pure numpy — no codec libraries. Returns the pixel
    bytes (BGR interleaved, top-down row order, 4-byte row padding
    stripped) as float64, the same shape contract as the stubbed
    decode so the feature extractor is codec-agnostic."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3  # rows pad to 4 bytes
    h = abs(height)
    data = np.frombuffer(payload, np.uint8, count=stride * h, offset=off)
    rows = data.reshape(h, stride)[:, :row_bytes]
    if height > 0:  # positive height = bottom-up storage
        rows = rows[::-1]
    return rows.reshape(-1).astype(np.float64)


def synth_media_df(spark, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from documents: payload bytes
    from repeated md5 (native unhex — no Python), metadata from hash60."""
    from searchengine_spark.sources.tables import spread_scan

    # spread_scan: single-split small-SF scan would otherwise feed the
    # per-row payload build + mapInPandas decode through one task
    docs = spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    d = docs.select(F.col("doc_id").cast("string").alias("doc_id"))
    h = hash60(F.col("doc_id"), "media")
    n_rep = (F.pmod(h, F.lit(6)) + 1).cast("int")  # 16..96 payload bytes
    return d.select(
        F.concat(F.lit("m"), F.col("doc_id")).alias("media_id"),
        "doc_id",
        F.element_at(
            F.array(F.lit("image/png"), F.lit("image/jpeg"), F.lit("audio/wav"), F.lit("video/mp4")),
            (F.pmod(h, F.lit(4)) + 1).cast("int"),
        ).alias("media_type"),
        (F.pmod(h, F.lit(1024)) + 16).cast("int").alias("width"),
        (F.pmod(F.shiftright(h, 10), F.lit(1024)) + 16).cast("int").alias("height"),
        (n_rep * 16).cast("int").alias("n_bytes"),
        F.unhex(F.repeat(F.md5(F.concat(F.lit("payload"), F.col("doc_id"))), n_rep)).alias(
            "payload"
        ),
    )


def decode_media(payload: bytes, media_type: str) -> np.ndarray:
    """Decode dispatch: BMP decodes FOR REAL (decode_bmp — pure numpy,
    exercised end-to-end through mapInPandas in tests); every other
    format is the honest stub (a production build replaces it with
    PIL/libav; the deterministic fake keeps the pipeline testable)."""
    if media_type == "image/bmp" or payload[:2] == b"BM":
        return decode_bmp(payload)
    if REAL_CODECS_AVAILABLE:
        raise NotImplementedError("real codecs not wired in this container")
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    return arr


def extract_media_features(media: DataFrame) -> DataFrame:
    """binary payload -> fixed-width feature vector via mapInPandas."""

    out_schema = (
        "media_id string, media_type string, n_bytes int, "
        "features array<double>"
    )

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload, mt in zip(pdf["payload"], pdf["media_type"]):
                arr = decode_media(bytes(payload), mt)
                # bucketed byte histogram, L1-normalized — a stand-in
                # embedding with the exact shape a real extractor has
                hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
                s = hist.sum() or 1
                feats.append(np.round(hist / s, 6).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "features": feats,
                }
            )

    return media.select("media_id", "media_type", "n_bytes", "payload").mapInPandas(
        features, schema=out_schema
    )


def _avg_e2(col: str):
    """Exact fixed-point average of an integer column, scaled by 100:
    floor((200*sum + n) / (2n)) = round-half-up(100 * sum / n) in pure
    integer arithmetic (one double division of exact integers — bit-
    identical in every engine). round-after-float-AVG was order-
    nondeterministic between Spark and DuckDB (round-2 hash fail)."""
    num = F.lit(200) * F.sum(col) + F.count("*")
    return F.floor(num / (F.lit(2) * F.count("*"))).cast("long")


def media_stats(media: DataFrame) -> DataFrame:
    """Metadata-only aggregate — must never read the payload column
    (parquet pruning; asserted via .explain in tests)."""
    return (
        media.groupBy("media_type")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            _avg_e2("width").alias("avg_width_e2"),
            _avg_e2("height").alias("avg_height_e2"),
        )
        .orderBy("media_type")
    )
