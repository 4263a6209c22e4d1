"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched UDFs.

Image payloads are REAL encoded bytes: the media table synthesizes a
deterministic pixel array per media_ref (an md5 counter chain a SQL
oracle replays byte for byte) and encodes it as an actual PNG
(gdal_spark/png.py — own-written stdlib-zlib codec), and the decode
step parses that PNG back. Non-PNG payloads (the JPEG/audio/video
kinds this container has no codec for) fall back to the deterministic
fake decoder behind the same interface — swap it for
PIL/turbojpeg/ffmpeg on a cluster image and nothing else changes.

Reference analog: GDAL treats raster payloads as typed blocks behind
driver decode (gcore/rasterio.cpp IReadBlock, frmts/png/pngdataset.cpp);
here media payloads are typed binary cells behind a decode UDF.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("media_kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),  # opaque encoded bytes
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_luma_x1000", LongType()),
        StructField("phash", LongType()),
    ]
)


def _chain_pixels(hx: str) -> np.ndarray:
    """(h, w, 3) uint8 from an md5 hex seed: h = 16 + seed%17,
    w = 16 + (seed>>8)%17, pixel bytes from the md5 counter chain
    md5(f'{hx}:{j}') — closed-form arithmetic a SQL oracle replays
    byte for byte (the round-2 PCG64 pixels made media_features
    rows-only)."""
    seed = int(hx[:16], 16)
    h = 16 + seed % 17
    w = 16 + (seed >> 8) % 17
    n = h * w * 3
    buf = b"".join(
        hashlib.md5(f"{hx}:{j}".encode()).digest() for j in range((n + 15) // 16)
    )
    return np.frombuffer(buf[:n], dtype=np.uint8).reshape(h, w, 3)


def synth_image(media_ref: str) -> np.ndarray:
    """The deterministic pixel content of a media_ref: the md5 chain
    seeded by md5(sha256_hex(ref)) — the exact pixels the
    media_dims/media_features oracles recompute in SQL."""
    hx = hashlib.md5(
        hashlib.sha256(media_ref.encode()).hexdigest().encode()
    ).hexdigest()
    return _chain_pixels(hx)


def _decode_image_stub(payload: bytes) -> np.ndarray:
    """Deterministic fake decoder for payloads with no codec in this
    container: (h, w, 3) uint8 derived from the payload hash. A real
    build replaces this with PIL/turbojpeg — NotImplementedError would
    be raised for unknown containers."""
    if not payload:
        raise NotImplementedError("empty payload: no codec available in this container")
    return _chain_pixels(hashlib.md5(payload).hexdigest())


def _decode_image(payload: bytes) -> np.ndarray:
    """The real decode dispatch: PNG and baseline grayscale JPEG
    payloads (the signature tests any container sniffer runs) parse
    through the own-written codecs (gdal_spark/png.py /
    gdal_spark/jpeg.py) into (h, w, 3) RGB; everything else falls back
    to the deterministic stub."""
    from gdal_spark.jpeg import JPEG_SIG, decode_jpeg_gray
    from gdal_spark.png import PNG_SIG, decode_png

    if payload[:8] == PNG_SIG:
        img = decode_png(bytes(payload))
        # RGB like the JPEG branch: drop alpha, repeat gray
        rgb = img[:, :, :3] if img.shape[2] >= 3 else img[:, :, :1]
        return np.repeat(rgb, 3 // rgb.shape[2], axis=2)
    if payload[:3] == JPEG_SIG:
        g = decode_jpeg_gray(bytes(payload))
        return np.repeat(g[:, :, None], 3, axis=2)
    return _decode_image_stub(payload)


def _resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """GDAL-overview-style nearest resize (overview.cpp:127 2i rule
    generalized to ratio index math)."""
    h, w = img.shape[:2]
    yi = (np.arange(out_h) * (h / out_h)).astype(np.int64)
    xi = (np.arange(out_w) * (w / out_w)).astype(np.int64)
    return img[yi][:, xi]


def _phash8(img: np.ndarray) -> int:
    """64-bit average-hash of the 8x8 nearest-resized luma."""
    luma = img.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    small = _resize_nearest(luma[..., None], 8, 8)[..., 0]
    bits = (small >= small.mean()).ravel()
    v = np.uint64(0)
    for i, b in enumerate(bits):
        if b:
            v |= np.uint64(1) << np.uint64(i)
    return int(np.int64(v))  # signed view: fits Spark LongType


def extract_media_table(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Explode media spans into the typed media table; payload is a
    REAL PNG encoding of the ref's deterministic synthetic pixels
    (stub for a fetch from object storage — at scale this is the S3A
    ranged read, VSI-curl analog — but the bytes are a genuine
    container a real sniffer/decoder handles)."""
    from pyspark.sql.functions import pandas_udf

    from gdal_spark.png import encode_png

    @pandas_udf(BinaryType())
    def _png_payload(refs: pd.Series) -> pd.Series:
        return refs.map(lambda ref: encode_png(synth_image(ref)))

    media = F.filter(F.col(spans_col), lambda s: s["kind"] == F.lit("media"))
    exploded = docs.select("doc_id", F.explode(media).alias("m"))
    return exploded.select(
        "doc_id",
        F.col("m.media_ref").alias("media_ref"),
        F.lit("image").alias("media_kind"),
        _png_payload(F.col("m.media_ref")).alias("payload"),
    )


def image_features(media: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """Decode -> feature-extract as one Arrow-batched pass: per image,
    dimensions, mean luma (x1000 integer) and an 8x8 average phash.
    All numpy inside the batch; one output row per input row."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = _decode_image(bytes(r.payload))
                luma = img.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
                rows.append(
                    {
                        "doc_id": r.doc_id,
                        "media_ref": r.media_ref,
                        "width": img.shape[1],
                        "height": img.shape[0],
                        "channels": img.shape[2],
                        "mean_luma_x1000": int(luma.mean() * 1000),
                        "phash": _phash8(img),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields])

    return media.mapInPandas(_feat, IMAGE_FEATURES_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("media_ref", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 4, n_frames: int = 16) -> DataFrame:
    """Video frame sampling over the REAL decoded payload: this
    container's "video" payloads are single encoded images (PNG), so
    frame i is the deterministic vertical strip
    [i*w // n_frames, (i+1)*w // n_frames) of the decoded pixels —
    one real decode per payload, 1:N explode inside the Arrow batch,
    exactly the shape a real ffmpeg-backed sampler would have (decode
    once, emit frame slices). The strip rule is integer arithmetic a
    SQL oracle replays (query media_frames)."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = _decode_image(bytes(r.payload))
                w = img.shape[1]
                for i in range(0, n_frames, every_n):
                    x0 = i * w // n_frames
                    x1 = (i + 1) * w // n_frames
                    rows.append(
                        {
                            "doc_id": r.doc_id,
                            "media_ref": r.media_ref,
                            "frame_idx": i,
                            "frame": np.ascontiguousarray(img[:, x0:x1]).tobytes(),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.mapInPandas(_frames, FRAME_SCHEMA)
