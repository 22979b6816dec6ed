"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images / audio / video travel as ``binary`` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched pandas
UDFs over ``mapInPandas`` so each executor touches bytes exactly once per
batch. The decode kernels for real codecs (JPEG/PNG/MP3/H.264) need
libraries this container doesn't ship — those steps are STUBBED behind
``NotImplementedError`` or a clearly-marked deterministic fake; everything
Spark-side (schemas, batch iteration, partition sizing, UDF signatures) is
real and tested. The audio/WAV path is fully real — see
``jsschema_spark.audio``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image | audio | video
        T.StructField("format", T.StringType()),       # jpeg | png | wav | ...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("byte_entropy", T.DoubleType()),
        T.StructField("byte_histogram", T.ArrayType(T.IntegerType())),
        T.StructField("phash64", T.LongType()),
    ]
)


def real_image_decode(payload: bytes):
    """STUB — real JPEG/PNG decode needs Pillow/opencv, absent here. The
    engine's contract: bytes → HxWx3 uint8 array."""
    raise NotImplementedError("image decode requires Pillow/opencv (not in this container)")


def _byte_features(payload: bytes) -> tuple[float, list[int], int]:
    """Deterministic byte-level features (REAL, not a stub): a 16-bin byte
    histogram, its entropy, and a 64-bit locality hash — usable for corrupt-
    payload screening and exact-dup detection without any codec.

    Called per payload inside the Arrow batch (a Python loop over rows of
    one batch): variable-length binary cannot be numpy-vectorized ACROSS
    payloads without ragged batching, so the loop is the honest shape —
    each payload's own features ARE numpy-vectorized, and payload bytes
    are touched exactly once per batch (mirrors audio.py's file-granular
    note)."""
    if not payload:
        return 0.0, [0] * 16, 0
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=16)
    p = hist / hist.sum()
    nz = p[p > 0]
    entropy = float(-(nz * np.log2(nz)).sum())
    med = np.median(hist)
    bits = (hist[: 8] > med).astype(np.uint64)
    h64 = int.from_bytes(hashlib.blake2b(arr[:4096].tobytes(), digest_size=8).digest(), "big") >> 1
    return entropy, [int(x) for x in hist], h64 ^ int(bits.sum())


def extract_media_features(
    df: DataFrame, id_col: str, payload_col: str,
) -> DataFrame:
    """mapInPandas feature extraction over binary payloads — partition-sized
    Arrow batches; output schema fixed so downstream plans compile."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ents, hists, phs = [], [], []
            for payload in pdf[payload_col]:
                e, h, ph = _byte_features(bytes(payload) if payload is not None else b"")
                ents.append(e)
                hists.append(h)
                phs.append(ph)
            yield pd.DataFrame(
                {"id": pdf[id_col], "byte_entropy": ents, "byte_histogram": hists, "phash64": phs}
            )

    return df.select(F.col(id_col).alias(id_col), F.col(payload_col)).mapInPandas(
        gen, IMAGE_FEATURE_SCHEMA
    )


def frame_sample_plan(df: DataFrame, id_col: str, n_frames_col: str, every_n: int = 30) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled frame index
    (the decode-that-frame step is the stubbed kernel). Pure Catalyst —
    sequence + explode, no Python."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col(n_frames_col) - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )


# ---------------------------------------------------------------------------
# image header probing — REAL, no codec library: container headers carry
# format + pixel dimensions at fixed (PNG/GIF/BMP) or scannable (JPEG)
# offsets. Pixel DECODE stays stubbed; dimension/format metadata does not.

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _be(col, pos: int, n: int):
    """Big-endian unsigned int from ``n`` bytes at 1-based ``pos`` of a
    binary column — pure Catalyst (hex → conv base 16)."""
    return F.conv(F.hex(F.substring(col, pos, n)), 16, 10).cast("long")


def _le(col, pos: int, n: int):
    """Little-endian unsigned int: byte-reverse via per-byte shifts."""
    out = None
    for i in range(n):
        term = _be(col, pos + i, 1) * F.lit(1 << (8 * i))
        out = term if out is None else out + term
    return out


def sniff_image_format(col) -> "F.Column":
    """Container format from magic bytes — pure Catalyst, codegen."""
    return (
        F.when(F.substring(col, 1, 8) == F.lit(_PNG_MAGIC), F.lit("png"))
        .when(F.substring(col, 1, 3) == F.lit(b"\xff\xd8\xff"), F.lit("jpeg"))
        .when(
            (F.substring(col, 1, 6) == F.lit(b"GIF87a"))
            | (F.substring(col, 1, 6) == F.lit(b"GIF89a")),
            F.lit("gif"),
        )
        .when(F.substring(col, 1, 2) == F.lit(b"BM"), F.lit("bmp"))
        .otherwise(F.lit(None).cast("string"))
    )


def jpeg_dims(payload: bytes) -> "tuple[int, int] | None":
    """(width, height) from the first JPEG SOF segment — a marker scan,
    no decoder. Returns None on malformed/truncated streams."""
    try:
        if not payload or payload[:3] != b"\xff\xd8\xff":
            return None
        i, n = 2, len(payload)
        while i + 9 < n:
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # no length
                i += 2
                continue
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h = int.from_bytes(payload[i + 5 : i + 7], "big")
                w = int.from_bytes(payload[i + 7 : i + 9], "big")
                return (w, h)
            i += 2 + seg_len
        return None
    except (IndexError, ValueError):
        return None


def _make_jpeg_dims_udf():
    # built lazily: the pandas_udf decorator needs an active SparkSession,
    # which must not be an import-time requirement of this module
    @F.pandas_udf("struct<width:int,height:int>")
    def _jpeg_dims_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for payloads in it:
            ws, hs = [], []
            for p in payloads:
                dims = jpeg_dims(bytes(p)) if p is not None else None
                ws.append(dims[0] if dims else None)
                hs.append(dims[1] if dims else None)
            yield pd.DataFrame({"width": ws, "height": hs})

    return _jpeg_dims_udf


def image_dims(col) -> "F.Column":
    """``struct<width,height>`` for PNG/GIF/BMP/JPEG payloads. PNG/GIF/BMP
    parse ENTIRELY in Catalyst (fixed header offsets, big/little-endian
    byte folds — whole-stage codegen, no Python); only JPEG's variable
    marker scan runs as an Arrow pandas UDF. NOTE: Spark extracts Python
    UDFs out of ``when`` branches and evaluates them for EVERY row — the
    branch only selects the result — so the UDF's first check is the
    3-byte JPEG magic, making the non-JPEG per-row cost one slice
    compare, not a marker scan."""
    fmt = sniff_image_format(col)
    png = F.struct(
        _be(col, 17, 4).cast("int").alias("width"),
        _be(col, 21, 4).cast("int").alias("height"),
    )
    gif = F.struct(
        _le(col, 7, 2).cast("int").alias("width"),
        _le(col, 9, 2).cast("int").alias("height"),
    )
    # biHeight is a SIGNED int32: top-down BMPs store a negative height.
    # Sign-extend the little-endian read and report abs() — the row count.
    bmp_h_raw = _le(col, 23, 4)
    bmp_h = F.abs(
        F.when(bmp_h_raw >= F.lit(1 << 31), bmp_h_raw - F.lit(1 << 32)).otherwise(
            bmp_h_raw
        )
    )
    bmp = F.struct(
        _le(col, 19, 4).cast("int").alias("width"),
        bmp_h.cast("int").alias("height"),
    )
    null_dims = F.struct(
        F.lit(None).cast("int").alias("width"), F.lit(None).cast("int").alias("height")
    )
    return (
        F.when(fmt == "png", png)
        .when(fmt == "gif", gif)
        .when(fmt == "bmp", bmp)
        .when(fmt == "jpeg", _make_jpeg_dims_udf()(col))
        .otherwise(null_dims)
    )


def image_metadata(df: DataFrame, payload_col: str) -> DataFrame:
    """Attach real format + pixel-dimension metadata probed from payload
    headers (see ``image_dims``): ``media_meta`` struct matching
    MEDIA_META_SCHEMA with width/height populated for PNG/GIF/BMP/JPEG."""
    dims = image_dims(F.col(payload_col))
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit("image").alias("media_type"),
            sniff_image_format(F.col(payload_col)).alias("format"),
            dims["width"].alias("width"),
            dims["height"].alias("height"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.length(F.col(payload_col)).cast("long").alias("size_bytes"),
        ),
    )
