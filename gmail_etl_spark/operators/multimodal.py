"""X2 — multimodal columns: opaque binary payloads + typed metadata.

Design (SURVEY §2.8 X2): media travels as a ``BinaryType`` column with a
metadata struct alongside; decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` stages so the heavy
bytes cross the Python boundary exactly once per batch and the Spark
side (schema, partitioning, batch shape) is identical for every decoder.

``decode_image`` is a real stdlib decoder — PNG (zlib inflate + full
scanline de-filtering, color types 0/2/4/6 at 8-bit depth), uncompressed
BMP (24/32 bpp), and binary PPM (P6) — returning dimensions plus a
pixel-derived mean.  ``encode_png`` / nearest-neighbor resampling close
the loop for the resize stage.  Exotic formats (JPEG's DCT pipeline,
video containers) belong to PIL/opencv on a production image; unknown or
corrupt payloads degrade to ``format='raw'`` with null dims exactly like
a tolerant production decode stage.  ``attach_media_features`` takes any
decoder with the same return shape.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: media row: payload + typed metadata (format/width/height/px_mean
#: nullable — populated by decode).
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("format", StringType()),
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("px_mean", DoubleType()),
        StructField("sha", StringType()),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: channels per PNG color type (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _decode_png(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Parse a PNG into (width, height, channels, raw pixel bytes).

    Implements the spec directly from public documentation (RFC 2083):
    chunk walk, concatenated-IDAT zlib inflate, and per-scanline
    de-filtering for all five filter types (None/Sub/Up/Average/Paeth).
    8-bit depth, non-interlaced, color types 0/2/4/6.  Raises ValueError
    on anything else or on corrupt data.
    """
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, width = 8, None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated chunk")
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
                raise ValueError("unsupported PNG variant")
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("pixel payload size mismatch")
    out = bytearray(stride * height)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        off = y * stride
        prev_off = off - stride
        for x in range(stride):
            a = out[off + x - channels] if x >= channels else 0
            b = out[prev_off + x] if y > 0 else 0
            if ftype == 0:
                v = line[x]
            elif ftype == 1:
                v = line[x] + a
            elif ftype == 2:
                v = line[x] + b
            elif ftype == 3:
                v = line[x] + ((a + b) >> 1)
            elif ftype == 4:
                c = out[prev_off + x - channels] if (y > 0 and x >= channels) else 0
                v = line[x] + _paeth(a, b, c)
            else:
                raise ValueError(f"bad filter type {ftype}")
            out[off + x] = v & 0xFF
    return width, height, channels, out


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Minimal valid PNG writer (8-bit, filter 0 per scanline, one IDAT)."""
    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    stride = width * channels
    if len(pixels) != stride * height:
        raise ValueError("pixel buffer size mismatch")
    raw = bytearray()
    for y in range(height):
        raw.append(0)
        raw += pixels[y * stride : (y + 1) * stride]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _decode_bmp(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Uncompressed 24/32-bpp BITMAPINFOHEADER BMP → (w, h, channels, px).
    Rows are stored bottom-up, padded to 4 bytes; output is top-down."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP")
    data_off = struct.unpack("<I", payload[10:14])[0]
    hdr_size, width, height = struct.unpack("<Iii", payload[14:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    compression = struct.unpack("<I", payload[30:34])[0]
    if hdr_size < 40 or compression != 0 or bpp not in (24, 32):
        raise ValueError("unsupported BMP variant")
    channels = bpp // 8
    stride = width * channels
    row_bytes = (stride + 3) & ~3
    top_down = height < 0
    height = abs(height)
    out = bytearray(stride * height)
    for y in range(height):
        src_y = y if top_down else height - 1 - y
        row = payload[data_off + src_y * row_bytes : data_off + src_y * row_bytes + stride]
        if len(row) != stride:
            raise ValueError("truncated BMP rows")
        out[y * stride : (y + 1) * stride] = row
    return width, height, channels, out


def _decode_ppm(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Binary PPM (P6, maxval <= 255) → (w, h, 3, px)."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    need = width * height * 3
    px = payload[pos : pos + need]
    if len(px) != need:
        raise ValueError("truncated PPM pixels")
    return width, height, 3, bytearray(px)


def resample_nearest(
    width: int, height: int, channels: int, pixels: bytes, new_w: int, new_h: int
) -> bytes:
    """Nearest-neighbor resample (the stdlib-only resize kernel)."""
    out = bytearray(new_w * new_h * channels)
    for y in range(new_h):
        sy = y * height // new_h
        src_row = sy * width * channels
        dst_row = y * new_w * channels
        for x in range(new_w):
            sx = x * width // new_w
            out[dst_row + x * channels : dst_row + (x + 1) * channels] = pixels[
                src_row + sx * channels : src_row + (sx + 1) * channels
            ]
    return bytes(out)


def _decode_pixels(payload: bytes) -> tuple[str, int, int, int, bytearray]:
    if payload[:8] == _PNG_SIG:
        return ("png", *_decode_png(payload))
    if payload[:2] == b"BM":
        return ("bmp", *_decode_bmp(payload))
    if payload[:2] == b"P6":
        return ("ppm", *_decode_ppm(payload))
    raise ValueError("unknown image format")


def decode_image(payload: bytes) -> dict:
    """Real stdlib image decoder (PNG / uncompressed BMP / P6 PPM).

    Returns format, dimensions, and the mean over every decoded channel
    byte (``px_mean``) — a pixel-derived feature proving the scanlines
    were actually reconstructed, not read off a header.  Unknown or
    corrupt payloads degrade to ``format='raw'`` with null fields, the
    tolerant posture a 100 TB ingest needs (one bad blob must not kill a
    task)."""
    if payload is None:
        return {"format": None, "width": None, "height": None, "px_mean": None}
    try:
        fmt, width, height, channels, px = _decode_pixels(bytes(payload))
    except (ValueError, zlib.error, struct.error, IndexError):
        return {"format": "raw", "width": None, "height": None, "px_mean": None}
    mean = (sum(px) / len(px)) if px else None
    return {"format": fmt, "width": width, "height": height, "px_mean": mean}


def attach_media_features(
    df: DataFrame,
    payload_col: str = "payload",
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Decode/feature-extract stage: mapInPandas over the media table.

    Output schema == MEDIA_SCHEMA regardless of decoder (default: the
    real :func:`decode_image`), so downstream plans are decoder-
    agnostic.  Batch shape: Arrow batches bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` — with ~10 MB
    media payloads set it to ~100 for executor-memory safety at scale.
    """
    import hashlib

    decoder = decoder or decode_image
    out_fields = [f.name for f in MEDIA_SCHEMA.fields]
    in_cols = [c for c in df.columns]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            feats = [decoder(p) for p in batch[payload_col]]
            out = pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "payload": batch[payload_col],
                    "format": [f["format"] for f in feats],
                    "byte_len": [
                        len(p) if p is not None else None for p in batch[payload_col]
                    ],
                    "width": pd.array([f["width"] for f in feats], dtype="Int32"),
                    "height": pd.array([f["height"] for f in feats], dtype="Int32"),
                    "px_mean": pd.array(
                        [f.get("px_mean") for f in feats], dtype="Float64"
                    ),
                    "sha": [
                        hashlib.sha256(p).hexdigest() if p is not None else None
                        for p in batch[payload_col]
                    ],
                }
            )
            yield out[out_fields]

    assert "media_id" in in_cols, "media table needs a media_id column"
    return df.mapInPandas(run, MEDIA_SCHEMA)


def resize_payload(payload: bytes, width: int, height: int) -> bytes:
    """Real resize kernel: decode (PNG/BMP/PPM), nearest-neighbor
    resample to the target dimensions, re-encode as PNG.  Undecodable
    payloads pass through untouched — the tolerant posture of
    :func:`decode_image`."""
    if payload is None:
        return payload
    try:
        _fmt, ow, oh, channels, px = _decode_pixels(bytes(payload))
    except (ValueError, zlib.error, struct.error, IndexError):
        return payload
    resized = resample_nearest(ow, oh, channels, px, width, height)
    return encode_png(width, height, channels, resized)


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    payload_col: str = "payload",
) -> DataFrame:
    """Resize stage: mapInPandas decoding each payload, nearest-neighbor
    resampling to the target dimensions, re-encoding as PNG, then
    re-deriving the MEDIA_SCHEMA metadata (dims, px_mean, byte_len, sha)
    by *decoding the re-encoded bytes* — the metadata proves the
    round-trip, not the intent.  Same batch/memory posture as
    :func:`attach_media_features`.
    """
    import hashlib

    out_fields = [f.name for f in MEDIA_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            resized = [resize_payload(p, width, height) for p in batch[payload_col]]
            feats = [decode_image(p) for p in resized]
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "payload": resized,
                    "format": [f["format"] for f in feats],
                    "byte_len": [len(p) if p is not None else None for p in resized],
                    "width": pd.array([f["width"] for f in feats], dtype="Int32"),
                    "height": pd.array([f["height"] for f in feats], dtype="Int32"),
                    "px_mean": pd.array(
                        [f.get("px_mean") for f in feats], dtype="Float64"
                    ),
                    "sha": [
                        hashlib.sha256(p).hexdigest() if p is not None else None
                        for p in resized
                    ],
                }
            )[out_fields]

    assert "media_id" in df.columns, "media table needs a media_id column"
    return df.mapInPandas(run, MEDIA_SCHEMA)


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video payloads: keeps every n-th
    media row per (media_id div n) — the *distribution* shape of frame
    sampling (stable partitioning, no shuffle); the in-payload frame
    split itself belongs to the real decoder."""
    return df.filter((F.col("media_id") % every_n) == 0)


# ---------------------------------------------------------------------------
# perceptual image hashing (X2 × D2): dHash + multi-index Hamming pairs
# ---------------------------------------------------------------------------


def dhash_halves(payload: bytes) -> tuple[int | None, int | None]:
    """64-bit difference hash (dHash) of a decoded image, as two
    non-negative 32-bit halves (BIGINT-safe on any engine).

    The classic perceptual hash: grayscale, nearest-resample to a 9×8
    grid (floor source mapping ``src = dst * src_dim // dst_dim``), and
    one bit per horizontally-adjacent comparison ``g[y][x] < g[y][x+1]``
    — bit index ``y*8 + x``, low 32 bits in ``lo``.  Near-identical
    images land within a few bits of each other; undecodable payloads
    return (None, None)."""
    if payload is None:
        return (None, None)
    try:
        _, width, height, channels, px = _decode_pixels(bytes(payload))
    except (ValueError, zlib.error, struct.error, IndexError):
        return (None, None)
    if width < 1 or height < 1:
        return (None, None)

    def gray(sx: int, sy: int) -> int:
        off = (sy * width + sx) * channels
        return sum(px[off : off + channels]) // channels

    bits = 0
    for y in range(8):
        sy = y * height // 8
        for x in range(8):
            sx1 = x * width // 9
            sx2 = (x + 1) * width // 9
            if gray(sx1, sy) < gray(sx2, sy):
                bits |= 1 << (y * 8 + x)
    return (bits >> 32, bits & 0xFFFFFFFF)


def attach_dhash(
    df: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, dhash_hi, dhash_lo) via the decode mapInPandas stage —
    the perceptual-fingerprint pass an image-dedup pipeline runs once
    per corpus, after which all pairing is JVM-side integer work."""
    from pyspark.sql.types import LongType, StructField, StructType

    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("dhash_hi", LongType()),
            StructField("dhash_lo", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            halves = [dhash_halves(p) for p in batch[payload_col]]
            yield pd.DataFrame(
                {
                    id_col: batch[id_col],
                    "dhash_hi": pd.array([h[0] for h in halves], dtype="Int64"),
                    "dhash_lo": pd.array([h[1] for h in halves], dtype="Int64"),
                }
            )

    return df.mapInPandas(run, out_schema)


def dhash_near_dup_pairs(
    features: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """Image near-duplicate pairs by Hamming distance over dHash, with
    multi-index hashing instead of an all-pairs scan (Norouzi et al.,
    "Fast Search in Hamming Space with Multi-Index Hashing"): the 64-bit
    hash splits into 4 × 16-bit bands; by pigeonhole any pair within
    Hamming distance 3 agrees EXACTLY on at least one band, so banded
    bucket grouping has perfect recall for ``max_hamming <= 3`` — the
    guarantee degrades gracefully above (ceil(64/16)-1).

    Scale shape: same one-shuffle postings expansion as the MinHash LSH
    path (shared ``capped_pair_candidates`` machinery, hot buckets
    split), then a JVM popcount verify on the candidate pairs only.
    Returns (a_id, b_id, hamming)."""
    from gmail_etl_spark.operators.dedup import capped_pair_candidates

    feats = features.select(
        F.col(id_col).alias("id"), "dhash_hi", "dhash_lo"
    ).filter(F.col("dhash_hi").isNotNull())
    banded = feats.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(
                                F.col("dhash_hi") if b >= 2 else F.col("dhash_lo"),
                                16 * (b % 2),
                            )
                            % 65536
                        ).alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    # complete=True: the pigeonhole guarantee says a qualifying pair
    # agrees on AT LEAST ONE band — possibly exactly one — so a plain
    # chunk split of a hot bucket (smooth images make band value 0
    # enormous) could drop a pair and silently break the perfect-recall
    # contract.  Complete chunk-pair expansion surfaces every
    # bucket-cohabiting pair at bounded (max_bucket²) per-task cost.
    cands = capped_pair_candidates(buckets, max_bucket, complete=True)
    side = feats.hint("shuffle_hash")
    joined = (
        cands.join(
            side.select(
                F.col("id").alias("a_id"),
                F.col("dhash_hi").alias("a_hi"),
                F.col("dhash_lo").alias("a_lo"),
            ),
            "a_id",
        )
        .join(
            side.select(
                F.col("id").alias("b_id"),
                F.col("dhash_hi").alias("b_hi"),
                F.col("dhash_lo").alias("b_lo"),
            ),
            "b_id",
        )
    )
    hamming = F.bit_count(
        F.col("a_hi").bitwiseXOR(F.col("b_hi"))
    ) + F.bit_count(F.col("a_lo").bitwiseXOR(F.col("b_lo")))
    return (
        joined.select("a_id", "b_id", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
