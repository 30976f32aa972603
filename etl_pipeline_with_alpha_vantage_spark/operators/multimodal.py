"""Multimodal column plumbing (driver mandate).

Media (image/audio/video) are opaque ``binary`` columns plus typed
metadata. Decode is REAL for the two container formats that need no
codec libraries — uncompressed 24/32-bit BMP and binary PPM (P6), both
parsed by pure-Python header/pixel readers below — and a deterministic
fake for everything else (the sandbox has no JPEG/PNG/video codecs).
``decode_features`` sniffs magic bytes per blob: ``BM`` → BMP parse,
``P6`` → PPM parse, anything else → the fake. Validation is strict
(header fields must be self-consistent with the blob length), so text
blobs that merely *start* with the magic fall through to the fake path
rather than mis-parsing.

Real-codec swap-in for compressed formats: add a branch in
``_decode_blob`` (e.g. PIL/torchvision) — partitioning, batch shape and
schema all stay identical.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..catalog import table
from ..registry import query

_META_ORACLE = """
SELECT
    doc_id,
    CAST(octet_length(encode(text)) AS BIGINT)           AS byte_len,
    sha256(text)                                         AS content_sha,
    CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS fake_width,
    CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS fake_height,
    CAST((octet_length(encode(text)) % 640 + 1)
       * (octet_length(encode(text)) % 480 + 1) AS BIGINT) AS n_pixels
FROM documents
"""


@query("multimodal_metadata", oracle=_META_ORACLE)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata projection: text → binary blob (stand-in for
    image bytes) → typed metadata (size, content hash, synthetic dims).
    All JVM-side; the sha256 is oracle-checked byte-for-byte."""
    docs = table(spark, sf_dir, "documents")
    blob = F.encode("text", "UTF-8")
    byte_len = F.length(blob).cast("long")
    w = (byte_len % 640 + 1).cast("long")
    h = (byte_len % 480 + 1).cast("long")
    return docs.select(
        "doc_id",
        byte_len.alias("byte_len"),
        F.sha2(blob, 256).alias("content_sha"),
        w.alias("fake_width"),
        h.alias("fake_height"),
        (w * h).alias("n_pixels"),
    )


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("mean_byte", DoubleType()),
        StructField("n_frames", IntegerType()),
    ]
)


def _fake_decode(blob: bytes) -> tuple[int, int, int, float, int]:
    """Deterministic stand-in for formats the sandbox cannot decode.

    Derives stable "decoded" properties from the raw bytes so the
    distributed plumbing (batching, schema, determinism) is testable for
    arbitrary blobs. Real formats (BMP/PPM) never reach this: they are
    parsed for actual pixel data by the decoders below.
    """
    n = len(blob)
    width = n % 640 + 1
    height = n % 480 + 1
    mean_byte = (sum(blob) / n) if n else 0.0
    n_frames = n % 24 + 1
    return width, height, n, mean_byte, n_frames


# --------------------------------------------------------------------------
# Real pure-Python codecs: uncompressed BMP (24/32-bit) and binary PPM (P6).
# No third-party libraries — just struct over the documented layouts.
# --------------------------------------------------------------------------


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """Build a bottom-up, uncompressed 24-bit BMP file.

    ``pixels`` is ``width*height`` single-channel values, row-major from
    the TOP; each becomes an (identical B, G, R) triple. Rows are padded
    to 4-byte boundaries and written bottom-up, per the BMP spec — so a
    decoder that ignores padding or row order produces a wrong mean, and
    the round-trip test below would catch it.
    """
    row_size = (width * 3 + 3) // 4 * 4
    img_size = row_size * height
    file_size = 54 + img_size
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = []
    pad = b"\x00" * (row_size - width * 3)
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            v = pixels[y * width + x]
            row += bytes((v, v, v))
        rows.append(bytes(row) + pad)
    return header + dib + b"".join(rows)


def _decode_bmp(blob: bytes) -> tuple[int, int, int, float, int] | None:
    """Parse an uncompressed 24/32-bit BMP; None if not a valid one.

    Returns (width, height, n_bytes, mean pixel-channel byte, 1).
    Strict validation (magic, biSize, compression, geometry consistent
    with the blob length) so near-miss text blobs fall back to the fake
    rather than mis-parse.
    """
    if len(blob) < 54 or blob[:2] != b"BM":
        return None
    try:
        offset = struct.unpack_from("<I", blob, 10)[0]
        bi_size = struct.unpack_from("<I", blob, 14)[0]
        if bi_size < 40:
            return None
        width, height = struct.unpack_from("<ii", blob, 18)
        planes, bpp = struct.unpack_from("<HH", blob, 26)
        compression = struct.unpack_from("<I", blob, 30)[0]
    except struct.error:
        return None
    if planes != 1 or compression != 0 or bpp not in (24, 32):
        return None
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0 or width > 1 << 20 or height > 1 << 20:
        return None
    bytes_pp = bpp // 8
    row_size = (width * bytes_pp + 3) // 4 * 4
    if offset + row_size * height > len(blob):
        return None
    del top_down  # row order affects pixel placement, not the mean
    total = 0
    count = 0
    for row_i in range(height):
        base = offset + row_i * row_size
        for x in range(width):
            p = base + x * bytes_pp
            # B, G, R channels (alpha excluded for 32-bit)
            total += blob[p] + blob[p + 1] + blob[p + 2]
            count += 3
    return width, height, len(blob), total / count, 1


def _decode_ppm(blob: bytes) -> tuple[int, int, int, float, int] | None:
    """Parse a binary PPM (P6, maxval ≤ 255); None if not a valid one."""
    if not blob.startswith(b"P6"):
        return None
    # Header: "P6" <ws> width <ws> height <ws> maxval <single ws> pixels.
    # '#' comments may appear between tokens.
    pos = 2
    fields: list[int] = []
    while len(fields) < 3 and pos < len(blob):
        c = blob[pos : pos + 1]
        if c.isspace():
            pos += 1
        elif c == b"#":
            nl = blob.find(b"\n", pos)
            if nl < 0:
                return None
            pos = nl + 1
        elif c.isdigit():
            end = pos
            while end < len(blob) and blob[end : end + 1].isdigit():
                end += 1
            fields.append(int(blob[pos:end]))
            pos = end
        else:
            return None
    if len(fields) < 3:
        return None
    width, height, maxval = fields
    pos += 1  # the single whitespace after maxval
    if width <= 0 or height <= 0 or not (0 < maxval <= 255):
        return None
    n_px = width * height * 3
    if pos + n_px > len(blob):
        return None
    body = blob[pos : pos + n_px]
    return width, height, len(blob), sum(body) / n_px, 1


def _decode_blob(blob: bytes) -> tuple[int, int, int, float, int]:
    """Sniff-and-decode: real BMP/PPM parse, else the deterministic fake."""
    decoded = _decode_bmp(blob) or _decode_ppm(blob)
    return decoded if decoded is not None else _fake_decode(blob)


def decode_features(blobs: DataFrame) -> DataFrame:
    """Arrow-NATIVE feature extraction over a binary column (r13 §4.2/4.3
    migration — previously ``mapInPandas`` with a per-row Python loop).

    ``mapInArrow`` hands whole record batches across the boundary with no
    pandas materialization, and an Arrow binary column is one contiguous
    data buffer plus an offsets array — so the fake-codec path (every
    non-BMP/PPM blob) vectorizes completely: per-row byte sums come from
    one int64 cumsum over the batch's own byte window of the data buffer
    (``[offsets[0], offsets[-1]]``, so a sliced batch neither scans nor
    allocates for bytes outside it), and width/height/frames are numpy
    modular arithmetic on the lengths.
    Results are byte-identical to the row loop: the sums are exact
    integers and mean = int64/int64 is the same IEEE division
    ``_fake_decode`` performs (fuzz-pinned, including sliced and
    ``large_binary`` batches, by
    tests/test_multimodal_codecs.py::test_arrow_decoder_matches_row_functions).
    Rows that sniff as real containers (``BM``/``P6`` magic) still route
    through the unchanged strict parsers — the per-row cost that matters
    only on actual media rows.
    A NULL blob (the Arrow validity bit is unset) decodes to NULL in
    every feature column and keeps its doc_id — a missing blob has no
    size, dimensions or mean, and must not pass as an empty one.
    Input: columns (doc_id: long, blob: binary); output: DECODE_SCHEMA.
    """

    def extract(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        import numpy as np  # noqa: PLC0415
        import pyarrow as pa  # noqa: PLC0415

        for batch in batches:
            ids = batch.column(batch.schema.get_field_index("doc_id"))
            arr = batch.column(batch.schema.get_field_index("blob"))
            n = len(arr)
            off_dt = (
                np.int64 if pa.types.is_large_binary(arr.type) else np.int32
            )
            offs = np.frombuffer(arr.buffers()[1], dtype=off_dt)[
                arr.offset : arr.offset + n + 1
            ].astype(np.int64)
            # Rebase onto this batch's byte window of the shared buffer.
            lo, hi = (int(offs[0]), int(offs[-1])) if len(offs) else (0, 0)
            offs -= lo
            dbuf = arr.buffers()[2]
            data = (
                np.frombuffer(dbuf, dtype=np.uint8, count=hi - lo, offset=lo)
                if dbuf is not None and hi > lo
                else np.zeros(0, dtype=np.uint8)
            )
            null = (
                arr.is_null().to_numpy(zero_copy_only=False)
                if arr.null_count
                else None
            )
            lens = offs[1:] - offs[:-1]
            cs = np.zeros(len(data) + 1, dtype=np.int64)
            np.cumsum(data, dtype=np.int64, out=cs[1:])
            sums = cs[offs[1:]] - cs[offs[:-1]]
            width = (lens % 640 + 1).astype(np.int32)
            height = (lens % 480 + 1).astype(np.int32)
            mean = np.where(lens > 0, sums / np.maximum(lens, 1), 0.0)
            frames = (lens % 24 + 1).astype(np.int32)
            # Real-container rows: 2-byte magic sniff on the raw buffer,
            # strict row parse; failed parses keep the fake values the
            # vector pass already produced (== _decode_blob's fallback).
            has2 = lens >= 2
            if null is not None:
                has2 &= ~null
            b0 = np.zeros(n, dtype=np.uint8)
            b1 = np.zeros(n, dtype=np.uint8)
            idx0 = offs[:-1][has2]
            b0[has2] = data[idx0]
            b1[has2] = data[idx0 + 1]
            magic = ((b0 == 0x42) & (b1 == 0x4D)) | (
                (b0 == 0x50) & (b1 == 0x36)
            )  # "BM" | "P6"
            for i in np.nonzero(magic)[0]:
                blob = data[offs[i] : offs[i + 1]].tobytes()
                dec = _decode_bmp(blob) or _decode_ppm(blob)
                if dec is not None:
                    width[i], height[i] = dec[0], dec[1]
                    mean[i] = dec[3]
                    frames[i] = dec[4]
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(width, type=pa.int32(), mask=null),
                    pa.array(height, type=pa.int32(), mask=null),
                    pa.array(lens, type=pa.int64(), mask=null),
                    pa.array(mean, type=pa.float64(), mask=null),
                    pa.array(frames, type=pa.int32(), mask=null),
                ],
                names=[
                    "doc_id",
                    "width",
                    "height",
                    "n_bytes",
                    "mean_byte",
                    "n_frames",
                ],
            )

    return blobs.mapInArrow(extract, DECODE_SCHEMA)


_DECODE_ORACLE = """
SELECT
    doc_id,
    CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
    CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height,
    CAST(octet_length(encode(text)) AS BIGINT)            AS n_bytes,
    CAST(list_sum([CAST(ascii(c) AS BIGINT) for c in string_split(text, '')])
         AS DOUBLE) / octet_length(encode(text))          AS mean_byte,
    CAST(octet_length(encode(text)) % 24 + 1 AS INTEGER)  AS n_frames
FROM documents
"""


@query("multimodal_decode", oracle=_DECODE_ORACLE)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas decode path end-to-end: build binary blobs from
    text, extract features in Arrow batches. The corpus is ASCII, so the
    DuckDB oracle can recompute the fake decoder's outputs exactly
    (integer byte-sum → one double division)."""
    # No spread(): the fake decode is microseconds per row, so the Arrow
    # transfer dominates and re-sharding tiny blobs costs more than the
    # parallelism returns. A real image/video decoder (ms per row) would
    # want spread() here.
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("blob")
    )
    return decode_features(docs)


_FRAME_ORACLE = """
SELECT
    doc_id,
    CAST(octet_length(encode(text)) % 24 + 1 AS INTEGER) AS n_frames,
    CAST(f.frame_idx AS INTEGER) AS frame_idx
FROM documents,
     unnest(generate_series(0, octet_length(encode(text)) % 24, 4))
         AS f(frame_idx)
WHERE doc_id % 3 = 0
"""


@query("multimodal_frame_sample", oracle=_FRAME_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling plumbing: derive the frame count from the
    blob ("decoded" metadata), emit every 4th frame index via
    sequence+explode — the row-multiplying shape a real frame extractor
    plugs into (the per-frame decode itself would be the mapInPandas stub
    of decode_features)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    n_frames = (F.length(F.encode("text", "UTF-8")) % 24 + 1).cast("int")
    return docs.select(
        "doc_id",
        n_frames.alias("n_frames"),
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(4))).alias("idx"),
    ).select(
        "doc_id", "n_frames", F.col("idx").cast("int").alias("frame_idx")
    )


# --------------------------------------------------------------------------
# End-to-end REAL decode: deterministic pixel pattern → BMP container →
# pixel-parsing decoder, with a DuckDB oracle that recomputes the pattern
# analytically. If the decoder mishandled row padding, the 54-byte header,
# or channel layout, the mean would drift and the oracle would catch it.
# --------------------------------------------------------------------------

_BMP_ORACLE = """
WITH dims AS (
    SELECT doc_id,
           octet_length(encode(text)) % 16 + 1 AS w,
           octet_length(encode(text)) % 12 + 1 AS h
    FROM documents WHERE doc_id % 11 = 0
),
px AS (
    SELECT doc_id, w, h, (x.x * 7 + y.y * 13 + doc_id) % 256 AS v
    FROM dims,
         unnest(generate_series(0, w - 1)) AS x(x),
         unnest(generate_series(0, h - 1)) AS y(y)
)
SELECT doc_id,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(54 + ((max(w) * 3 + 3) // 4) * 4 * max(h) AS BIGINT) AS n_bytes,
       CAST(sum(v) AS DOUBLE) / count(*) AS mean_byte,
       CAST(1 AS INTEGER) AS n_frames
FROM px GROUP BY doc_id
"""


def _pattern_pixels(doc_id: int, w: int, h: int) -> bytes:
    """Deterministic test pattern: v(x, y) = (7x + 13y + doc_id) mod 256."""
    return bytes(
        (x * 7 + y * 13 + doc_id) % 256 for y in range(h) for x in range(w)
    )


@query("multimodal_decode_bmp", oracle=_BMP_ORACLE)
def multimodal_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: a deterministic pixel pattern is
    packed into actual 24-bit BMP files (row padding, bottom-up rows,
    54-byte header) in one Arrow batch stage, then ``decode_features``
    parses the pixel data back out with the pure-Python BMP reader. The
    oracle recomputes width/height/file-size/mean analytically from the
    pattern — an exact-match proof that real pixel bytes round-trip
    through a real container format.

    Scale shape: two chained narrow ``mapInPandas`` stages, no shuffle;
    dims bounded (≤16×12), so per-row work is constant."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    blob_len = F.length(F.encode("text", "UTF-8"))
    dims = docs.select(
        "doc_id",
        (blob_len % 16 + 1).cast("int").alias("w"),
        (blob_len % 12 + 1).cast("int").alias("h"),
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": [
                        encode_bmp(w, h, _pattern_pixels(d, w, h))
                        for d, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"])
                    ],
                }
            )

    blobs = dims.mapInPandas(
        pack,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("blob", BinaryType()),
            ]
        ),
    )
    return decode_features(blobs)


# --------------------------------------------------------------------------
# Resize plumbing (aspect-preserving fit into 224×224)
# --------------------------------------------------------------------------

_TARGET = 224

_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_w", IntegerType()),
        StructField("src_h", IntegerType()),
        StructField("dst_w", IntegerType()),
        StructField("dst_h", IntegerType()),
        StructField("scale_pct", DoubleType()),
    ]
)


def _resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Aspect-preserving fit: scale = TARGET / max(w, h), floor dims, min 1.
    A real implementation calls PIL.Image.resize on the decoded pixels in
    this same loop; the geometry (and the Spark plumbing) is identical."""
    for pdf in batches:
        w = pdf["src_w"]
        h = pdf["src_h"]
        long_side = w.where(w >= h, h)
        dst_w = (w * _TARGET // long_side).clip(lower=1).astype("int32")
        dst_h = (h * _TARGET // long_side).clip(lower=1).astype("int32")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "src_w": w,
                "src_h": h,
                "dst_w": dst_w,
                "dst_h": dst_h,
                "scale_pct": (dst_w * dst_h * 100.0) / (w * h),
            }
        )


_RESIZE_ORACLE = f"""
WITH dims AS (
    SELECT doc_id,
           CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS src_w,
           CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS src_h
    FROM documents WHERE doc_id % 7 = 0
)
SELECT
    doc_id, src_w, src_h,
    CAST(greatest(src_w * {_TARGET} // greatest(src_w, src_h), 1) AS INTEGER) AS dst_w,
    CAST(greatest(src_h * {_TARGET} // greatest(src_w, src_h), 1) AS INTEGER) AS dst_h,
    CAST(greatest(src_w * {_TARGET} // greatest(src_w, src_h), 1)
       * greatest(src_h * {_TARGET} // greatest(src_w, src_h), 1) * 100.0
       / (src_w * src_h) AS DOUBLE) AS scale_pct
FROM dims
"""


@query("multimodal_resize", oracle=_RESIZE_ORACLE)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: synthetic source dims from the blob (same
    derivation as multimodal_metadata), aspect-preserving fit into
    224×224 computed per Arrow batch in mapInPandas — the exact batch
    shape a PIL/torchvision resize drops into. Integer geometry, so the
    oracle reproduces it exactly."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    blob_len = F.length(F.encode("text", "UTF-8"))
    dims = docs.select(
        "doc_id",
        (blob_len % 640 + 1).cast("int").alias("src_w"),
        (blob_len % 480 + 1).cast("int").alias("src_h"),
    )
    return dims.mapInPandas(_resize_batch, _RESIZE_SCHEMA)


# --------------------------------------------------------------------------
# Audio modality: real pure-Python WAV (RIFF PCM-16) codec + end-to-end
# decode query. Same design as the BMP path: deterministic synthetic
# samples → actual container bytes → pixel/sample-parsing decoder → an
# analytic DuckDB oracle over the generator formula.
# --------------------------------------------------------------------------


def encode_wav(sample_rate: int, samples: list[int] | bytes) -> bytes:
    """Build a mono 16-bit PCM WAV file (44-byte canonical header).

    ``samples`` are signed 16-bit integers. Little-endian layout per the
    RIFF spec — a decoder that misreads block alignment or chunk sizes
    produces a wrong sample count/mean, which the round-trip test and
    oracle would catch.
    """
    body = b"".join(struct.pack("<h", s) for s in samples)
    byte_rate = sample_rate * 2
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(body), b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate, byte_rate, 2, 16
        )
        + struct.pack("<4sI", b"data", len(body))
        + body
    )


def _decode_wav(blob: bytes) -> tuple[int, int, int, int, float] | None:
    """Parse a PCM WAV; None if not a valid one.

    Returns (sample_rate, n_channels, n_samples, duration_us,
    mean |amplitude|). Walks the RIFF chunk list (fmt /data may be
    preceded by LIST or other chunks), validates PCM-16, and requires
    the data chunk to fit the blob — so near-miss text never mis-parses.
    """
    if len(blob) < 44 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(blob):
        cid, size = struct.unpack_from("<4sI", blob, pos)
        pos += 8
        if pos + size > len(blob):
            return None
        if cid == b"fmt " and size >= 16:
            fmt = struct.unpack_from("<HHIIHH", blob, pos)
        elif cid == b"data":
            data = blob[pos : pos + size]
        pos += size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_fmt, channels, rate, _byte_rate, _block, bits = fmt
    if audio_fmt != 1 or bits != 16 or channels < 1 or rate <= 0:
        return None
    n_frames = len(data) // (2 * channels)
    if n_frames == 0:
        return None
    vals = struct.unpack_from(f"<{n_frames * channels}h", data)
    mean_abs = sum(abs(v) for v in vals) / len(vals)
    duration_us = n_frames * 1_000_000 // rate
    return rate, channels, n_frames, duration_us, mean_abs


AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_us", LongType()),
        StructField("mean_abs", DoubleType()),
    ]
)


def decode_audio_features(blobs: DataFrame) -> DataFrame:
    """Arrow-batched WAV feature extraction over (doc_id, blob)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, b in zip(pdf["doc_id"], pdf["blob"]):
                parsed = _decode_wav(b)
                if parsed is None:
                    continue  # non-audio blobs contribute no row
                rows.append((d, *parsed))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "sample_rate",
                    "n_channels",
                    "n_samples",
                    "duration_us",
                    "mean_abs",
                ],
            )

    return blobs.mapInPandas(extract, AUDIO_SCHEMA)


_WAV_RATE = 8000

_WAV_ORACLE = f"""
WITH d AS (
    SELECT doc_id, octet_length(encode(text)) % 2000 + 1 AS n
    FROM documents WHERE doc_id % 13 = 0
),
s AS (
    SELECT doc_id, n, ((i.i * 37 + doc_id * 11) % 65536) - 32768 AS v
    FROM d, unnest(generate_series(0, n - 1)) AS i(i)
)
SELECT doc_id,
       CAST({_WAV_RATE} AS INTEGER)  AS sample_rate,
       CAST(1 AS INTEGER)            AS n_channels,
       CAST(max(n) AS BIGINT)        AS n_samples,
       CAST(max(n) * 1000000 // {_WAV_RATE} AS BIGINT) AS duration_us,
       CAST(sum(abs(v)) AS DOUBLE) / count(*)          AS mean_abs
FROM s GROUP BY doc_id
"""


def _pattern_samples(doc_id: int, n: int) -> list[int]:
    """Deterministic sawtooth-ish test signal: full int16 range coverage."""
    return [((i * 37 + doc_id * 11) % 65536) - 32768 for i in range(n)]


@query("multimodal_decode_wav", oracle=_WAV_ORACLE)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: a deterministic int16 signal is
    packed into actual RIFF/WAV containers (chunk walk, word alignment,
    PCM-16 frames) in one Arrow batch stage, then parsed back out by the
    pure-Python WAV reader. The oracle recomputes sample count,
    duration, and mean |amplitude| analytically from the generator
    formula — an exact-match proof that real PCM frames round-trip
    through a real audio container.

    Scale shape: two chained narrow ``mapInPandas`` stages, no shuffle;
    sample counts bounded (≤2000), so per-row work is constant."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 13 == 0)
    blob_len = F.length(F.encode("text", "UTF-8"))
    dims = docs.select("doc_id", (blob_len % 2000 + 1).cast("int").alias("n"))

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": [
                        encode_wav(_WAV_RATE, _pattern_samples(d, n))
                        for d, n in zip(pdf["doc_id"], pdf["n"])
                    ],
                }
            )

    blobs = dims.mapInPandas(
        pack,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("blob", BinaryType()),
            ]
        ),
    )
    return decode_audio_features(blobs)


# --------------------------------------------------------------------------
# Audio feature extraction: windowed RMS energy over decoded PCM frames
# --------------------------------------------------------------------------

_RMS_WIN = 256  # samples per analysis window (non-overlapping)

_AUDIO_RMS_ORACLE = f"""
WITH d AS (
    SELECT doc_id, octet_length(encode(text)) % 2000 + 1 AS n
    FROM documents WHERE doc_id % 13 = 0
),
s AS (
    SELECT doc_id, i.i // {_RMS_WIN} AS win_no,
           ((i.i * 37 + doc_id * 11) % 65536) - 32768 AS v
    FROM d, unnest(generate_series(0, n - 1)) AS i(i)
)
SELECT doc_id,
       CAST(win_no AS BIGINT)   AS win_no,
       CAST(COUNT(*) AS BIGINT) AS n_in_win,
       sqrt(CAST(SUM(CAST(v AS BIGINT) * v) AS DOUBLE) / COUNT(*)) AS rms
FROM s GROUP BY doc_id, win_no
"""


@query("multimodal_audio_rms", oracle=_AUDIO_RMS_ORACLE)
def multimodal_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FEATURE pipeline on real containers: WAV blobs → pure-Python
    PCM decode → non-overlapping 256-sample analysis windows → RMS
    energy per window (the front half of every VAD / loudness /
    silence-trim pass over a speech corpus).

    One Arrow `mapInPandas` stage packs the deterministic signal into
    real RIFF containers, a second decodes the container and emits one
    row per analysis window — decode and featurize stay fused in the
    same narrow pipeline, so a 100 TB audio corpus never shuffles and
    never materializes raw sample arrays in a table. Exactness: RMS is
    sqrt(Σv²/n) over integers; integer Σv² is order-insensitive, the
    division and IEEE-correctly-rounded sqrt are then bit-identical on
    both engines, so the oracle (the analytic generator formula grouped
    by window) hash-matches at full precision.
    """
    import numpy as np  # noqa: PLC0415

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 13 == 0)
    blob_len = F.length(F.encode("text", "UTF-8"))
    dims = docs.select("doc_id", (blob_len % 2000 + 1).cast("int").alias("n"))

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": [
                        encode_wav(_WAV_RATE, _pattern_samples(d, n))
                        for d, n in zip(pdf["doc_id"], pdf["n"])
                    ],
                }
            )

    blobs = dims.mapInPandas(
        pack,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("blob", BinaryType()),
            ]
        ),
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[int, int, int, float]] = []
            for d, b in zip(pdf["doc_id"], pdf["blob"]):
                parsed = _decode_wav(b)
                if parsed is None:
                    continue
                _rate, channels, n_frames, _dur, _mean = parsed
                # Walk the RIFF chunk list for the data offset — the
                # sample payload itself may contain the bytes b"data",
                # so searching the blob is NOT safe.
                pos, data_off = 12, None
                while pos + 8 <= len(b):
                    cid, size = struct.unpack_from("<4sI", b, pos)
                    pos += 8
                    if cid == b"data":
                        data_off = pos
                        break
                    pos += size + (size & 1)
                vals = np.frombuffer(
                    b, dtype="<i2", count=n_frames * channels, offset=data_off
                ).astype(np.int64)
                for w in range(0, len(vals), _RMS_WIN):
                    chunk = vals[w : w + _RMS_WIN]
                    ssq = int((chunk * chunk).sum())
                    out.append(
                        (
                            d,
                            w // _RMS_WIN,
                            len(chunk),
                            math.sqrt(ssq / len(chunk)),
                        )
                    )
            yield pd.DataFrame(
                out, columns=["doc_id", "win_no", "n_in_win", "rms"]
            )

    return blobs.mapInPandas(
        featurize,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("win_no", LongType()),
                StructField("n_in_win", LongType()),
                StructField("rms", DoubleType()),
            ]
        ),
    )


# --------------------------------------------------------------------------
# Perceptual average-hash (aHash) over decoded BMP pixels
# --------------------------------------------------------------------------

_AHASH_GRID = 8  # 8×8 sample grid → 64 bits, emitted as two 32-bit halves

_AHASH_ORACLE = """
WITH d AS (
    SELECT doc_id, octet_length(encode(text)) AS L
    FROM documents WHERE doc_id % 11 = 0
),
dims AS (SELECT doc_id, L % 16 + 1 AS w, L % 12 + 1 AS h FROM d),
cells AS (
    SELECT doc_id, i.i, j.j,
           (((i.i * w // 8) * 7) + ((j.j * h // 8) * 13) + doc_id) % 256 AS v
    FROM dims, generate_series(0, 7) i(i), generate_series(0, 7) j(j)
),
m AS (SELECT doc_id, SUM(v) / 64.0 AS mean_v FROM cells GROUP BY 1)
SELECT c.doc_id,
       CAST(MAX(dims.w) AS INTEGER) AS width,
       CAST(MAX(dims.h) AS INTEGER) AS height,
       CAST(SUM(CASE WHEN j < 4 AND v > mean_v
                     THEN 1 << (j * 8 + i) ELSE 0 END) AS BIGINT) AS ahash_lo,
       CAST(SUM(CASE WHEN j >= 4 AND v > mean_v
                     THEN 1 << ((j - 4) * 8 + i) ELSE 0 END) AS BIGINT)
           AS ahash_hi
FROM cells c JOIN m USING (doc_id) JOIN dims USING (doc_id)
GROUP BY c.doc_id
"""


def _decode_bmp_pixels(blob: bytes):
    """Full-pixel BMP decode (24-bit, bottom-up): returns (w, h, pixels)
    with pixels row-major from the TOP (blue channel; the test images
    are grayscale so all channels agree). None if not a valid BMP."""
    if len(blob) < 54 or blob[:2] != b"BM":
        return None
    offset = struct.unpack_from("<I", blob, 10)[0]
    width, height = struct.unpack_from("<ii", blob, 18)
    bpp = struct.unpack_from("<H", blob, 28)[0]
    if bpp != 24 or width <= 0 or height <= 0:
        return None
    row_size = (width * 3 + 3) // 4 * 4
    if offset + row_size * height > len(blob):
        return None
    px = [0] * (width * height)
    for y in range(height):
        base = offset + (height - 1 - y) * row_size  # bottom-up storage
        for x in range(width):
            px[y * width + x] = blob[base + x * 3]
    return width, height, px


@query("multimodal_image_ahash", oracle=_AHASH_ORACLE)
def multimodal_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash (aHash) computed from REAL decoded BMP
    pixels — the image-corpus fingerprint that powers near-duplicate
    image dedup (two re-encodes of one photo share a hash; compare with
    Hamming distance like dedup_simhash_pairs does for text).

    Pipeline: pack the deterministic pattern into real 24-bit BMP
    containers, full-pixel decode (bottom-up rows, padding), sample an
    8×8 grid (nearest-pixel at floor(i·w/8), floor(j·h/8)), threshold
    each sample against the grid mean, emit the 64 bits as two 32-bit
    halves (keeping the value exact in signed BIGINT land on every
    engine). Sum/64 is a power-of-two division — the mean is exact, so
    every threshold comparison is deterministic. The oracle recomputes
    the hash analytically from the pattern formula: a full-precision
    proof that the decoder reproduced every sampled pixel.

    Scale: two chained narrow mapInPandas stages, zero shuffles.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    blob_len = F.length(F.encode("text", "UTF-8"))
    dims = docs.select(
        "doc_id",
        (blob_len % 16 + 1).cast("int").alias("w"),
        (blob_len % 12 + 1).cast("int").alias("h"),
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": [
                        encode_bmp(w, h, _pattern_pixels(d, w, h))
                        for d, w, h in zip(pdf["doc_id"], pdf["w"], pdf["h"])
                    ],
                }
            )

    blobs = dims.mapInPandas(
        pack,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("blob", BinaryType()),
            ]
        ),
    )

    g = _AHASH_GRID

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, b in zip(pdf["doc_id"], pdf["blob"]):
                parsed = _decode_bmp_pixels(b)
                if parsed is None:
                    continue
                w, h, px = parsed
                samples = [
                    px[(j * h // g) * w + (i * w // g)]
                    for j in range(g)
                    for i in range(g)
                ]
                mean_v = sum(samples) / 64.0
                lo = hi = 0
                for j in range(g):
                    for i in range(g):
                        if samples[j * g + i] > mean_v:
                            if j < 4:
                                lo |= 1 << (j * 8 + i)
                            else:
                                hi |= 1 << ((j - 4) * 8 + i)
                rows.append((d, w, h, lo, hi))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "ahash_lo", "ahash_hi"]
            )

    return blobs.mapInPandas(
        featurize,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("width", IntegerType()),
                StructField("height", IntegerType()),
                StructField("ahash_lo", LongType()),
                StructField("ahash_hi", LongType()),
            ]
        ),
    )


# --------------------------------------------------------------------------
# Scene-cut detection over a per-frame luminance series (video shape)
# --------------------------------------------------------------------------

_CUT_THRESHOLD = 30  # |Δ luminance| that counts as a hard cut

_SCENE_ORACLE = f"""
WITH d AS (
    SELECT doc_id, octet_length(encode(text)) % 240 + 8 AS n_frames
    FROM documents WHERE doc_id % 3 = 0
),
fr AS (
    SELECT doc_id, n_frames, f.f AS frame_idx,
           (doc_id * 31 + (f.f // 7) * 97) % 256 AS lum
    FROM d, unnest(generate_series(0, n_frames - 1)) AS f(f)
),
x AS (
    SELECT *, lag(lum) OVER (PARTITION BY doc_id ORDER BY frame_idx)
        AS prev_lum
    FROM fr
)
SELECT doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(prev_lum AS BIGINT)   AS prev_lum,
       CAST(lum AS BIGINT)        AS lum
FROM x
WHERE prev_lum IS NOT NULL AND abs(lum - prev_lum) >= {_CUT_THRESHOLD}
"""


@query("multimodal_scene_cuts", oracle=_SCENE_ORACLE)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection shape: expand each clip into its frame
    index series (the multimodal_frame_sample plumbing), score per-frame
    luminance, and flag hard cuts where the frame-to-frame delta jumps —
    the first stage of any shot-segmentation / keyframe-selection pass
    over a video corpus.

    The luminance here is the deterministic shot-structured test signal
    ((doc·31 + (f÷7)·97) mod 256 — constant within 7-frame shots,
    jumping at shot boundaries), standing in for the per-frame decode
    that plugs into the same seam as decode_features. What IS real and
    load-bearing at 100 TB: the frame fan-out stays a narrow
    sequence+explode (no shuffle), and cut detection is one lag() window
    per clip — frame series never leave their executor, state is one
    previous frame. Integer arithmetic end to end; the oracle replays
    the generator analytically.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    n_frames = (F.length(F.encode("text", "UTF-8")) % 240 + 8).cast("int")
    frames = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).select(
        "doc_id",
        "frame_idx",
        (
            (F.col("doc_id") * 31 + F.floor(F.col("frame_idx") / 7) * 97)
            % 256
        ).alias("lum"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    x = frames.withColumn("prev_lum", F.lag("lum").over(w))
    return x.filter(
        F.col("prev_lum").isNotNull()
        & (F.abs(F.col("lum") - F.col("prev_lum")) >= _CUT_THRESHOLD)
    ).select(
        "doc_id",
        F.col("frame_idx").cast("int"),
        F.col("prev_lum").cast("long"),
        F.col("lum").cast("long"),
    )


# --------------------------------------------------------------------------
# Image near-duplicate pairs — pigeonhole banding over the perceptual hash
# --------------------------------------------------------------------------

_PHASH_HAM_MAX = 6   # pairs within Hamming distance 6 are near-dup images
_PHASH_N_BANDS = 8   # 8 bands x 8 bits; d<=7 => >=1 band identical

_PHASH_PAIRS_ORACLE = f"""
WITH d AS (
    SELECT doc_id, octet_length(encode(text)) AS L
    FROM documents WHERE doc_id % 11 = 0
),
dims AS (SELECT doc_id, L % 16 + 1 AS w, L % 12 + 1 AS h FROM d),
cells AS (
    SELECT doc_id, i.i, j.j,
           (((i.i * w // 8) * 7) + ((j.j * h // 8) * 13) + doc_id) % 256 AS v
    FROM dims, generate_series(0, 7) i(i), generate_series(0, 7) j(j)
),
m AS (SELECT doc_id, SUM(v) / 64.0 AS mean_v FROM cells GROUP BY 1),
sig AS (
    SELECT c.doc_id,
           SUM(CASE WHEN j < 4 AND v > mean_v
                    THEN 1 << (j * 8 + i) ELSE 0 END) AS lo,
           SUM(CASE WHEN j >= 4 AND v > mean_v
                    THEN 1 << ((j - 4) * 8 + i) ELSE 0 END) AS hi
    FROM cells c JOIN m USING (doc_id) GROUP BY 1
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
            AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
      <= {_PHASH_HAM_MAX}
"""


@query("dedup_image_phash_pairs", oracle=_PHASH_PAIRS_ORACLE)
def dedup_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate PAIRS over the perceptual hash — the image
    twin of dedup_simhash_pairs, closing the multimodal dedup loop:
    multimodal_image_ahash fingerprints real decoded pixels, this finds
    the re-encodes/crops that share a fingerprint neighborhood.

    Same pigeonhole discipline, tuned to the looser image threshold:
    {_PHASH_N_BANDS} bands of 8 bits mean two hashes within Hamming
    distance {_PHASH_HAM_MAX} (< {_PHASH_N_BANDS}) MUST agree on at
    least one band, so candidates are a band-value equi-join and the
    exact bit_count(xor) verifies. The oracle is the brute all-pairs
    scan over SQL-recomputed hashes — banding recall provably 100%.
    The hash table (from the real BMP decode chain) is checkpointed
    once; everything downstream shuffles 8-byte keys.
    """
    sig = multimodal_image_ahash(spark, sf_dir).select(
        "doc_id", "ahash_lo", "ahash_hi"
    ).localCheckpoint(eager=False)
    band_structs = []
    for k in range(_PHASH_N_BANDS):
        src = F.col("ahash_lo") if k < 4 else F.col("ahash_hi")
        band_structs.append(
            F.struct(
                F.lit(k).alias("band_idx"),
                F.shiftrightunsigned(src, (k % 4) * 8)
                .bitwiseAND(F.lit(0xFF))
                .alias("band_val"),
            )
        )
    bands = sig.select(
        "doc_id",
        "ahash_lo",
        "ahash_hi",
        F.explode(F.array(*band_structs)).alias("band"),
    ).select(
        "doc_id", "ahash_lo", "ahash_hi", "band.band_idx", "band.band_val"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash_lo").alias("lo_a"),
            F.col("a.ahash_hi").alias("hi_a"),
            F.col("b.ahash_lo").alias("lo_b"),
            F.col("b.ahash_hi").alias("hi_b"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).cast("long")
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= _PHASH_HAM_MAX
    )


# --------------------------------------------------------------------------
# Unified multimodal manifest — one row per (doc, modality)
# --------------------------------------------------------------------------

_MANIFEST_ORACLE = f"""
WITH t AS (
    SELECT doc_id, 'text' AS modality,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_units,
           CAST(octet_length(encode(text)) AS BIGINT)   AS n_bytes
    FROM documents
),
img AS (
    SELECT doc_id, 'image' AS modality,
           CAST((L % 16 + 1) * (L % 12 + 1) AS BIGINT) AS n_units,
           CAST(54 + (((L % 16 + 1) * 3 + 3) // 4 * 4) * (L % 12 + 1)
                AS BIGINT) AS n_bytes
    FROM (SELECT doc_id, octet_length(encode(text)) AS L
          FROM documents WHERE doc_id % 11 = 0)
),
aud AS (
    SELECT doc_id, 'audio' AS modality,
           CAST(L % 2000 + 1 AS BIGINT)            AS n_units,
           CAST(44 + 2 * (L % 2000 + 1) AS BIGINT) AS n_bytes
    FROM (SELECT doc_id, octet_length(encode(text)) AS L
          FROM documents WHERE doc_id % 13 = 0)
)
SELECT * FROM t UNION ALL SELECT * FROM img UNION ALL SELECT * FROM aud
"""


@query("pipeline_modality_manifest", oracle=_MANIFEST_ORACLE)
def pipeline_modality_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified multimodal training manifest: one row per (document,
    modality) with unit and byte accounting — the index a multimodal
    data loader reads to budget batches across text, image, and audio.

    The image and audio rows come from the REAL container paths: blobs
    are packed and re-parsed by the pure-Python BMP and WAV codecs
    (multimodal_decode_bmp / _wav machinery), so the manifest's pixel
    counts, sample counts, and byte sizes are what the decoders actually
    measured — the oracle recomputes them analytically (including the
    BMP row-padding formula), making any codec drift a parity failure.
    Three narrow branches over one table union into the manifest; the
    only width is the modality fan-out itself.
    """
    docs = table(spark, sf_dir, "documents")
    text_rows = docs.select(
        "doc_id",
        F.lit("text").alias("modality"),
        F.size(F.split("text", " ")).cast("long").alias("n_units"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )
    img = multimodal_decode_bmp(spark, sf_dir).select(
        "doc_id",
        F.lit("image").alias("modality"),
        (F.col("width").cast("long") * F.col("height")).alias("n_units"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
    )
    aud = multimodal_decode_wav(spark, sf_dir).select(
        "doc_id",
        F.lit("audio").alias("modality"),
        F.col("n_samples").cast("long").alias("n_units"),
        (44 + 2 * F.col("n_samples")).cast("long").alias("n_bytes"),
    )
    return text_rows.unionByName(img).unionByName(aud)
