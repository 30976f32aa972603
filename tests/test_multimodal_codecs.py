"""Unit tests for the real pure-Python media codecs (BMP / PPM).

These parse ACTUAL pixel bytes — header layout, row padding, bottom-up
row order, channel packing — no stub. Fixture blobs are built by hand so
every expected value (width, height, file size, mean, checksum) is
derivable on paper.
"""

from __future__ import annotations

import hashlib
import struct

from etl_pipeline_with_alpha_vantage_spark.operators.multimodal import (
    _decode_blob,
    _decode_bmp,
    _decode_ppm,
    _fake_decode,
    encode_bmp,
)


def test_bmp_roundtrip_known_values():
    # 3x2 image, pixels 10,20,30 / 40,50,60 -> mean = 35.0
    pixels = bytes([10, 20, 30, 40, 50, 60])
    blob = encode_bmp(3, 2, pixels)
    # 3px * 3B = 9B rows padded to 12 -> 54 + 2*12 = 78 bytes
    assert len(blob) == 78
    assert _decode_bmp(blob) == (3, 2, 78, 35.0, 1)
    # stable container bytes: encoder is deterministic
    assert hashlib.sha256(blob).hexdigest() == (
        hashlib.sha256(encode_bmp(3, 2, pixels)).hexdigest()
    )


def test_bmp_row_padding_actually_excluded():
    # width 1: row = 3 bytes + 1 byte pad. If the decoder read the pad
    # bytes as pixels, the mean would be pulled toward 0.
    blob = encode_bmp(1, 3, bytes([255, 255, 255]))
    w, h, n, mean, frames = _decode_bmp(blob)
    assert (w, h, mean) == (1, 3, 255.0)


def test_bmp_32bit_alpha_excluded():
    # Hand-build a 1x1 32-bit BMP: BGRA = (10, 20, 30, 200). Alpha must
    # not contaminate the mean: (10+20+30)/3 = 20.0.
    px = bytes([10, 20, 30, 200])
    header = struct.pack("<2sIHHI", b"BM", 54 + 4, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 32, 0, 4, 0, 0, 0, 0)
    assert _decode_bmp(header + dib + px) == (1, 1, 58, 20.0, 1)


def test_bmp_topdown_negative_height():
    pixels = bytes([100, 200])
    blob = bytearray(encode_bmp(2, 1, pixels))
    # flip height to -1 (top-down flag); same pixels, same mean
    struct.pack_into("<i", blob, 22, -1)
    assert _decode_bmp(bytes(blob)) == (2, 1, len(blob), 150.0, 1)


def test_ppm_roundtrip_known_values():
    # P6 2x2, RGB triples all equal to pixel value v: mean of 0,60,120,180
    body = bytes(v for v in (0, 60, 120, 180) for _ in range(3))
    blob = b"P6\n2 2\n255\n" + body
    assert _decode_ppm(blob) == (2, 2, len(blob), 90.0, 1)


def test_ppm_with_comment_header():
    body = bytes([7, 7, 7])
    blob = b"P6\n# a comment\n1 1\n255\n" + body
    assert _decode_ppm(blob) == (1, 1, len(blob), 7.0, 1)


def test_near_miss_text_falls_back_to_fake():
    # Text that merely starts with the magic must NOT be parsed as media.
    for text in (b"BMW dealers report record sales", b"P6 is a chess term"):
        assert _decode_bmp(text) is None or text[:2] != b"BM"
        assert _decode_blob(text) == _fake_decode(text)


def test_truncated_bmp_rejected():
    blob = encode_bmp(4, 4, bytes(range(16)))
    assert _decode_bmp(blob[:40]) is None  # shorter than the header
    assert _decode_bmp(blob[:-8]) is None  # pixel array cut short


def test_sniff_routes_real_formats():
    bmp = encode_bmp(2, 2, bytes([1, 2, 3, 4]))
    assert _decode_blob(bmp) == (2, 2, len(bmp), 2.5, 1)
    ppm = b"P6\n1 1\n255\n\x09\x09\x09"
    assert _decode_blob(ppm) == (1, 1, len(ppm), 9.0, 1)


def test_arrow_decoder_matches_row_functions():
    """The r13 mapInArrow migration must be BYTE-exact against the row
    functions for every dispatch path: fake (arbitrary bytes), empty
    blob, valid BMP/PPM, near-miss magic, truncated BMP. Runs the
    extract generator directly on hand-built Arrow batches (no Spark
    session needed) over a deterministic fuzz corpus, in every buffer
    layout the decoder reads: int32 offsets, int64 offsets
    (``large_binary``), a sliced batch (non-zero array offset, offsets
    that do not start at 0), and NULL blobs, which decode to NULL in
    every feature column."""
    import random

    import pyarrow as pa

    from etl_pipeline_with_alpha_vantage_spark.operators import (
        multimodal as mm,
    )

    rng = random.Random(42)
    blobs: list[bytes | None] = [
        b"",
        b"BMW dealers report record sales",
        b"P6 is a chess term",
        mm.encode_bmp(3, 2, bytes([10, 20, 30, 40, 50, 60])),
        mm.encode_bmp(1, 1, bytes([255])),
        mm.encode_bmp(4, 4, bytes(range(16)))[:-8],  # truncated -> fake
        b"P6\n2 2\n255\n" + bytes(range(12)),
        b"P6\n# c\n1 1\n255\n\x07\x07\x07",
    ]
    for _ in range(200):
        blobs.append(bytes(rng.randrange(256) for _ in range(rng.randrange(0, 64))))
    with_nulls = list(blobs)
    for i in (0, 4, 77, len(with_nulls) - 1):
        with_nulls[i] = None

    # grab the generator the DataFrame API would ship
    captured = {}

    class _FakeDF:
        def mapInArrow(self, fn, schema):
            captured["fn"] = fn
            return None

    mm.decode_features(_FakeDF())

    def check(batch, corpus, ids):
        (out,) = list(captured["fn"](iter([batch])))
        got = list(zip(
            out.column("width").to_pylist(),
            out.column("height").to_pylist(),
            out.column("n_bytes").to_pylist(),
            out.column("mean_byte").to_pylist(),
            out.column("n_frames").to_pylist(),
        ))
        want = [
            (None,) * 5 if b is None else tuple(mm._decode_blob(b))
            for b in corpus
        ]
        assert out.column("doc_id").to_pylist() == ids
        for i, (g, w) in enumerate(zip(got, want)):
            assert g == w, f"row {i}: arrow {g} != row-fn {w} (blob={corpus[i]!r})"

    for corpus in (blobs, with_nulls):
        ids = list(range(len(corpus)))
        for blob_type in (pa.binary(), pa.large_binary()):
            batch = pa.record_batch(
                [pa.array(ids, type=pa.int64()),
                 pa.array(corpus, type=blob_type)],
                names=["doc_id", "blob"],
            )
            check(batch, corpus, ids)
            check(batch.slice(1), corpus[1:], ids[1:])
            check(batch.slice(5, 60), corpus[5:65], ids[5:65])
