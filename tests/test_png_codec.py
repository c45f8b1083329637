"""PNG codec (multimodal.decode_image_png), driven directly through
the production per-row functions — no Spark session needed.

The decoder must be a REAL parser: verify the signature and every
chunk CRC, validate IHDR, reassemble multi-chunk IDAT streams, inflate,
and reconstruct all five RFC 2083 scanline filters. The encoder rotates
the filter type per row, so a decoder with any broken filter cannot
round-trip. Spark-level oracle parity runs in the driver gate.
"""

from __future__ import annotations

import binascii
import struct
import zlib

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.multimodal import (
    _png_codec,
    decode_image_png,
)

encode, decode = _png_codec()


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", binascii.crc32(ctype + data))
    )


def _minimal_png(w: int, h: int, raw: bytes, *, filters=None) -> bytes:
    """Reference-built PNG with chosen per-row filter types (default all
    0 = None), single IDAT — independent of the production encoder."""
    stride = w * 3
    rows = bytearray()
    img = np.frombuffer(raw, np.uint8).reshape(h, stride).astype(np.int64)
    for r in range(h):
        f = (filters or [0] * h)[r]
        cur = img[r]
        prior = img[r - 1] if r else np.zeros(stride, np.int64)
        left = np.concatenate(([0, 0, 0], cur[:-3]))
        upleft = np.concatenate(([0, 0, 0], prior[:-3]))
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prior
        elif f == 3:
            filt = cur - (left + prior) // 2
        else:
            p = left + prior - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, upleft)
            )
            filt = cur - pred
        rows.append(f)
        rows.extend((filt % 256).astype(np.uint8).tobytes())
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(bytes(rows)))
        + _chunk(b"IEND", b"")
    )


def _means(raw: bytes, w: int, h: int) -> tuple[int, int, int]:
    px = np.frombuffer(raw, np.uint8).reshape(w * h, 3)
    return tuple(px.sum(axis=0, dtype=np.int64) * 1000 // (w * h))


def test_roundtrip_inverts_encoder():
    # doc 1: w=2+1%6=3, h=2+1%5=3 — raster cycles 'abcdefg'
    [(w, h, *rgb)] = decode(encode(1, b"abcdefg"))
    assert (w, h) == (3, 3)
    raw = np.resize(np.frombuffer(b"abcdefg", np.uint8), 3 * 3 * 3).tobytes()
    assert tuple(rgb) == _means(raw, 3, 3)
    # doc 2 (empty text): zero raster, dims from the formula (w=4, h=4)
    assert decode(encode(2, b"")) == [(4, 4, 0, 0, 0)]


def test_encoder_rotates_all_five_filters_and_splits_idat():
    # doc_id 28: w=2+28%6=6, h=2+28%5=5 -> 5 rows, filters 0..4 all used
    blob = encode(28, bytes(range(90)))
    # walk chunks, collect types and the raw filter bytes
    pos, types, idat = 8, [], bytearray()
    while pos < len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        types.append(ctype)
        if ctype == b"IDAT":
            idat.extend(blob[pos + 8 : pos + 8 + length])
        pos += 12 + length
    assert types.count(b"IDAT") == 2, "IDAT must be split across chunks"
    assert b"tEXt" in types
    stream = zlib.decompress(bytes(idat))
    stride = 6 * 3
    filters = [stream[r * (1 + stride)] for r in range(5)]
    assert filters == [0, 1, 2, 3, 4]


def test_each_filter_type_reconstructs():
    """One image per filter type, via the independent reference builder
    — catches a decoder whose Sub/Average/Paeth math is wrong even if
    it inverts the production encoder's exact byte stream."""
    w, h = 4, 3
    raw = bytes((i * 37 + 11) % 256 for i in range(w * h * 3))
    for f in range(5):
        [(_, _, *got)] = decode(_minimal_png(w, h, raw, filters=[f] * h))
        assert tuple(got) == _means(raw, w, h), f"filter {f} broken"


def test_parser_rejects_invalid_input():
    raw = bytes(12)
    good = _minimal_png(2, 1, bytes(range(6)))
    with pytest.raises(ValueError, match="bad signature"):
        decode(b"P6\n2 1\n255\n" + raw)
    # flip one pixel byte inside IDAT without fixing the CRC
    corrupt = bytearray(good)
    corrupt[-17] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch|error"):
        decode(bytes(corrupt))
    with pytest.raises(ValueError, match="truncated|missing"):
        decode(good[:-12])  # IEND sliced off
    # 16-bit depth is spec-valid but outside this decoder's contract
    deep = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(b"\x00" + bytes(12)))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported PNG shape"):
        decode(deep)
    # raster length disagreeing with IHDR
    short = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(b"\x00" + bytes(6)))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="raster size mismatch"):
        decode(short)


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(decode_image_png)
    (out,) = kernel([pd.DataFrame({"doc_id": [], "payload": []})])
    assert len(out) == 0
    assert list(out.columns) == [
        "doc_id",
        "width",
        "height",
        "mean_r_milli",
        "mean_g_milli",
        "mean_b_milli",
    ]
