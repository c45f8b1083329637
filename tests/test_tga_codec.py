"""Truevision TGA codec (codecs.decode_image_tga), driven directly
through the production per-row functions — no Spark session needed.

The decoder must be a REAL type-10 RLE parser: image-ID skip, RLE and
raw packets with overflow/truncation rejection, BOTH vertical origin
conventions, BGR order, and v2 footer validation. Spark-level oracle
parity runs in the driver gate.
"""

from __future__ import annotations

import struct
from collections import namedtuple

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import (
    _tga_codec,
    decode_image_tga,
)

encode, decode = _tga_codec()
Row = namedtuple("Row", "width height mean_r_milli mean_g_milli mean_b_milli")


def _row(blob: bytes) -> Row:
    [row] = decode(blob)
    return Row(*row)


def _tga(w: int, h: int, body: bytes, desc: int = 0, idfield: bytes = b"") -> bytes:
    header = struct.pack(
        "<BBBHHBHHHHBB", len(idfield), 0, 10, 0, 0, 0, 0, 0, w, h, 24, desc
    )
    return header + idfield + body


def test_roundtrip_mixes_rle_and_raw_packets():
    """Constant text produces RLE packets, random bytes raw packets —
    both must reproduce the logical top-down RGB means exactly."""
    rng = np.random.RandomState(9)
    ids = [2, 7]
    payloads = [b"a" * 50, bytes(rng.randint(0, 256, 200, dtype=np.int64).astype(np.uint8))]
    # doc 2 (constant): stream dominated by RLE packets (high bit set)
    blob = encode(ids[0], payloads[0])
    assert blob[18 + 5] & 0x80  # first packet after header+ID is RLE
    for d, p in zip(ids, payloads):
        w, h = 3 + d % 6, 3 + d % 5
        px = np.resize(np.frombuffer(p, np.uint8), w * h * 3).reshape(-1, 3)
        want = px.astype(np.int64).sum(axis=0) * 1000 // (w * h)
        row = _row(encode(d, p))
        assert (row.mean_r_milli, row.mean_g_milli, row.mean_b_milli) == tuple(want)


def test_top_down_origin_supported():
    """Descriptor bit 5 set = top-down rows: the same body decodes to
    vertically flipped pixels."""
    # 1x2 image: two pixels (BGR on disk), raw packets
    body = b"\x00" + bytes([10, 20, 30]) + b"\x00" + bytes([40, 50, 60])
    bottom_up = _row(_tga(1, 2, body, desc=0x00))
    top_down = _row(_tga(1, 2, body, desc=0x20))
    # bottom-up: disk row 0 is the BOTTOM row -> logical top is (60,50,40)
    assert bottom_up.mean_r_milli == (60 + 30) * 1000 // 2
    assert top_down.mean_r_milli == (30 + 60) * 1000 // 2  # same mean
    # distinguish via a 1x2 where only the top row differs per origin:
    # use max-style check through a 2x1-wide asymmetric image instead
    one_row_top = _row(_tga(2, 1, b"\x01" + bytes([1, 2, 3, 4, 5, 6])))
    assert one_row_top.mean_b_milli == (1 + 4) * 1000 // 2


def test_image_id_field_is_skipped():
    blob = encode(3, b"xy")
    assert blob[18:23] == b"smrr!"
    out = _row(blob)
    assert (out.width, out.height) == (3 + 3 % 6, 3 + 3 % 5)


def test_parser_rejects_invalid_input():
    good = encode(1, b"abc")
    with pytest.raises(ValueError, match="truncated TGA header"):
        _row(good[:10])
    # uncompressed type 2 is not supported by this decoder
    bad = bytearray(good)
    bad[2] = 2
    with pytest.raises(ValueError, match="want RLE true-color"):
        _row(bytes(bad))
    # 32 bpp / alpha bits
    bad = bytearray(good)
    bad[16] = 32
    with pytest.raises(ValueError, match="24 bpp"):
        _row(bytes(bad))
    # truncated packet stream
    with pytest.raises(ValueError, match="truncated TGA"):
        _row(good[:30])
    # RLE overflowing the raster: 1x1 image fed a 2-pixel run
    overflow = _tga(1, 1, bytes([0x81, 9, 9, 9]))
    with pytest.raises(ValueError, match="overflows raster"):
        _row(overflow)
    # garbage after image data (not a valid v2 footer)
    ok = _tga(1, 1, bytes([0x00, 9, 9, 9]))
    assert _row(ok).width == 1
    with pytest.raises(ValueError, match="garbage after TGA"):
        _row(ok + b"junk")
    # huge header dims must be rejected before allocation
    bomb = bytearray(good)
    bomb[12:16] = struct.pack("<HH", 65535, 65535)
    with pytest.raises(ValueError, match="raster too large"):
        _row(bytes(bomb))


def test_footer_is_validated_when_present():
    blob = encode(0, b"q")
    assert blob.endswith(b"TRUEVISION-XFILE.\x00")
    bad = blob[:-1] + b"Q"  # corrupt the signature terminator
    with pytest.raises(ValueError, match="garbage after TGA"):
        _row(bad)


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(decode_image_tga)
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
