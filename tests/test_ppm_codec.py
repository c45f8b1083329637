"""Netpbm P6 codec (multimodal.decode_image_ppm), driven directly
through the production per-row functions — no Spark session needed.

The decoder must be a REAL parser: accept any spec-valid header
(comments, arbitrary whitespace), reject non-P6 and truncated input,
and invert the encoder exactly. The Spark-level oracle parity runs in
tests/test_review_regressions.py and the driver gate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.multimodal import (
    _ppm_codec,
    decode_image_ppm,
)

encode, decode = _ppm_codec()


def _ppm(w: int, h: int, px: bytes, header: bytes | None = None) -> bytes:
    return (header or b"P6\n%d %d\n255\n" % (w, h)) + px


def test_roundtrip_inverts_encoder():
    # doc 1: w=4+1%5=5, h=3+1%7=4; R channel cycles abc -> indices 0,3,6..
    [(w, h, *rgb)] = decode(encode(1, b"abc"))
    assert (w, h) == (5, 4)
    npx = 5 * 4
    raster = np.resize(np.frombuffer(b"abc", np.uint8), npx * 3)
    want = raster.reshape(npx, 3).sum(axis=0, dtype=np.int64) * 1000 // npx
    assert tuple(rgb) == tuple(want)
    # doc 2 (empty text): zero raster, dims still from the formula
    assert decode(encode(2, b"")) == [(6, 5, 0, 0, 0)]


def test_parser_accepts_spec_valid_headers():
    """Comments and arbitrary whitespace are legal anywhere between
    header tokens — a parser that only accepts our encoder's canonical
    layout is not a real codec."""
    px = bytes(range(2 * 1 * 3))
    variants = [
        b"P6 2 1 255 " + px,  # single spaces
        b"P6\n# a comment\n2\t1\r\n255\n" + px,  # comment + mixed ws
        b"P6\n2 # trailing comment\n1 255\n" + px,
        b"P6\n\n\n  2   1\n255 " + px,
    ]
    for blob in variants:
        [(w, h, mean_r, _, _)] = decode(blob)
        assert (w, h) == (2, 1), blob
        # pixel bytes 0..5: R mean = (0+3)*1000//2 = 1500
        assert mean_r == 1500, blob


def test_parser_rejects_invalid_input():
    with pytest.raises(ValueError, match="not a binary PPM"):
        decode(b"P5\n2 1\n255\n" + bytes(6))  # grayscale PGM magic
    with pytest.raises(ValueError, match="not a binary PPM"):
        decode(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError, match="truncated"):
        decode(b"P6\n2 1\n")  # header ends before maxval
    with pytest.raises(ValueError, match="8-bit raster"):
        decode(b"P6\n2 1\n65535\n" + bytes(12))
    # magic must be its own token: 'P6123 4 255' must not silently
    # parse as width=123
    with pytest.raises(ValueError, match="whitespace after magic"):
        decode(b"P6123 4 255\n" + bytes(123 * 4 * 3))


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(decode_image_ppm)
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
