"""Baseline-JPEG codec (codecs.decode_image_jpeg), driven directly
through the production per-row functions — no Spark session needed.

The decoder must be a REAL general T.81 baseline decoder, so beyond the
production round trip (DC-only blocks, exact by construction) these
tests feed it an INDEPENDENTLY-built JPEG with nonzero AC coefficients,
ZRL runs, and a non-unit quant table, and compare against a direct
double-sum IDCT. Spark-level oracle parity runs in the driver gate.
"""

from __future__ import annotations

import struct
from collections import namedtuple

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import (
    JPEG_AC_BITS,
    JPEG_AC_VALS,
    JPEG_DC_BITS,
    JPEG_DC_VALS,
    _jpeg_codec,
    decode_image_jpeg,
)

encode, decode = _jpeg_codec()
Row = namedtuple("Row", "width height mean_gray_milli max_gray min_gray")


def _row(blob: bytes) -> Row:
    [row] = decode(blob)
    return Row(*row)


# --- independent mini-encoder (test-local, NOT the production code) ---


def _canonical(bits, vals):
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return table


_ZZ = []
for _d in range(15):
    _rng = (
        range(min(_d, 7), max(0, _d - 7) - 1, -1)
        if _d % 2 == 0
        else range(max(0, _d - 7), min(_d, 7) + 1)
    )
    _ZZ.extend((r, _d - r) for r in _rng)


class _BW:
    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def put(self, v, k):
        self.acc = (self.acc << k) | (v & ((1 << k) - 1))
        self.n += k
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def align(self):
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)


def _build_jpeg(blocks: list[np.ndarray], bw: int, bh: int, quant: np.ndarray) -> bytes:
    """Assemble a baseline JPEG from QUANTIZED 8x8 coefficient blocks
    (natural order) — independent of the production encoder so the
    decoder's AC run/size loop, ZRL handling, and dequantization are
    tested against a second implementation."""
    assert len(blocks) == bw * bh
    dc_codes = _canonical(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_codes = _canonical(JPEG_AC_BITS, JPEG_AC_VALS)

    def seg(m, d):
        return bytes((0xFF, m)) + struct.pack(">H", len(d) + 2) + d

    qz = bytes(int(quant[r, c]) for r, c in _ZZ)
    head = (
        b"\xff\xd8"
        + seg(0xDB, b"\x00" + qz)
        + seg(0xC0, struct.pack(">BHHB", 8, 8 * bh, 8 * bw, 1) + bytes((1, 0x11, 0)))
        + seg(
            0xC4,
            bytes([0x00]) + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS)
            + bytes([0x10]) + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS),
        )
        + seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
    )
    w = _BW()
    pred = 0
    for blk in blocks:
        z = np.array([blk[r, c] for r, c in _ZZ], dtype=np.int64)
        diff = int(z[0]) - pred
        pred = int(z[0])
        s = abs(diff).bit_length()
        code, ln = dc_codes[s]
        w.put(code, ln)
        if s:
            w.put(diff if diff > 0 else diff + (1 << s) - 1, s)
        i, run = 1, 0
        while i < 64:
            if z[i] == 0:
                run += 1
                i += 1
                continue
            while run >= 16:
                c16, l16 = ac_codes[0xF0]  # ZRL
                w.put(c16, l16)
                run -= 16
            size = int(abs(int(z[i]))).bit_length()
            code, ln = ac_codes[(run << 4) | size]
            w.put(code, ln)
            v = int(z[i])
            w.put(v if v > 0 else v + (1 << size) - 1, size)
            run = 0
            i += 1
        if run:
            c0, l0 = ac_codes[0x00]  # EOB
            w.put(c0, l0)
    w.align()
    return head + bytes(w.out) + b"\xff\xd9"


def _reference_idct(coef: np.ndarray) -> np.ndarray:
    """Direct double-sum T.81 IDCT (independent of the decoder's
    matrix-product formulation)."""
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u_ in range(8):
                for v_ in range(8):
                    cu = 1 / np.sqrt(2) if u_ == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v_ == 0 else 1.0
                    s += (
                        cu * cv * coef[u_, v_]
                        * np.cos((2 * x + 1) * u_ * np.pi / 16)
                        * np.cos((2 * y + 1) * v_ * np.pi / 16)
                    )
            out[x, y] = s / 4 + 128
    return np.clip(np.rint(out), 0, 255)


def test_roundtrip_matches_block_formula():
    # doc 7: bw=1+7%4=4, bh=1+7%3=2 -> 8 blocks (exercises one RST)
    row = _row(encode(7, b"hello world"))
    vals = np.resize(np.frombuffer(b"hello world", np.uint8), 8).astype(np.int64)
    assert (row.width, row.height) == (32, 16)
    assert row.mean_gray_milli == int(vals.sum()) * 1000 // 8
    assert (row.max_gray, row.min_gray) == (int(vals.max()), int(vals.min()))
    # doc 1 (empty text): all-zero blocks
    row = _row(encode(1, b""))
    assert (row.width, row.height) == (16, 16)
    assert (row.mean_gray_milli, row.max_gray, row.min_gray) == (0, 0, 0)


def test_restart_markers_present_and_consumed():
    """doc_id 11 -> 4x3 = 12 blocks -> two RSTn markers at DRI=4; the
    file must contain ffd0 and ffd1 and still round-trip exactly."""
    blob = encode(11, bytes(range(1, 13)))
    scan = blob[blob.rfind(b"\xff\xda") :]
    assert b"\xff\xd0" in scan and b"\xff\xd1" in scan
    out = _row(blob)
    assert out.mean_gray_milli == sum(range(1, 13)) * 1000 // 12


def test_nonzero_ac_against_independent_idct():
    """General-decoder check: nonzero AC coefficients (incl. a >16-zero
    gap forcing ZRL) and a non-unit quant table, decoded within +/-1 of
    a direct double-sum IDCT (float summation order may differ)."""
    quant = np.ones((8, 8), dtype=np.int64)
    quant[0, 1] = 3
    quant[7, 7] = 5
    blk = np.zeros((8, 8), dtype=np.int64)
    blk[0, 0] = 40  # DC
    blk[0, 1] = -7  # AC, quant 3
    blk[1, 0] = 12
    blk[7, 7] = 2  # forces ZRL runs to reach the last coefficient
    blk2 = np.zeros((8, 8), dtype=np.int64)
    blk2[0, 0] = -30
    blk2[2, 3] = 9
    blob = _build_jpeg([blk, blk2], bw=2, bh=1, quant=quant)
    out = _row(blob)
    assert (out.width, out.height) == (16, 8)
    want = np.concatenate(
        [
            _reference_idct((b * quant).astype(float)).reshape(-1)
            for b in (blk, blk2)
        ]
    )
    got_mean = out.mean_gray_milli
    want_mean = int(want.sum()) * 1000 // 128
    assert abs(got_mean - want_mean) <= 1000  # <=1 gray level of drift
    assert abs(out.max_gray - want.max()) <= 1
    assert abs(out.min_gray - want.min()) <= 1


def test_dc_only_blocks_decode_exactly():
    """DC-only blocks with unit quant are analytically exact: IDCT of a
    lone DC coefficient 8*(v-128) is the constant v."""
    for v in (0, 1, 127, 128, 200, 255):
        blk = np.zeros((8, 8), dtype=np.int64)
        blk[0, 0] = 8 * (v - 128)
        blob = _build_jpeg([blk], 1, 1, np.ones((8, 8), dtype=np.int64))
        out = _row(blob)
        assert (out.max_gray, out.min_gray) == (v, v)
        assert out.mean_gray_milli == v * 1000


def test_parser_rejects_invalid_input():
    good = encode(2, b"abc")
    with pytest.raises(ValueError, match="missing SOI"):
        _row(b"\x00\x00" + good[2:])
    with pytest.raises(ValueError, match="truncated"):
        _row(good[:40])
    # progressive SOF2 instead of baseline SOF0
    prog = good.replace(b"\xff\xc0", b"\xff\xc2")
    with pytest.raises(ValueError, match="non-baseline"):
        _row(prog)
    # multi-component frame (claims 3 components)
    sof = good.find(b"\xff\xc0")
    bad = bytearray(good)
    bad[sof + 9] = 3  # ncomps byte of SOF0
    with pytest.raises(ValueError, match="grayscale"):
        _row(bytes(bad))


def test_zrl_past_block_end_rejected():
    """A spec-invalid stream whose ZRL runs the coefficient index past
    63 must raise, not silently decode (review-found: the guard only
    covered run/size symbols)."""
    quant = np.ones((8, 8), dtype=np.int64)
    blk = np.zeros((8, 8), dtype=np.int64)
    blob = _build_jpeg([blk], 1, 1, quant)
    # rebuild the scan with DC cat 0 then FOUR ZRLs (64 zeros from i=1)
    dc_codes = _canonical(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_codes = _canonical(JPEG_AC_BITS, JPEG_AC_VALS)
    w = _BW()
    c, ln = dc_codes[0]
    w.put(c, ln)
    for _ in range(4):
        c, ln = ac_codes[0xF0]
        w.put(c, ln)
    w.align()
    scan_at = blob.rfind(b"\xff\xda") + 2 + 2 + 6  # marker+len+header
    bad = blob[:scan_at] + bytes(w.out) + b"\xff\xd9"
    with pytest.raises(ValueError, match="AC run past block end"):
        _row(bad)


def test_eof_inside_fill_bytes_rejected():
    """A file ending in a run of 0xFF fill bytes must raise ValueError,
    not IndexError (review-found)."""
    with pytest.raises(ValueError, match="truncated JPEG"):
        _row(b"\xff\xd8\xff\xff")


def test_corrupted_restart_marker_rejected():
    """doc_id 7 has one RST0; breaking its marker number must fail the
    expect_rst sequence check, not silently desync."""
    blob = bytearray(encode(7, b"some text payload"))
    scan_at = bytes(blob).rfind(b"\xff\xd0")
    assert scan_at > 0
    blob[scan_at + 1] = 0xD5  # RST5 where RST0 expected
    with pytest.raises(ValueError, match="bad restart marker"):
        _row(bytes(blob))


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(decode_image_jpeg)
    (out,) = kernel([pd.DataFrame({"doc_id": [], "payload": []})])
    assert len(out) == 0
    assert list(out.columns) == [
        "doc_id",
        "width",
        "height",
        "mean_gray_milli",
        "max_gray",
        "min_gray",
    ]
