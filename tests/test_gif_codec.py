"""GIF89a codec (codecs.decode_image_gif), driven directly through the
production per-row functions — no Spark session needed.

The decoder must be a REAL GIF parser with a full variable-width LZW
decoder (KwKwK, late code widening, mid-stream CLEAR resets) and must
actually USE the color table — the palette is non-identity so raw
indexes hash-mismatch. Spark-level oracle parity runs in the driver
gate.
"""

from __future__ import annotations

import struct
from collections import namedtuple

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import (
    GIF_CLEAR_EVERY,
    _gif_codec,
    decode_image_gif,
)

encode, decode = _gif_codec()
Row = namedtuple(
    "Row", "width height mean_idx_milli mean_r_milli mean_g_milli mean_b_milli"
)


def _row(blob: bytes) -> Row:
    [row] = decode(blob)
    return Row(*row)


def _expected(payload: bytes, doc_id: int):
    w, h = 16 + doc_id % 17, 12 + doc_id % 13
    t = np.frombuffer(payload, np.uint8)
    idx = (np.resize(t, w * h) if t.size else np.zeros(w * h, np.uint8)).astype(
        np.int64
    )
    return w, h, idx


def test_roundtrip_and_palette_lookup():
    ids = [0, 1, 7]
    payloads = [b"hello world", b"", bytes(range(256))]
    for d, p in zip(ids, payloads):
        w, h, idx = _expected(p, d)
        row = _row(encode(d, p))
        assert (row.width, row.height) == (w, h)
        assert row.mean_idx_milli == int(idx.sum()) * 1000 // (w * h)
        # palette-mapped channels: non-identity formulas
        r = (idx * 7 + 13) % 256
        g = (idx * 31 + 5) % 256
        b = (idx * 13 + 101) % 256
        assert row.mean_r_milli == int(r.sum()) * 1000 // (w * h)
        assert row.mean_g_milli == int(g.sum()) * 1000 // (w * h)
        assert row.mean_b_milli == int(b.sum()) * 1000 // (w * h)
        # a decoder skipping the palette would return the index mean in
        # the channel slots — assert they differ for this payload
        if p:
            assert row.mean_r_milli != row.mean_idx_milli


def test_kwkwk_runs_decode_exactly():
    """Constant pixels produce the KwKwK pattern (code == next_code)
    immediately and repeatedly."""
    out = _row(encode(0, b"a" * 10))  # every pixel = 97
    w, h, idx = _expected(b"a" * 10, 0)
    assert out.mean_idx_milli == 97_000
    assert out.mean_r_milli == ((97 * 7 + 13) % 256) * 1000


def test_code_width_growth_and_midstream_clear():
    """A fully random 768-px image forces >512 table entries (10-bit
    codes) and crosses the deliberate CLEAR (every GIF_CLEAR_EVERY
    codes) — the decoder must reset and re-grow its table mid-image."""
    rng = np.random.RandomState(3)
    payload = bytes(rng.randint(0, 256, 768, dtype=np.int64).astype(np.uint8))
    # doc 220: 16+220%17=32, 12+220%13=24 -> 768 px
    out = _row(encode(220, payload))
    w, h, idx = _expected(payload, 220)
    assert (w * h, out.width, out.height) == (768, 32, 24)
    assert out.mean_idx_milli == int(idx.sum()) * 1000 // 768
    # sanity: incompressible input must actually emit >CLEAR_EVERY codes
    assert 768 > GIF_CLEAR_EVERY


def test_parser_rejects_invalid_input():
    good = encode(2, b"abc")
    with pytest.raises(ValueError, match="bad signature"):
        _row(b"JIF89a" + good[6:])
    with pytest.raises(ValueError, match="truncated GIF"):
        _row(good[:40])
    # the image descriptor sits after header(6) + LSD(7) + GCT(768) +
    # extensions — 0x2C bytes inside the palette must not be matched
    at = good.find(b"\x2c", 6 + 7 + 768)
    # interlace flag on the image descriptor
    bad = bytearray(good)
    bad[at + 9] |= 0x40
    with pytest.raises(ValueError, match="interlaced"):
        _row(bytes(bad))
    # missing trailer
    with pytest.raises(ValueError, match="missing trailer"):
        _row(good[:-1])
    # file ending inside the image descriptor (review-found: used to
    # surface as struct.error instead of the ValueError contract)
    with pytest.raises(ValueError, match="truncated GIF"):
        _row(good[: at + 5])
    # corrupt a mid-stream LZW byte: must fail loudly (size mismatch,
    # overflow, or an out-of-range code), never return wrong means
    sub_at = at + 10 + 1  # first sub-block length byte
    bad = bytearray(good)
    bad[sub_at + 3] ^= 0xFF
    with pytest.raises(ValueError):
        _row(bytes(bad))


def test_extensions_are_skipped():
    """The encoder plants GCE + Comment extensions; parse success plus
    exact means proves the sub-block walk. Verify they are present."""
    blob = encode(4, b"zz")
    assert b"\x21\xf9" in blob and b"\x21\xfe" in blob
    out = _row(blob)
    assert out.width == 20


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(decode_image_gif)
    (out,) = kernel([pd.DataFrame({"doc_id": [], "payload": []})])
    assert len(out) == 0
    assert list(out.columns) == [
        "doc_id",
        "width",
        "height",
        "mean_idx_milli",
        "mean_r_milli",
        "mean_g_milli",
        "mean_b_milli",
    ]


def test_decoder_handles_12bit_codes_and_deferred_clear():
    """The repo encoder CLEARs every 400 codes, so its own
    output never exercises the decoder's 11/12-bit widening or the
    deferred-clear branch (a full 4096 table with NO reset — the encoder
    just stops adding, per the spec's deferred-clear tolerance). Drive
    the decoder with a test-local GIF-LZW encoder that never clears:
    same emit/widen discipline as the repo encoder (late widening, check
    after emit against the pre-add count) minus the CLEAR, over a
    10,000-px random raster that provably fills the table."""
    import struct

    rng = np.random.RandomState(7)
    w, h = 100, 100
    idx = rng.randint(0, 256, w * h).astype(np.uint8)

    out = bytearray()
    acc = nbits = 0

    def put(code: int, cs: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += cs
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    cs, free, table = 9, 258, {}
    put(256, cs)  # initial CLEAR only
    seq = int(idx[0])
    max_cs = 9
    codes_after_full = 0

    def emit(code: int) -> None:
        nonlocal cs, max_cs, codes_after_full
        put(code, cs)
        if free == 4096:
            codes_after_full += 1
        if cs < 12 and free >= (1 << cs):
            cs += 1
        max_cs = max(max_cs, cs)

    for px in idx[1:].tolist():
        cand = (seq << 8) | px
        code = table.get(cand)
        if code is not None:
            seq = code
            continue
        emit(seq)
        if free < 4096:  # deferred clear: table full -> stop adding
            table[cand] = free
            free += 1
        seq = px
    emit(seq)
    put(257, cs)  # EOI
    if nbits:
        out.append(acc & 0xFF)
    lzw = bytes(out)
    # the stream must actually reach 12-bit codes AND run past the full
    # table without a CLEAR, else this test is vacuous
    assert max_cs == 12 and codes_after_full > 100, (max_cs, codes_after_full)

    i_pal = np.arange(256, dtype=np.int64)
    pal = (
        np.stack(
            [(i_pal * 7 + 13) % 256, (i_pal * 31 + 5) % 256, (i_pal * 13 + 101) % 256],
            axis=1,
        )
        .astype(np.uint8)
        .tobytes()
    )
    sub = b"".join(
        bytes([len(lzw[i : i + 100])]) + lzw[i : i + 100]
        for i in range(0, len(lzw), 100)
    )
    blob = (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
        + pal
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + b"\x08"
        + sub
        + b"\x00\x3b"
    )
    row = _row(blob)
    li = idx.astype(np.int64)
    assert (row.width, row.height) == (w, h)
    assert row.mean_idx_milli == int(li.sum()) * 1000 // (w * h)
    assert row.mean_r_milli == int(((li * 7 + 13) % 256).sum()) * 1000 // (w * h)
    assert row.mean_b_milli == int(((li * 13 + 101) % 256).sum()) * 1000 // (w * h)
