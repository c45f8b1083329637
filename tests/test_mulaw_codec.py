"""G.711 mu-law codec (codecs.decode_audio_mulaw), driven directly
through the production per-row functions — no Spark session needed.

The decoder must implement the REAL CCITT expansion and refuse plain
PCM: mu-law is the first lossy codec in the suite, and its decode side
is pure integer arithmetic, so every value here is exact.
Spark-level oracle parity runs in the driver gate.
"""

from __future__ import annotations

import struct
from collections import namedtuple

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import (
    MULAW_TABLE,
    _mulaw_codec,
    decode_audio_mulaw,
)

encode, decode = _mulaw_codec()
Row = namedtuple("Row", "sample_rate channels n_frames mean_milli peak trough")


def _row(blob: bytes) -> Row:
    [row] = decode(blob)
    return Row(*row)


def _wav(ch: int, codes: bytes, with_fact: bool = True, tag: int = 7) -> bytes:
    fmt = struct.pack("<HHIIHH", tag, ch, 8000, 8000 * ch, ch, 8)

    def chunk(t: bytes, d: bytes) -> bytes:
        return t + struct.pack("<I", len(d)) + d + (b"\x00" if len(d) % 2 else b"")

    body = b"WAVE" + chunk(b"fmt ", fmt)
    if with_fact:
        body += chunk(b"fact", struct.pack("<I", len(codes) // ch))
    body += chunk(b"data", codes)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _expand(code: int) -> int:
    u = 255 - code
    t = ((u & 15) * 8 + 132) << ((u >> 4) & 7)
    return 132 - t if u >= 128 else t - 132


def test_g711_expansion_matches_cpython_c_table():
    """The kernel's expansion table vs CPython's C implementation, all
    256 codewords — two independent derivations of the CCITT table."""
    audioop = pytest.importorskip("audioop")

    theirs = np.frombuffer(audioop.ulaw2lin(bytes(range(256)), 2), "<i2")
    assert (MULAW_TABLE == theirs.astype(np.int64)).all()


def test_expansion_endpoints():
    """The canonical G.711 landmarks: 0x00 -> -32124, 0x80 -> +32124,
    0xFF -> +0, 0x7F -> -0 (both zeros decode to 0)."""
    out = _row(_wav(1, bytes([0x00, 0x80, 0xFF, 0x7F])))
    assert out.peak == 32124
    assert out.trough == -32124
    assert _expand(0xFF) == 0 and _expand(0x7F) == 0
    assert _expand(0x00) == -32124 and _expand(0x80) == 32124


def test_expansion_monotone_per_segment():
    """Within one sign, decoded magnitudes are strictly monotone in the
    codeword — a transposed mantissa/exponent nibble would break this."""
    mags = [-_expand(c) for c in range(0x00, 0x80)]  # negative half
    assert all(a > b for a, b in zip(mags, mags[1:]))
    mags = [_expand(c) for c in range(0x80, 0x100)]  # positive half
    assert all(a > b for a, b in zip(mags, mags[1:]))


def test_roundtrip_inverts_encoder():
    # doc 1: ch=2, frames=51
    row = _row(encode(1, b"xyz"))
    assert (row.sample_rate, row.channels, row.n_frames) == (8000, 2, 51)
    codes = np.resize(np.frombuffer(b"xyz", np.uint8), 102)
    s = np.array([_expand(int(c)) for c in codes], dtype=np.int64)
    tot = int(s.sum()) * 1000
    want_mean = -(abs(tot) // s.size) if tot < 0 else tot // s.size
    assert (row.mean_milli, row.peak, row.trough) == (
        want_mean,
        int(s.max()),
        int(s.min()),
    )
    # doc 2 (empty text): codeword 0x00 everywhere -> -32124
    row = _row(encode(2, b""))
    assert (row.mean_milli, row.peak, row.trough) == (
        -32124000,
        -32124,
        -32124,
    )


def test_negative_mean_truncates_toward_zero():
    """DuckDB's integer // truncates toward zero; codeword 0x30 decodes
    to a negative sample, so a flooring kernel would hash-mismatch."""
    s = _expand(0x30)
    assert s < 0
    out = _row(_wav(1, bytes([0x30, 0xFF, 0xFF])))  # sum = s, n = 3
    want = -(abs(s * 1000) // 3)
    assert out.mean_milli == want


def test_parser_rejects_invalid_input():
    codes = bytes([0x10, 0x90, 0x55, 0xAA])
    good = _wav(2, codes)
    with pytest.raises(ValueError, match="not a RIFF/WAVE"):
        _row(b"OggS" + good[4:])
    # a 16-bit PCM file (tag 1) must be rejected by the mu-law decoder
    with pytest.raises(ValueError, match="want 8-bit mu-law"):
        _row(_wav(2, codes, tag=1))
    # fact chunk disagreeing with the data length
    bad = bytearray(_wav(1, codes))
    at = bytes(bad).find(b"fact") + 8
    bad[at : at + 4] = struct.pack("<I", 99)
    with pytest.raises(ValueError, match="fact chunk disagrees"):
        _row(bytes(bad))
    # stereo data whose length is not a multiple of block align
    with pytest.raises(ValueError, match="block align"):
        _row(_wav(2, bytes([1, 2, 3]), with_fact=False))


def test_short_header_chunks_raise_value_error():
    """Short fmt/fact chunks must raise ValueError, not struct.error
    (review-found)."""
    codes = bytes([0xFF, 0x80])

    def chunk(t: bytes, d: bytes) -> bytes:
        return t + struct.pack("<I", len(d)) + d + (b"\x00" if len(d) % 2 else b"")

    body = b"WAVE" + chunk(b"fmt ", bytes(8)) + chunk(b"data", codes)
    with pytest.raises(ValueError, match="malformed fmt"):
        _row(b"RIFF" + struct.pack("<I", len(body)) + body)
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE" + chunk(b"fmt ", fmt) + chunk(b"fact", b"\x02")
        + chunk(b"data", codes)
    )
    with pytest.raises(ValueError, match="malformed fact"):
        _row(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_chunk_past_riff_end_rejected():
    """A chunk whose payload overruns the declared RIFF extent must be
    rejected even when the bytes physically exist (review-found: the
    AVI walk enforced this but the WAV walks did not)."""
    good = _wav(1, bytes([0xFF, 0x80, 0x40, 0x20]))
    bad = bytearray(good)
    # shrink the declared RIFF size so the data chunk pokes past it
    (riff,) = struct.unpack("<I", good[4:8])
    bad[4:8] = struct.pack("<I", riff - 3)
    with pytest.raises(ValueError, match="RIFF end"):
        _row(bytes(bad))


def test_missing_fact_is_tolerated():
    """fact is required by the spec for compressed formats, but the
    parser treats it as validate-if-present (real files vary)."""
    out = _row(_wav(1, bytes([0xFF, 0x80]), with_fact=False))
    assert out.n_frames == 2
    assert out.peak == 32124


def test_odd_data_chunk_keeps_walker_aligned():
    """An odd-length data chunk carries a RIFF pad byte; a chunk after
    it must still be reachable (encoder emits fact BEFORE data, so
    craft the reversed order here)."""
    codes = bytes([0xFF, 0xFF, 0x80])  # 3 bytes -> padded

    def chunk(t: bytes, d: bytes) -> bytes:
        return t + struct.pack("<I", len(d)) + d + (b"\x00" if len(d) % 2 else b"")

    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE"
        + chunk(b"data", codes)
        + chunk(b"fmt ", fmt)
        + chunk(b"fact", struct.pack("<I", 3))
    )
    out = _row(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert out.n_frames == 3
    assert out.peak == 32124


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(decode_audio_mulaw)
    (out,) = kernel([pd.DataFrame({"doc_id": [], "payload": []})])
    assert len(out) == 0
    assert list(out.columns) == [
        "doc_id",
        "sample_rate",
        "channels",
        "n_frames",
        "mean_milli",
        "peak",
        "trough",
    ]


def test_fmt_chunk_is_18_byte_non_pcm_variant():
    """Non-PCM format tags require the 18-byte fmt variant
    (cbSize=0 extension field); strict third-party parsers reject a bare
    16-byte fmt for tag 7. Walk the emitted RIFF and pin it."""
    blob = encode(0, b"hi")
    pos, end = 12, 8 + struct.unpack("<I", blob[4:8])[0]
    fmt = None
    while pos + 8 <= end:
        ctype = blob[pos : pos + 4]
        (length,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        if ctype == b"fmt ":
            fmt = blob[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length % 2)
    assert fmt is not None and len(fmt) == 18
    (cb_size,) = struct.unpack("<H", fmt[16:18])
    assert cb_size == 0
