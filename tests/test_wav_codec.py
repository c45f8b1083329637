"""RIFF/PCM WAV codec (multimodal.decode_audio_wav), driven directly
through the production per-row functions — no Spark session needed.

The decoder must be a REAL RIFF parser: word-aligned chunk traversal
(odd chunks carry a pad byte — the encoder plants an odd LIST chunk to
catch desync), fmt validation, and exact int16 sample statistics.
Spark-level oracle parity runs in the driver gate.
"""

from __future__ import annotations

import io
import struct
import wave
from collections import namedtuple

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.multimodal import (
    _wav_codec,
    decode_audio_wav,
)

encode, decode = _wav_codec()
Row = namedtuple("Row", "sample_rate channels n_frames mean_milli peak")


def _row(blob: bytes) -> Row:
    [row] = decode(blob)
    return Row(*row)


def _wav(ch: int, rate: int, samples: np.ndarray, extra: bytes = b"") -> bytes:
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    data = samples.astype("<i2").tobytes()

    def chunk(t: bytes, d: bytes) -> bytes:
        return t + struct.pack("<I", len(d)) + d + (b"\x00" if len(d) % 2 else b"")

    body = b"WAVE" + chunk(b"fmt ", fmt) + extra + chunk(b"data", data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_roundtrip_inverts_encoder():
    # doc 1: ch=1+1%2=2, rate=8000*(1+1%3)=16000, frames=40+1%30=41
    row = _row(encode(1, b"xyz"))
    assert (row.sample_rate, row.channels, row.n_frames) == (16000, 2, 41)
    b = np.resize(np.frombuffer(b"xyz", np.uint8), 41 * 2).astype(np.int64)
    s = (b - 128) * 256
    tot = int(s.sum()) * 1000
    want_mean = -(abs(tot) // s.size) if tot < 0 else tot // s.size
    assert (row.mean_milli, row.peak) == (want_mean, int(s.max()))
    # doc 2 (empty text): zero bytes -> every sample is (0-128)*256
    row = _row(encode(2, b""))
    assert (row.sample_rate, row.channels, row.n_frames) == (24000, 1, 42)
    assert (row.mean_milli, row.peak) == (-32768 * 1000, -32768)


def test_word_aligned_chunk_traversal():
    """An odd-length ancillary chunk before data must not desync the
    walker — RIFF pads chunks to word boundaries."""
    s = np.array([100, -200, 300, -400], dtype=np.int64)
    odd = b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"  # 3-byte chunk + pad
    out = _row(_wav(1, 8000, s, extra=odd))
    assert out.n_frames == 4
    assert out.peak == 300


def test_kernel_matches_stdlib_wave_module():
    """The stdlib ``wave`` module is an independent RIFF parser: on every
    encoded payload it must read the same shape and samples as ours."""
    rng = np.random.default_rng(7)
    ids = list(range(60))  # every (channels, rate, frames) combination
    payloads = [
        rng.integers(0, 256, size=int(rng.integers(0, 80)), dtype=np.uint8)
        .tobytes()
        for _ in ids
    ]
    for doc_id, payload in zip(ids, payloads):
        blob = encode(doc_id, payload)
        row = _row(blob)
        with wave.open(io.BytesIO(blob)) as w:
            assert w.getsampwidth() == 2
            shape = (w.getframerate(), w.getnchannels(), w.getnframes())
            s = np.frombuffer(w.readframes(w.getnframes()), "<i2")
        s = s.astype(np.int64)
        tot = int(s.sum()) * 1000
        mean = -(abs(tot) // s.size) if tot < 0 else tot // s.size
        assert (row.sample_rate, row.channels, row.n_frames) == shape
        assert (row.mean_milli, row.peak) == (mean, int(s.max()))


def test_negative_mean_truncates_toward_zero():
    """DuckDB's integer // truncates toward zero; the kernel must match
    or every negative-mean doc hash-mismatches the oracle."""
    s = np.array([-3, -4], dtype=np.int64)  # sum=-7, *1000 // 2
    out = _row(_wav(1, 8000, s))
    assert out.mean_milli == -3500
    s = np.array([-7, 0], dtype=np.int64)  # -7000/2 = -3500 exact
    out = _row(_wav(1, 8000, s))
    assert out.mean_milli == -3500
    s = np.array([-7, -7, -7], dtype=np.int64)  # -21000/3 = -7000
    out = _row(_wav(1, 8000, s))
    assert out.mean_milli == -7000
    s = np.array([-1, 0, 0], dtype=np.int64)  # -1000/3 -> -333 (not -334)
    out = _row(_wav(1, 8000, s))
    assert out.mean_milli == -333


def test_parser_rejects_invalid_input():
    s = np.zeros(4, dtype=np.int64)
    good = _wav(2, 8000, s)
    with pytest.raises(ValueError, match="not a RIFF/WAVE"):
        _row(b"OggS" + good[4:])
    with pytest.raises(ValueError, match="not a RIFF/WAVE"):
        _row(good[:8] + b"AVI " + good[12:])
    with pytest.raises(ValueError, match="truncated WAV"):
        _row(good[:-4])  # RIFF size now points past end
    # non-PCM format tag
    bad_fmt = bytearray(good)
    bad_fmt[20] = 3  # IEEE float tag
    with pytest.raises(ValueError, match="unsupported WAV"):
        _row(bytes(bad_fmt))
    # data length not a multiple of block align (stereo, 1.5 frames)
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 6) + bytes(6)
    )
    broken = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="block align"):
        _row(broken)


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(decode_audio_wav)
    (out,) = kernel([pd.DataFrame({"doc_id": [], "payload": []})])
    assert len(out) == 0
    assert list(out.columns) == [
        "doc_id",
        "sample_rate",
        "channels",
        "n_frames",
        "mean_milli",
        "peak",
    ]
