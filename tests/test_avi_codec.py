"""RIFF/AVI container codec (codecs.decode_video_avi), driven directly
through the production per-row functions — no Spark session needed.

The decoder must parse the header LISTs and then SEEK to the sampled
frame via the idx1 index, undoing the three DIB transforms (bottom-up
rows, BGR order, 4-byte stride padding). Spark-level oracle parity
runs in the driver gate.
"""

from __future__ import annotations

import struct
from collections import namedtuple

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import (
    _avi_codec,
    decode_video_avi,
)

encode, decode = _avi_codec()
Row = namedtuple(
    "Row",
    "width height n_frames fps frame_idx mean_r_milli mean_g_milli mean_b_milli",
)


def _row(blob: bytes) -> Row:
    [row] = decode(blob)
    return Row(*row)


def _expected(payload: bytes, doc_id: int):
    w, h = 2 + doc_id % 4, 2 + doc_id % 3
    nf, fps = 3 + doc_id % 4, 10 + doc_id % 6
    need = nf * h * w * 3
    t = np.frombuffer(payload, np.uint8)
    logical = (np.resize(t, need) if t.size else np.zeros(need, np.uint8))
    frame = logical.reshape(nf, h, w, 3)[nf // 2].reshape(h * w, 3).astype(np.int64)
    means = frame.sum(axis=0) * 1000 // (w * h)
    return w, h, nf, fps, nf // 2, means


def test_roundtrip_undoes_all_dib_transforms():
    """Round trip over widths 2..5 px — strides 6/9/12/15 hit every
    4-byte padding case; means match the LOGICAL top-down RGB layout,
    so flipped rows / swapped channels / kept padding would all fail."""
    ids = [0, 1, 2, 3]
    payloads = [b"hello world", b"", bytes(range(200)), b"\xff\x01\x02 pad"]
    for d, p in zip(ids, payloads):
        w, h, nf, fps, fi, means = _expected(p, d)
        row = _row(encode(d, p))
        assert (row.width, row.height, row.n_frames, row.fps, row.frame_idx) == (
            w, h, nf, fps, fi,
        )
        assert (row.mean_r_milli, row.mean_g_milli, row.mean_b_milli) == tuple(
            means
        )


def test_channel_order_is_really_undone():
    """A frame that is pure red in the logical layout is stored as BGR
    on disk; a decoder skipping the swap reports blue instead."""
    # one pixel per frame (w=h would be 2.. so hand-check via doc 0:
    # w=2,h=2,nf=3, sampled frame = 1). Build a payload whose frame 1
    # is (255,0,0) everywhere: bytes 12*1..12*2 of the cycle.
    payload = bytes([0, 0, 0] * 4 + [255, 0, 0] * 4 + [9, 9, 9] * 4)
    blob = encode(0, payload)
    out = _row(blob)
    assert out.mean_r_milli == 255000
    assert out.mean_g_milli == 0
    assert out.mean_b_milli == 0
    # and the stored bytes really are BGR bottom-up: the raw movi chunk
    # for frame 1 must START with blue==0,green==0,red==255
    movi = blob.find(b"movi")
    first = blob.find(b"00db", movi)
    second = blob.find(b"00db", first + 4)
    raw = blob[second + 8 : second + 8 + 6]
    assert raw[:3] == bytes([0, 0, 255])  # B, G, R


def test_absolute_idx1_offsets_supported():
    """Both idx1 conventions exist in the wild; rewrite the index to
    absolute file offsets and the decoder must still land."""
    blob = bytearray(encode(3, b"some video payload"))
    movi_tag = bytes(blob).find(b"movi")
    idx_at = bytes(blob).find(b"idx1")
    (idx_len,) = struct.unpack("<I", blob[idx_at + 4 : idx_at + 8])
    for e in range(idx_len // 16):
        at = idx_at + 8 + 16 * e + 8
        (off,) = struct.unpack("<I", blob[at : at + 4])
        blob[at : at + 4] = struct.pack("<I", off + movi_tag)
    out = _row(bytes(blob))
    w, h, nf, fps, fi, means = _expected(b"some video payload", 3)
    assert (out.width, out.n_frames, out.frame_idx) == (w, nf, fi)
    assert out.mean_r_milli == means[0]


def test_parser_rejects_invalid_input():
    good = encode(1, b"abc")
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        _row(good[:8] + b"WAVE" + good[12:])
    with pytest.raises(ValueError, match="truncated AVI"):
        _row(good[:-20])
    # 8-bit DIB (biBitCount byte inside strf)
    strf_at = good.find(b"strf")
    bad = bytearray(good)
    bad[strf_at + 8 + 14] = 8
    with pytest.raises(ValueError, match="want 24-bit BI_RGB"):
        _row(bytes(bad))
    # top-down DIB (negative biHeight)
    bad = bytearray(good)
    (bih,) = struct.unpack("<i", good[strf_at + 8 + 8 : strf_at + 8 + 12])
    bad[strf_at + 8 + 8 : strf_at + 8 + 12] = struct.pack("<i", -bih)
    with pytest.raises(ValueError, match="top-down DIB"):
        _row(bytes(bad))
    # idx1 entry count disagreeing with avih frame count
    idx_at = good.find(b"idx1")
    bad = bytearray(good)
    (ln,) = struct.unpack("<I", good[idx_at + 4 : idx_at + 8])
    # claim one fewer frame in avih
    avih_at = good.find(b"avih")
    (nf,) = struct.unpack("<I", good[avih_at + 8 + 16 : avih_at + 8 + 20])
    bad[avih_at + 8 + 16 : avih_at + 8 + 20] = struct.pack("<I", nf - 1)
    with pytest.raises(ValueError, match="idx1 length disagrees"):
        _row(bytes(bad))
    # index offset pointing into garbage
    bad = bytearray(good)
    target = (nf // 2) * 16
    bad[idx_at + 8 + target + 8 : idx_at + 8 + target + 12] = struct.pack(
        "<I", 2
    )
    with pytest.raises(ValueError, match="does not land on a chunk"):
        _row(bytes(bad))


def test_short_header_chunks_raise_value_error():
    """avih/strh/strf shorter than their fixed layouts must raise
    ValueError, not struct.error (review-found)."""
    good = encode(1, b"abc")
    avih_at = good.find(b"avih")
    bad = bytearray(good)
    # shrink avih to 8 bytes and turn its tail into a JUNK chunk so the
    # sub-walk stays aligned: avih(8+8) + JUNK(8+40) == avih(8+56)
    bad[avih_at + 4 : avih_at + 8] = struct.pack("<I", 8)
    bad[avih_at + 16 : avih_at + 24] = b"JUNK" + struct.pack("<I", 40)
    with pytest.raises(ValueError, match="malformed AVI header"):
        _row(bytes(bad))


def test_junk_chunk_word_alignment():
    """The encoder plants an odd-length JUNK chunk between hdrl and
    movi; if the walker forgot RIFF pad bytes it would desync and miss
    movi entirely — so a successful parse IS the assertion. Verify the
    chunk really is odd-length."""
    blob = encode(2, b"zz")
    at = blob.find(b"JUNK")
    (ln,) = struct.unpack("<I", blob[at + 4 : at + 8])
    assert ln % 2 == 1
    out = _row(blob)
    assert out.n_frames == 5


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(decode_video_avi)
    (out,) = kernel([pd.DataFrame({"doc_id": [], "payload": []})])
    assert len(out) == 0
    assert list(out.columns) == [
        "doc_id",
        "width",
        "height",
        "n_frames",
        "fps",
        "frame_idx",
        "mean_r_milli",
        "mean_g_milli",
        "mean_b_milli",
    ]
