"""Property-based round-trip tests for the six stdlib-real codecs
(P6, PNG, WAV, JPEG, mu-law, AVI): for ARBITRARY payload bytes and
doc_ids, encode → decode must reproduce exactly the features computed
straight from the payload + the per-doc shape formulas. Pure-kernel
(no Spark session); Hypothesis drives the byte-level edge cases the
fixed tests can't enumerate (Paeth ties, filter wraparound, odd chunk
sizes, all-0x00 / all-0xFF rasters, negative PCM/mu-law means, DC
diffs at every magnitude category, 0xFF-heavy entropy streams that
stress byte stuffing)."""

from __future__ import annotations

from collections import namedtuple

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from simple_map_reduce_ruuner_spark.operators.codecs import (
    _avi_codec,
    _gif_codec,
    _jpeg_codec,
    _mulaw_codec,
    _tga_codec,
)
from simple_map_reduce_ruuner_spark.operators.multimodal import (
    _png_codec,
    _ppm_codec,
    _wav_codec,
)

payloads = st.binary(min_size=0, max_size=300)
doc_ids = st.integers(min_value=0, max_value=10**9)


MEANS = "mean_r_milli mean_g_milli mean_b_milli"
RGB = "width height " + MEANS


def _roundtrip(codec, fields: str, doc_id, payload):
    """decode(encode(doc_id, payload)) — one row, named by `fields`."""
    encode, decode = codec()
    [row] = decode(encode(doc_id, payload))
    return namedtuple("Row", fields)(*row)


def _cycled(payload: bytes, n: int) -> np.ndarray:
    t = np.frombuffer(payload, dtype=np.uint8)
    return np.resize(t, n) if t.size else np.zeros(n, dtype=np.uint8)


@settings(max_examples=60, deadline=None)
@given(doc_id=doc_ids, payload=payloads)
def test_ppm_roundtrip_property(doc_id, payload):
    w, h = 4 + doc_id % 5, 3 + doc_id % 7
    row = _roundtrip(_ppm_codec, RGB, doc_id, payload)
    px = _cycled(payload, w * h * 3).reshape(w * h, 3)
    want = px.sum(axis=0, dtype=np.int64) * 1000 // (w * h)
    assert (row.width, row.height) == (w, h)
    assert (row.mean_r_milli, row.mean_g_milli, row.mean_b_milli) == tuple(want)


@settings(max_examples=60, deadline=None)
@given(doc_id=doc_ids, payload=payloads)
def test_png_roundtrip_property(doc_id, payload):
    w, h = 2 + doc_id % 6, 2 + doc_id % 5
    row = _roundtrip(_png_codec, RGB, doc_id, payload)
    px = _cycled(payload, w * h * 3).reshape(w * h, 3)
    want = px.sum(axis=0, dtype=np.int64) * 1000 // (w * h)
    assert (row.width, row.height) == (w, h)
    assert (row.mean_r_milli, row.mean_g_milli, row.mean_b_milli) == tuple(want)


@settings(max_examples=60, deadline=None)
@given(doc_id=doc_ids, payload=payloads)
def test_wav_roundtrip_property(doc_id, payload):
    ch = 1 + doc_id % 2
    rate = 8000 * (1 + doc_id % 3)
    frames = 40 + doc_id % 30
    row = _roundtrip(_wav_codec, "sample_rate channels n_frames mean_milli peak", doc_id, payload)
    s = (_cycled(payload, frames * ch).astype(np.int64) - 128) * 256
    tot = int(s.sum()) * 1000
    mean = -(abs(tot) // s.size) if tot < 0 else tot // s.size
    assert (row.sample_rate, row.channels, row.n_frames) == (rate, ch, frames)
    assert (row.mean_milli, row.peak) == (mean, int(s.max()))


@settings(max_examples=60, deadline=None)
@given(doc_id=doc_ids, payload=payloads)
def test_jpeg_roundtrip_property(doc_id, payload):
    """DC-only constant blocks + unit quant: the T.81 entropy pipeline
    (Huffman, stuffing, restarts) must be a lossless identity on the
    block values — for EVERY payload, including 0xFF runs that force
    maximal byte stuffing and values crossing each DC category."""
    bw, bh = 1 + doc_id % 4, 1 + doc_id % 3
    row = _roundtrip(_jpeg_codec, "width height mean_gray_milli max_gray min_gray", doc_id, payload)
    vals = _cycled(payload, bw * bh).astype(np.int64)
    assert (row.width, row.height) == (8 * bw, 8 * bh)
    assert row.mean_gray_milli == int(vals.sum()) * 1000 // (bw * bh)
    assert (row.max_gray, row.min_gray) == (int(vals.max()), int(vals.min()))


def _mulaw_expand(codes: np.ndarray) -> np.ndarray:
    u = 255 - codes.astype(np.int64)
    t = ((u & 15) * 8 + 132) << ((u >> 4) & 7)
    return np.where(u >= 128, 132 - t, t - 132)


@settings(max_examples=60, deadline=None)
@given(doc_id=doc_ids, payload=payloads)
def test_mulaw_roundtrip_property(doc_id, payload):
    ch, frames = 1 + doc_id % 2, 50 + doc_id % 40
    row = _roundtrip(_mulaw_codec, "sample_rate channels n_frames mean_milli peak trough", doc_id, payload)
    s = _mulaw_expand(_cycled(payload, frames * ch))
    tot = int(s.sum()) * 1000
    mean = -(abs(tot) // s.size) if tot < 0 else tot // s.size
    assert (row.sample_rate, row.channels, row.n_frames) == (8000, ch, frames)
    assert (row.mean_milli, row.peak, row.trough) == (
        mean, int(s.max()), int(s.min()),
    )


@settings(max_examples=60, deadline=None)
@given(doc_id=doc_ids, payload=payloads)
def test_avi_roundtrip_property(doc_id, payload):
    """The index-seeked sampled frame must match the LOGICAL top-down
    RGB layout for every stride-padding case (w = 2..5)."""
    w, h = 2 + doc_id % 4, 2 + doc_id % 3
    nf, fps = 3 + doc_id % 4, 10 + doc_id % 6
    row = _roundtrip(_avi_codec, "width height n_frames fps frame_idx " + MEANS, doc_id, payload)
    frame = (
        _cycled(payload, nf * h * w * 3)
        .reshape(nf, h, w, 3)[nf // 2]
        .reshape(h * w, 3)
        .astype(np.int64)
    )
    want = frame.sum(axis=0) * 1000 // (w * h)
    assert (row.width, row.height, row.n_frames, row.fps, row.frame_idx) == (
        w, h, nf, fps, nf // 2,
    )
    assert (row.mean_r_milli, row.mean_g_milli, row.mean_b_milli) == tuple(want)


@settings(max_examples=60, deadline=None)
@given(doc_id=doc_ids, payload=payloads)
def test_gif_roundtrip_property(doc_id, payload):
    """The LZW round trip must be an identity on the index raster for
    every payload — runs (KwKwK), near-random bytes (code-width
    growth), and cycled repeats (deep dictionary chains) alike — and
    the channels must come from the palette, not the indexes."""
    w, h = 16 + doc_id % 17, 12 + doc_id % 13
    row = _roundtrip(_gif_codec, "width height mean_idx_milli " + MEANS, doc_id, payload)
    idx = _cycled(payload, w * h).astype(np.int64)
    assert (row.width, row.height) == (w, h)
    assert row.mean_idx_milli == int(idx.sum()) * 1000 // (w * h)
    r = (idx * 7 + 13) % 256
    assert row.mean_r_milli == int(r.sum()) * 1000 // (w * h)


@settings(max_examples=60, deadline=None)
@given(doc_id=doc_ids, payload=payloads)
def test_tga_roundtrip_property(doc_id, payload):
    """The RLE round trip must be an identity for every payload — runs
    (RLE packets), near-random bytes (raw packets), and the mixed
    boundaries between them — through the bottom-up BGR storage."""
    w, h = 3 + doc_id % 6, 3 + doc_id % 5
    row = _roundtrip(_tga_codec, RGB, doc_id, payload)
    px = _cycled(payload, w * h * 3).reshape(w * h, 3)
    want = px.sum(axis=0, dtype=np.int64) * 1000 // (w * h)
    assert (row.width, row.height) == (w, h)
    assert (row.mean_r_milli, row.mean_g_milli, row.mean_b_milli) == tuple(want)
