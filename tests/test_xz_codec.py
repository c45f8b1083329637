"""xz container (tukaani .xz spec): kernel round trip, third-party
interop vs stdlib ``lzma`` in both directions (including liblzma's
CRC64 default check and SHA-256), footer-first index access,
concatenated streams with stream padding, and the rejection contract.
"""

from __future__ import annotations

import lzma
import struct
import zlib

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import (
    XZ_HEAD_BYTES,
    _xz_codec,
    xz_block_stats,
)

encode, decode = _xz_codec()


def _blocks(blob: bytes) -> pd.DataFrame:
    return pd.DataFrame(decode(blob), columns=["block_idx", "n_bytes", "sum_bytes"])


def test_roundtrip_two_blocks_and_stats():
    payloads = [b"xz me please", b"", bytes(range(200))]
    ids = [0, 4, 11]
    for d, p in zip(ids, payloads):
        rows = _blocks(encode(d, p))
        assert list(rows.block_idx) == [0, 1]
        head = (
            np.resize(np.frombuffer(p, np.uint8), XZ_HEAD_BYTES)
            if p
            else np.zeros(XZ_HEAD_BYTES, np.uint8)
        )
        assert list(rows.n_bytes) == [len(p), XZ_HEAD_BYTES]
        assert list(rows.sum_bytes) == [
            int(np.frombuffer(p, np.uint8).sum()) if p else 0,
            int(head.sum()),
        ]


def test_third_party_lzma_reads_our_streams():
    """stdlib lzma must decompress our hand-assembled two-block stream
    to text + head — liblzma validating every container byte we wrote
    (stream header, block headers, index, footer)."""
    payload = b"interop payload " * 10
    blob = encode(5, payload)
    head = np.resize(np.frombuffer(payload, np.uint8), XZ_HEAD_BYTES).tobytes()
    assert lzma.decompress(blob) == payload + head


def test_our_parser_reads_stdlib_streams_all_check_types():
    """liblzma-written single-block streams parse with exact stats under
    each check type: CRC32, the CRC64 default (our table-driven
    CRC-64/XZ), SHA-256, and none."""
    data = b"third party xz body " * 16
    for check in (
        lzma.CHECK_CRC32,
        lzma.CHECK_CRC64,
        lzma.CHECK_SHA256,
        lzma.CHECK_NONE,
    ):
        blob = lzma.compress(data, check=check)
        out = _blocks(blob)
        assert list(out.block_idx) == [0]
        assert out.n_bytes[0] == len(data)
        assert out.sum_bytes[0] == int(np.frombuffer(data, np.uint8).sum())


def test_concatenated_streams_with_stream_padding():
    """Two streams separated by 4-byte-aligned zero padding enumerate in
    forward order (spec §2.2); misaligned padding is rejected."""
    a, b = b"first stream", b"second stream!"
    blob = lzma.compress(a) + b"\x00" * 8 + lzma.compress(b)
    out = _blocks(blob)
    assert list(out.n_bytes) == [len(a), len(b)]
    with pytest.raises(ValueError, match="footer magic"):
        _blocks(lzma.compress(a) + b"\x00" * 3 + lzma.compress(b))


def test_index_drives_block_positions():
    """Tampering with an index record (without touching block bytes)
    must be caught — first by the index CRC, then, when the CRC is
    recomputed to match, by the per-block verification. Proves the
    parser really reads positions from the index, not by scanning."""
    blob = bytearray(encode(3, b"position me " * 20))
    # locate index: footer backward-size points at it
    (bw,) = struct.unpack("<I", bytes(blob[-8:-4]))
    idx_size = (bw + 1) * 4
    idx_start = len(blob) - 12 - idx_size
    assert blob[idx_start] == 0  # index indicator
    # count=2, first record's unpadded-size varint starts at idx_start+2
    blob[idx_start + 2] ^= 0x01
    with pytest.raises(ValueError, match="index CRC"):
        _blocks(bytes(blob))
    # recompute the index CRC so the corrupted record is "valid"
    body = bytes(blob[idx_start : idx_start + idx_size - 4])
    blob[idx_start + idx_size - 4 : idx_start + idx_size] = struct.pack(
        "<I", zlib.crc32(body)
    )
    with pytest.raises(ValueError):
        _blocks(bytes(blob))


def test_parser_rejections():
    blob = encode(1, b"some payload")

    for bad, msg in [
        (b"", "empty"),
        (blob[:-2] + b"ZZ", "footer magic"),
        (blob[:10], "stream too short|footer"),
        (blob[:-4], "footer"),
        (b"\xfd8zXZ\x00" + blob[6:], "stream header magic"),
    ]:
        with pytest.raises(ValueError, match=msg):
            _blocks(bad)

    # flip a block-header byte: its CRC32 must catch it
    b2 = bytearray(blob)
    b2[13] ^= 0x10  # inside first block header (stream header is 12 bytes)
    with pytest.raises(ValueError, match="block header CRC|reserved"):
        _blocks(bytes(b2))

    # flip one compressed byte: LZMA2 or the CRC32 check must catch it
    b3 = bytearray(blob)
    b3[30] ^= 0x01
    with pytest.raises(ValueError):
        _blocks(bytes(b3))


def test_oversized_props_varint_rejected_not_indexerror():
    """A header whose props-size varint reaches into the padding/CRC
    region (header CRC recomputed so the author-controlled CRC check
    passes) must raise ValueError, not IndexError (review-found: an
    empty props slice used to hit props[0])."""
    blob = bytearray(encode(2, b"guard me " * 8))
    # first block header starts after the 12-byte stream header
    hsz = (blob[12] + 1) * 4
    hdr = bytearray(blob[12 : 12 + hsz])
    # layout for block 0 (no size fields): [size][flags][fid][psz][props]...
    assert hdr[3] == 0x01  # props size varint
    hdr[3] = 0x20  # claim 32 props bytes — runs past the header
    hdr[-4:] = struct.pack("<I", zlib.crc32(bytes(hdr[:-4])))
    blob[12 : 12 + hsz] = hdr
    with pytest.raises(ValueError, match="props length"):
        _blocks(bytes(blob))


def test_bomb_guard_caps_inflated_size():
    """A tiny LZMA2 stream inflating past the cap is rejected at the
    bound, not after allocating the whole expansion."""
    big = lzma.compress(b"\x00" * ((1 << 24) + 512))
    with pytest.raises(ValueError, match="too large"):
        _blocks(big)


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(xz_block_stats)
    (out,) = kernel([pd.DataFrame({"doc_id": [], "payload": []})])
    assert list(out.columns) == ["doc_id", "block_idx", "n_bytes", "sum_bytes"]
    assert len(out) == 0
