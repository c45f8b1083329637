"""RFC 1952 gzip container: kernel round trip, third-party interop vs
stdlib ``gzip``/``zlib.gzip`` in both directions, the concatenated-
multistream semantics, and the rejection contract.
"""

from __future__ import annotations

import gzip as _gzip
import io
import struct
import zlib

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import (
    GZIP_HEAD_BYTES,
    _gzip_codec,
    gzip_member_stats,
)

encode, decode = _gzip_codec()


def _members(blob: bytes) -> pd.DataFrame:
    return pd.DataFrame(
        decode(blob), columns=["member_idx", "name", "n_bytes", "sum_bytes"]
    )


def test_roundtrip_two_members_and_stats():
    payloads = [b"gzip me please", b"", bytes(range(200))]
    ids = [0, 4, 11]
    for d, p in zip(ids, payloads):
        rows = _members(encode(d, p))
        assert list(rows.name) == [f"doc{d}/text.txt", f"doc{d}/head.bin"]
        head = (
            np.resize(np.frombuffer(p, np.uint8), GZIP_HEAD_BYTES)
            if p
            else np.zeros(GZIP_HEAD_BYTES, np.uint8)
        )
        assert list(rows.n_bytes) == [len(p), GZIP_HEAD_BYTES]
        assert list(rows.sum_bytes) == [
            int(np.frombuffer(p, np.uint8).sum()) if p else 0,
            int(head.sum()),
        ]


def test_third_party_gzip_reads_our_streams():
    """stdlib gzip must decompress our concatenated two-member stream to
    text + head (multistream concatenation semantics), despite the
    FEXTRA/FCOMMENT/FHCRC fields on member 1."""
    payload = b"interop payload " * 10
    blob = encode(5, payload)
    head = np.resize(np.frombuffer(payload, np.uint8), GZIP_HEAD_BYTES).tobytes()
    assert _gzip.decompress(blob) == payload + head
    # (stdlib GzipFile does not expose the FNAME field; content equality
    # across both members, including the flagged first header, is the
    # interop that matters)


def test_our_parser_reads_stdlib_written_streams():
    """gzip.compress output (no FNAME) and GzipFile-with-filename output
    both parse with exact stats; concatenation of the two exercises the
    multistream walk on third-party framing."""
    a = b"plain gzip.compress member"
    buf = io.BytesIO()
    with _gzip.GzipFile("third/party.txt", "wb", fileobj=buf, mtime=0) as gf:
        gf.write(b"named member body " * 8)
    blob = _gzip.compress(a) + buf.getvalue()
    out = _members(blob)
    assert list(out.member_idx) == [0, 1]
    assert list(out.name) == ["", "party.txt"]  # GzipFile stores basename
    assert out.n_bytes[0] == len(a)
    assert out.sum_bytes[1] == int(
        np.frombuffer(b"named member body " * 8, np.uint8).sum()
    )


def test_parser_rejections():
    blob = encode(1, b"some payload")

    for bad, msg in [
        (b"", "empty"),
        (b"\x1f\x8c" + blob[2:], "magic"),
        (blob[:1], "truncated gzip header"),
        (blob[:-4], "truncated gzip trailer|ISIZE|CRC32"),
        (blob + b"garbage", "magic|truncated"),
    ]:
        with pytest.raises(ValueError, match=msg):
            _members(bad)

    # reserved flag bits
    b2 = bytearray(blob)
    b2[3] |= 0x80
    with pytest.raises(ValueError, match="reserved"):
        _members(bytes(b2))

    # header CRC mismatch: flip a byte inside the FNAME of member 1
    b3 = bytearray(blob)
    pos = blob.find(b"text.txt")
    b3[pos] ^= 0x01
    with pytest.raises(ValueError, match="header CRC"):
        _members(bytes(b3))

    # trailer CRC32 mismatch on a stdlib-framed member (no FHCRC):
    # corrupting the stored CRC leaves deflate intact
    simple = bytearray(_gzip.compress(b"x" * 64))
    simple[-5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32"):
        _members(bytes(simple))


def test_bomb_guard_caps_inflated_size():
    """A tiny deflate stream inflating past the cap must be rejected at
    the bound, not after allocating the whole expansion."""
    big = zlib.compressobj(9, zlib.DEFLATED, -15)
    body = big.compress(b"\x00" * ((1 << 24) + 512)) + big.flush()
    blob = (
        struct.pack("<BBBBIBB", 0x1F, 0x8B, 8, 0, 0, 0, 255)
        + body
        + struct.pack("<II", zlib.crc32(b"\x00" * ((1 << 24) + 512)), (1 << 24) + 512)
    )
    with pytest.raises(ValueError, match="too large"):
        _members(blob)


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(gzip_member_stats)
    (out,) = kernel([pd.DataFrame({"doc_id": [], "payload": []})])
    assert list(out.columns) == [
        "doc_id", "member_idx", "name", "n_bytes", "sum_bytes",
    ]
    assert len(out) == 0
