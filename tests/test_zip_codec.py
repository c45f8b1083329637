"""PKZIP shard container: kernel-level round trip, third-party interop
against stdlib ``zipfile`` in BOTH directions (the second container
beside tar with an independent implementation in this environment), and
the rejection/bomb-guard contract.
"""

from __future__ import annotations

import io
import struct
import zipfile

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import (
    ZIP_HEAD_BYTES,
    _zip_codec,
    zip_shard_members,
)

encode, decode = _zip_codec()


def _members(blob: bytes) -> pd.DataFrame:
    return pd.DataFrame(
        decode(blob), columns=["member_idx", "name", "n_bytes", "sum_bytes"]
    )


def test_roundtrip_members_and_stats():
    payloads = [b"hello zip world", b"", bytes(range(256))]
    ids = [0, 3, 9]
    for d, p in zip(ids, payloads):
        rows = _members(encode(d, p))
        assert list(rows.name) == [
            f"doc{d}/text.txt", f"doc{d}/head.bin", f"doc{d}/meta.txt",
        ]
        head = (
            np.resize(np.frombuffer(p, np.uint8), ZIP_HEAD_BYTES)
            if p
            else np.zeros(ZIP_HEAD_BYTES, np.uint8)
        )
        assert list(rows.n_bytes) == [len(p), ZIP_HEAD_BYTES, len(str(d))]
        assert list(rows.sum_bytes) == [
            int(np.frombuffer(p, np.uint8).sum()) if p else 0,
            int(head.sum()),
            sum(ord(c) for c in str(d)),
        ]


def test_third_party_zipfile_reads_our_archives():
    """stdlib zipfile must open our shards, pass its CRC check, and
    return byte-identical member contents — including the DEFLATED
    text member and the local-extra-field trap on head.bin."""
    payload = b"the quick brown fox " * 20
    blob = encode(7, payload)
    with zipfile.ZipFile(io.BytesIO(blob)) as zf:
        assert zf.testzip() is None  # all CRCs good
        assert zf.comment == b"smrr-zip"
        infos = zf.infolist()
        assert [i.filename for i in infos] == [
            "doc7/text.txt", "doc7/head.bin", "doc7/meta.txt",
        ]
        assert infos[0].compress_type == zipfile.ZIP_DEFLATED
        assert infos[0].compress_size < infos[0].file_size  # actually compressed
        assert zf.read("doc7/text.txt") == payload
        assert zf.read("doc7/head.bin") == payload[:ZIP_HEAD_BYTES]
        assert zf.read("doc7/meta.txt") == b"7"


def test_our_parser_reads_zipfile_written_archives():
    """The reverse direction: archives written by stdlib zipfile (both
    methods, with an archive comment) parse through our kernel with
    exact stats."""
    buf = io.BytesIO()
    a = b"stored member"
    b = b"deflate me " * 50
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            zipfile.ZipInfo("a.bin"), a, compress_type=zipfile.ZIP_STORED
        )
        zf.writestr(
            zipfile.ZipInfo("b.txt"), b, compress_type=zipfile.ZIP_DEFLATED
        )
        zf.comment = b"third party"
    out = _members(buf.getvalue())
    assert list(out.name) == ["a.bin", "b.txt"]
    assert list(out.n_bytes) == [len(a), len(b)]
    assert list(out.sum_bytes) == [
        int(np.frombuffer(a, np.uint8).sum()),
        int(np.frombuffer(b, np.uint8).sum()),
    ]


def test_parser_rejections():
    blob = bytearray(encode(1, b"payload bytes here"))

    with pytest.raises(ValueError, match="end-of-central-directory"):
        _members(bytes(blob) + b"trailing garbage")
    with pytest.raises(ValueError, match="end-of-central-directory"):
        _members(b"PK\x03\x04 not really a zip")

    # flip one byte of the deflated text data -> deflate or CRC error
    data_off = bytes(blob).find(b"doc1/text.txt") + len(b"doc1/text.txt")
    corrupt = bytearray(blob)
    corrupt[data_off + 2] ^= 0xFF
    with pytest.raises(ValueError, match="deflate|CRC"):
        _members(bytes(corrupt))

    # truncation inside member data
    eocd = bytes(blob).rfind(b"PK\x05\x06")
    with pytest.raises(ValueError, match="truncated|end-of-central"):
        _members(bytes(blob)[: eocd // 2])

    # encrypted flag set in a central entry
    enc = bytearray(blob)
    cd = bytes(blob).find(b"PK\x01\x02")
    flags_at = cd + 8
    enc[flags_at] |= 0x1
    with pytest.raises(ValueError, match="encrypted"):
        _members(bytes(enc))


def test_bomb_guard_rejects_before_allocating():
    """A central entry declaring a multi-GB uncompressed size must be
    rejected from the declared size alone — no decompression attempt."""
    blob = bytearray(encode(2, b"x" * 100))
    cd = bytes(blob).find(b"PK\x01\x02")
    # central usize field is at offset 24 within the 46-byte header
    struct.pack_into("<I", blob, cd + 24, 1 << 31)
    with pytest.raises(ValueError, match="too large"):
        _members(bytes(blob))


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(zip_shard_members)
    (out,) = kernel([pd.DataFrame({"doc_id": [], "payload": []})])
    assert list(out.columns) == [
        "doc_id", "member_idx", "name", "n_bytes", "sum_bytes",
    ]
    assert len(out) == 0
