"""POSIX ustar shard codec (codecs.tar_shard_members), driven directly
through the production per-row functions — no Spark session needed.

Uniquely among the container formats, a third-party reader EXISTS in
this environment (stdlib tarfile), so the writer is validated against
it — not just against our own parser. The parser itself must verify
header checksums and the end-of-archive marker. Spark-level oracle
parity runs in the driver gate.
"""

from __future__ import annotations

import io
import tarfile

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import (
    TAR_HEAD_BYTES,
    _tar_codec,
    tar_shard_members,
)

encode, decode = _tar_codec()


def _members(blob: bytes) -> pd.DataFrame:
    return pd.DataFrame(
        decode(blob), columns=["member_idx", "name", "n_bytes", "sum_bytes"]
    )


def test_stdlib_tarfile_reads_our_shards():
    """Third-party interop: the stdlib tar reader must accept the
    writer's output byte-for-byte (names, sizes, contents)."""
    for row_id, payload in ((5, b"interop check"), (6, b"")):
        blob = encode(row_id, payload)
        tf = tarfile.open(fileobj=io.BytesIO(blob))
        names = tf.getnames()
        assert names == [
            f"doc{row_id}/text.txt",
            f"doc{row_id}/head.bin",
            f"doc{row_id}/meta.txt",
        ]
        assert tf.extractfile(names[0]).read() == payload
        assert tf.extractfile(names[2]).read() == str(row_id).encode()
        head = tf.extractfile(names[1]).read()
        assert len(head) == TAR_HEAD_BYTES


def test_member_stats_match_formulas():
    payload = bytes(range(200))
    out = _members(encode(42, payload))
    t = np.frombuffer(payload, np.uint8).astype(np.int64)
    head = np.resize(t, TAR_HEAD_BYTES)
    assert list(out.n_bytes) == [200, TAR_HEAD_BYTES, 2]
    assert list(out.sum_bytes) == [
        int(t.sum()),
        int(head.sum()),
        ord("4") + ord("2"),
    ]


def test_checksum_verification():
    """Corrupting one header byte must fail the checksum, not silently
    parse."""
    blob = bytearray(encode(1, b"abc"))
    blob[0] ^= 0x01  # first byte of the first member name
    with pytest.raises(ValueError, match="checksum mismatch"):
        _members(bytes(blob))


def test_end_marker_and_truncation():
    good = encode(1, b"abc")
    with pytest.raises(ValueError, match="truncated tar"):
        _members(good[:700])
    # drop the second end block
    with pytest.raises(ValueError, match="second end block"):
        _members(good[:-512])
    # non-ustar magic
    bad = bytearray(good)
    bad[257:263] = b"gnutar"
    with pytest.raises(ValueError, match="not a ustar"):
        _members(bytes(bad))


def test_stdlib_written_tar_is_accepted():
    """The parser must also read archives produced by the stdlib
    writer (ustar format), not just its own twin."""
    buf = io.BytesIO()
    tf = tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT)
    data = b"from the stdlib writer"
    info = tarfile.TarInfo("doc9/text.txt")
    info.size = len(data)
    info.mtime = 0
    tf.addfile(info, io.BytesIO(data))
    tf.close()
    out = _members(buf.getvalue())
    assert list(out.name) == ["doc9/text.txt"]
    assert out.n_bytes[0] == len(data)
    assert out.sum_bytes[0] == sum(data)


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(tar_shard_members)
    (out,) = kernel([pd.DataFrame({"doc_id": [], "payload": []})])
    assert len(out) == 0
    assert list(out.columns) == [
        "doc_id",
        "member_idx",
        "name",
        "n_bytes",
        "sum_bytes",
    ]
