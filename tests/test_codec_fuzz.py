"""Mutation fuzzing over the per-row decoders of all thirteen real
codecs: flipping any single byte (or truncating at any point) of a
valid file must either decode cleanly (flips in don't-care or data
regions legitimately change values) or raise ValueError — never
IndexError, KeyError, struct.error, zlib.error, or a numpy shape
error. This is the malformed-input
contract the unit tests pin pointwise, enforced here across the whole
byte surface. Seeded and deterministic.
"""

from __future__ import annotations

import numpy as np
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import (
    _avi_codec,
    _gif_codec,
    _gzip_codec,
    _jpeg_codec,
    _mulaw_codec,
    _sqlite_codec,
    _tar_codec,
    _tga_codec,
    _xz_codec,
    _zip_codec,
)
from simple_map_reduce_ruuner_spark.operators.multimodal import (
    _png_codec,
    _ppm_codec,
    _wav_codec,
)

CODECS = {
    "ppm": _ppm_codec,
    "png": _png_codec,
    "wav": _wav_codec,
    "jpeg": _jpeg_codec,
    "mulaw": _mulaw_codec,
    "avi": _avi_codec,
    "gif": _gif_codec,
    "tga": _tga_codec,
    "tar": _tar_codec,
    "zip": _zip_codec,
    "gzip": _gzip_codec,
    "xz": _xz_codec,
    "sqlite": _sqlite_codec,
}

N_FLIPS = 400
N_TRUNCS = 120


def _valid_blob(codec) -> bytes:
    encode, _ = codec()
    return encode(7, b"fuzz me gently 123")


@pytest.mark.parametrize("name", sorted(CODECS))
def test_single_byte_flips_never_escape_value_error(name):
    _, decode = CODECS[name]()
    blob = _valid_blob(CODECS[name])
    rng = np.random.RandomState(42)
    for _ in range(N_FLIPS):
        pos = int(rng.randint(0, len(blob)))
        val = int(rng.randint(1, 256))
        mutated = bytearray(blob)
        mutated[pos] ^= val
        try:
            decode(bytes(mutated))
        except ValueError:
            pass  # the documented rejection contract
        except Exception as exc:  # noqa: BLE001 — the assertion itself
            raise AssertionError(
                f"{name}: flip at byte {pos} (^{val:#x}) escaped the "
                f"ValueError contract with {type(exc).__name__}: {exc}"
            ) from exc


def test_png_crc_consistent_deflate_corruption():
    """Single flips never reach PNG's inflate stage (per-chunk CRC32
    catches them first), so corrupt the IDAT payload AND recompute the
    CRC: the zlib failure must surface as ValueError, not zlib.error
    (fuzz-found)."""
    import binascii
    import struct

    blob = _valid_blob(_png_codec)
    pos = blob.find(b"IDAT")
    (length,) = struct.unpack(">I", blob[pos - 4 : pos])
    data = bytearray(blob[pos + 4 : pos + 4 + length])
    data[min(3, length - 1)] ^= 0xFF
    crc = binascii.crc32(b"IDAT" + bytes(data))
    mutated = (
        blob[: pos + 4]
        + bytes(data)
        + struct.pack(">I", crc)
        + blob[pos + 4 + length + 4 :]
    )
    with pytest.raises(ValueError, match="corrupt PNG deflate"):
        _png_codec()[1](mutated)


def test_decompression_bombs_rejected_before_allocation():
    """Corrupted headers must not demand multi-GB buffers: JPEG SOF
    dims, GIF LSD dims, and PNG inflate output are all bounded before
    any large allocation (fuzz-found hardening; at fleet scale an
    unbounded decode is an executor OOM vector)."""
    import struct
    import zlib

    # JPEG: rewrite SOF0 dims to 65528 x 65528 (multiples of 8)
    blob = _valid_blob(_jpeg_codec)
    at = blob.find(b"\xff\xc0") + 5
    bad = blob[:at] + struct.pack(">HH", 65528, 65528) + blob[at + 4 :]
    with pytest.raises(ValueError, match="raster too large"):
        _jpeg_codec()[1](bad)

    # GIF: rewrite LSD + descriptor dims to 65535 x 65535
    blob = _valid_blob(_gif_codec)
    big = struct.pack("<HH", 65535, 65535)
    desc = blob.find(b"\x2c", 6 + 7 + 768)
    bad = (
        blob[:6] + big + blob[10 : desc + 5] + big + blob[desc + 9 :]
    )
    with pytest.raises(ValueError, match="raster too large"):
        _gif_codec()[1](bad)

    # PNG: CRC-consistent IDAT that inflates far past the raster size
    blob = _valid_blob(_png_codec)
    import binascii

    bomb = zlib.compress(bytes(1 << 22))  # 4 MiB of zeros, ~4 KB packed
    pos = blob.find(b"IDAT")
    (length,) = struct.unpack(">I", blob[pos - 4 : pos])
    # also drop the second IDAT chunk: splice bomb as the only stream
    end_first = pos + 4 + length + 4
    pos2 = blob.find(b"IDAT", end_first)
    end_second = pos2 + 4 + struct.unpack(">I", blob[pos2 - 4 : pos2])[0] + 4
    crc = binascii.crc32(b"IDAT" + bomb)
    bad = (
        blob[: pos - 4]
        + struct.pack(">I", len(bomb))
        + b"IDAT"
        + bomb
        + struct.pack(">I", crc)
        + blob[end_second:]
    )
    with pytest.raises(ValueError, match="raster size mismatch"):
        _png_codec()[1](bad)


@pytest.mark.parametrize("name", ["wav", "mulaw"])
def test_zero_channel_fmt_rejected(name):
    """A fmt chunk declaring 0 channels with block align 0 passes the
    block-align equality, so the parser must reject it before dividing
    by the block size (a ZeroDivisionError would escape the contract)."""
    _, decode = CODECS[name]()
    blob = bytearray(_valid_blob(CODECS[name]))
    fmt = blob.find(b"fmt ") + 8  # start of the fmt chunk's payload
    blob[fmt + 2 : fmt + 4] = bytes(2)  # channels
    blob[fmt + 12 : fmt + 14] = bytes(2)  # block align
    with pytest.raises(ValueError, match="zero channels"):
        decode(bytes(blob))


@pytest.mark.parametrize("name", sorted(CODECS))
def test_truncations_never_escape_value_error(name):
    _, decode = CODECS[name]()
    blob = _valid_blob(CODECS[name])
    rng = np.random.RandomState(1234)
    cuts = sorted(set(int(c) for c in rng.randint(0, len(blob), N_TRUNCS)))
    for cut in cuts:
        try:
            decode(blob[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(
                f"{name}: truncation at {cut}/{len(blob)} escaped the "
                f"ValueError contract with {type(exc).__name__}: {exc}"
            ) from exc
