"""SQLite file-format reader: C-SQLite-written databases parsed by the
pure-struct kernel — round trip, overflow chains, interior pages,
non-default page sizes, rowid aliasing, and the rejection contract.
(The writer IS the third party here — stdlib sqlite3's C library — so
interop is by construction; these tests drive the reader through the
format features the gate corpus doesn't reach.)"""

from __future__ import annotations

import sqlite3

import numpy as np
import pandas as pd
import pytest

from simple_map_reduce_ruuner_spark.operators.codecs import (
    SQLITE_HEAD_BYTES,
    _sqlite_codec,
    sqlite_table_stats,
)

encode, decode = _sqlite_codec()


def _table_rows(blob: bytes) -> pd.DataFrame:
    return pd.DataFrame(decode(blob), columns=["row_idx", "n_bytes", "sum_bytes"])


def _custom_db(rows, pragmas: list[str] = ()) -> bytes:
    con = sqlite3.connect(":memory:")
    for p in pragmas:
        con.execute(p)
    con.execute("create table docs(id integer primary key, body blob)")
    con.executemany("insert into docs values (?, ?)", rows)
    con.commit()
    return bytes(con.serialize())


def test_roundtrip_two_rows_and_stats():
    payloads = [b"sqlite me please", b"", bytes(range(200))]
    ids = [0, 4, 11]
    for d, p in zip(ids, payloads):
        rows = _table_rows(encode(d, p))
        assert list(rows.row_idx) == [0, 1]
        head = (
            np.resize(np.frombuffer(p, np.uint8), SQLITE_HEAD_BYTES)
            if p
            else np.zeros(SQLITE_HEAD_BYTES, np.uint8)
        )
        assert list(rows.n_bytes) == [len(p), SQLITE_HEAD_BYTES]
        assert list(rows.sum_bytes) == [
            int(np.frombuffer(p, np.uint8).sum()) if p else 0,
            int(head.sum()),
        ]


def test_overflow_chain_assembled():
    """A 100 KB row spans dozens of overflow pages; the parser must
    reassemble it exactly via the spec's K/M inline-size formulas."""
    big = bytes(i % 251 for i in range(100_000))
    blob = _custom_db([(0, big), (1, b"x")])
    out = _table_rows(blob).sort_values("row_idx")
    assert list(out.n_bytes) == [100_000, 1]
    assert out.sum_bytes.iloc[0] == int(
        np.frombuffer(big, np.uint8).sum(dtype=np.int64)
    )


def test_interior_pages_walked():
    """5000 rows force a multi-level table b-tree (interior 0x05 pages)."""
    rows = [(i, (b"row %d " % i) * 20) for i in range(5000)]
    blob = _custom_db(rows)
    out = _table_rows(blob)
    assert len(out) == 5000
    got = dict(zip(out.row_idx, out.n_bytes))
    assert got[4321] == len((b"row 4321 ") * 20)


def test_non_default_page_size():
    """PRAGMA page_size=512 exercises the header's page-size field and
    the per-page usable-size arithmetic."""
    blob = _custom_db(
        [(0, b"tiny pages " * 40), (1, b"y")], pragmas=["pragma page_size=512"]
    )
    out = _table_rows(blob).sort_values("row_idx")
    assert list(out.n_bytes) == [len(b"tiny pages " * 40), 1]


def test_rowid_alias_reconstructed():
    """INTEGER PRIMARY KEY is stored as NULL in the record; row_idx must
    come back as the declared id, including non-contiguous ones."""
    blob = _custom_db([(7, b"seven"), (42, b"forty-two")])
    out = _table_rows(blob).sort_values("row_idx")
    assert list(out.row_idx) == [7, 42]
    assert list(out.n_bytes) == [5, 9]


def test_parser_rejections_and_fuzz():
    blob = bytearray(encode(3, b"fuzz body " * 30))

    with pytest.raises(ValueError, match="magic"):
        _table_rows(b"Not a SQLite file at all" + bytes(blob[24:]))
    with pytest.raises(ValueError, match="magic|truncated|page"):
        _table_rows(bytes(blob[:50]))

    rng = np.random.RandomState(42)
    base = bytes(blob)
    for _ in range(400):
        pos = int(rng.randint(0, len(base)))
        val = int(rng.randint(1, 256))
        mutated = bytearray(base)
        mutated[pos] ^= val
        try:
            _table_rows(bytes(mutated))
        except ValueError:
            pass  # structural rejection (the format has no checksums,
            # so many flips legitimately decode to different values)
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(
                f"flip at {pos} escaped ValueError contract: "
                f"{type(exc).__name__}: {exc}"
            ) from exc
    for _ in range(120):
        cut = int(rng.randint(0, len(base)))
        try:
            _table_rows(base[:cut])
        except ValueError:
            pass
        except Exception as exc:  # noqa: BLE001
            raise AssertionError(
                f"truncation at {cut} escaped ValueError contract: "
                f"{type(exc).__name__}: {exc}"
            ) from exc


def test_empty_batch_yields_typed_empty_frame(codec_kernel):
    kernel, _ = codec_kernel(sqlite_table_stats)
    (out,) = kernel([pd.DataFrame({"doc_id": [], "payload": []})])
    assert list(out.columns) == ["doc_id", "row_idx", "n_bytes", "sum_bytes"]
    assert len(out) == 0
