"""Multimodal-column plumbing (north-star extension).

Pattern for 100 TB multimodal pipelines: media lives as opaque ``binary``
columns with typed metadata alongside; decode / feature-extraction runs
in Arrow-batched Pandas functions so bytes cross the Python boundary in
columnar batches, never row-at-a-time.

The driver tables carry no real media, so the binary column is
synthesized deterministically (UTF-8 payload of the document text).
REAL here: the Spark-side plumbing (binary column handling, metadata
projection, schema/partition behavior) AND full public-format codecs —
:func:`decode_image_ppm` encodes valid binary Netpbm P6 images and
decodes them with an actual header parser (no image library needed, the
format is bytes + arithmetic), :func:`decode_image_png` does the same
for PNG with stdlib zlib (all five scanline filters, CRC-checked chunks,
multi-IDAT reassembly), and :func:`decode_audio_wav` covers the audio
leg with a word-aligned RIFF/PCM parser. Every decoder here and in
operators/codecs.py is pure stdlib/numpy: one kernel per format, no
optional library path.

Every codec is one factory ``_<fmt>_codec()`` returning two per-row
functions, ``encode(doc_id, payload) -> bytes`` and
``decode(blob) -> rows``; its query is one :func:`per_doc` call on
``lambda d, p: decode(encode(d, p))``, so encode and decode share one
Python crossing and the blob never returns to the JVM.

- multimodal_meta     — metadata projection over the binary column
                        (size, sha256 digest, synthetic format tag).
- payload_byte_stats  — per-doc byte statistics computed in Python over
                        the raw bytes, vectorised per Arrow batch; exact
                        DuckDB oracle since the payload is deterministic.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_map_reduce_ruuner_spark.registry import Query
from simple_map_reduce_ruuner_spark.sources.tables import load_table, spread_scan

FORMATS = ("jpeg", "png", "webp")


# Oracle helpers shared by every codec oracle (here and in
# operators/codecs.py): byte j (a 1-based SQL position expression) of
# the hex()-encoded UTF-8 blob `h`, and the cycled variant that wraps a
# 0-based offset expression over the n source bytes (0 for empty docs).
# One site for the two-hex-digit strpos decode — review-found: the
# pattern used to be copy-pasted across every oracle string.
def hex_byte_sql(j: str) -> str:
    """1-based byte at position `j` of hex column h, as an integer."""
    return (
        f"(strpos('0123456789ABCDEF', h[2*({j})-1 : 2*({j})-1]) - 1) * 16"
        f" + (strpos('0123456789ABCDEF', h[2*({j}) : 2*({j})]) - 1)"
    )


def cycled_byte_sql(offset: str) -> str:
    """Byte at 0-based `offset` cycled over the n source bytes."""
    return (
        f"CASE WHEN n = 0 THEN 0 ELSE "
        f"{hex_byte_sql(f'(({offset}) % n) + 1')} END"
    )


def _with_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) for every codec/container kernel.

    spread_scan (guide §2.5, input skew): documents.parquet at test
    scale is ONE file with one row group = one input split, so without
    the repartition every Python kernel downstream — the most
    CPU-expensive Python in the repo — ran as one task on one core
    however many cores the session had (measured on a 32-core session:
    decode_image_gif took 2.3 s wall for ~1.4 s of kernel CPU). Every
    kernel is strictly per-row (each doc encodes to its own
    container/image/stream), so the round-robin split cannot change any
    result; at production scale the scan has thousands of splits and
    spread_scan is a no-op."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), key="doc_id")
    return docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )


def per_doc(
    spark: SparkSession, sf_dir: str, row_fn: Callable, schema: str
) -> DataFrame:
    """One Python crossing over (doc_id, payload): ``row_fn(doc_id,
    payload)`` returns the rows of one document WITHOUT its doc_id,
    which the kernel prepends (``schema`` starts with ``doc_id long``).
    The kernel is the one loop over Arrow batches and the one place
    that builds the output frame; an empty batch yields an empty frame
    with the schema's columns.

    Each codec query passes ``lambda d, p: decode(encode(d, p))``, so
    the encoded blob stays inside the Python worker; two chained Python
    nodes cost one more JVM<->Python round of the whole payload (≈0.27 s
    on the 5,000-doc sf0.1 payload, 4 cores).

    Pickling contract: the kernel and ``row_fn`` are closures that look
    up no package-level name, so cloudpickle ships them by value and
    executors never import this package (their workers do not see the
    driver's sys.path). Module-level functions would be pickled by
    reference instead; that is why each codec is a factory."""
    cols = [field.split()[0] for field in schema.split(",")]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            rows = [
                (doc_id, *row)
                for doc_id, payload in zip(pdf["doc_id"].tolist(), pdf["payload"])
                for row in row_fn(doc_id, bytes(payload))
            ]
            yield pd.DataFrame.from_records(rows, columns=cols)

    return _with_payload(spark, sf_dir).mapInPandas(kernel, schema)


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column — pure JVM projection;
    at scale this is the cheap pass that routes media to decoders."""
    df = _with_payload(spark, sf_dir)
    fmt_idx = (
        F.conv(F.substring(F.sha2(F.col("payload"), 256), 1, 8), 16, 10)
        .cast("long")
        % len(FORMATS)
    )
    fmt = (
        F.when(fmt_idx == 0, FORMATS[0])
        .when(fmt_idx == 1, FORMATS[1])
        .otherwise(FORMATS[2])
    )
    return df.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("sha256"),
        fmt.alias("format"),
    )


MULTIMODAL_META_SQL = """
SELECT doc_id,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha256,
       CASE (('0x' || substr(sha256(text), 1, 8))::BIGINT % 3)
            WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format
FROM documents
"""


def payload_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte statistics computed Python-side over binary payloads.

    This is the decode-shaped path vectorised per Arrow batch instead
    of per row (so it does not go through :func:`per_doc`): the kernel
    touches raw bytes (stand-in for pixel/sample decoding) and emits a
    typed frame. Integer sums keep it exact.
    """
    df = _with_payload(spark, sf_dir)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = pdf["payload"]
            # One np.frombuffer view per payload (zero-copy) and a single
            # concatenated reduction — vectorized, no per-byte Python.
            views = [np.frombuffer(b, dtype=np.uint8) for b in payloads]
            lens = np.fromiter((v.size for v in views), dtype=np.int64, count=len(views))
            if views:
                flat = np.concatenate(views) if lens.sum() else np.empty(0, np.uint8)
                ends = np.cumsum(lens)
                starts = ends - lens
                csum = np.concatenate(([0], np.cumsum(flat, dtype=np.int64)))
                tot = csum[ends] - csum[starts]
                mx = np.array(
                    [int(views[i].max()) if lens[i] else 0 for i in range(len(views))],
                    dtype=np.int64,
                )
            else:
                tot = mx = np.empty(0, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": lens,
                    "sum_bytes": tot,
                    "max_byte": mx,
                }
            )

    out = df.mapInPandas(
        stats, "doc_id long, n_bytes long, sum_bytes long, max_byte long"
    )
    return out.withColumn(
        "mean_byte",
        F.round(
            F.when(F.col("n_bytes") == 0, F.lit(0.0)).otherwise(
                F.col("sum_bytes") / F.col("n_bytes")
            ),
            6,
        ),
    )


# True BYTE stats in the oracle: hex() of the UTF-8 blob, two hex
# digits per byte, decoded via strpos — the old substr/ascii character
# form diverged on non-ASCII text AND on empty docs (string_split('','')
# is [''] in DuckDB → n_bytes=1 where Spark sees 0 bytes; review-found).
PAYLOAD_BYTE_STATS_SQL = f"""
WITH codes AS (
    SELECT doc_id, hex(encode(text)) AS h FROM documents
),
bl AS (
    SELECT doc_id,
           [ {hex_byte_sql("i")}
             for i in range(1, length(h) // 2 + 1) ] AS cs
    FROM codes
),
s AS (
    SELECT doc_id,
           len(cs)::BIGINT AS n_bytes,
           CAST(coalesce(list_sum(cs), 0) AS BIGINT) AS sum_bytes,
           CAST(coalesce(list_max(cs), 0) AS BIGINT) AS max_byte
    FROM bl
)
SELECT doc_id, n_bytes, sum_bytes, max_byte,
       ROUND(CASE WHEN n_bytes = 0 THEN 0.0
                  ELSE sum_bytes * 1.0 / n_bytes END, 6) AS mean_byte
FROM s
"""


IMAGE_RGB_SCHEMA = (
    "doc_id long, width long, height long, "
    "mean_r_milli long, mean_g_milli long, mean_b_milli long"
)


def _ppm_codec():
    """Netpbm P6 codec. encode: ``P6\\n{w} {h}\\n255\\n`` header + w*h*3
    RGB bytes cycling the doc's UTF-8 text (zero-filled for empty docs).
    decode: a REAL Netpbm parser (magic, '#'-comments, whitespace-
    tokenized width/height/maxval, one whitespace byte before the
    raster), then one (width, height, per-channel integer means) row.
    Rejects non-P6 and truncated input."""
    import numpy as np

    def encode(doc_id: int, payload: bytes) -> bytes:
        w, h = 4 + doc_id % 5, 3 + doc_id % 7
        # np.resize cycles the source bytes (all zeros when there are none)
        px = np.resize(np.frombuffer(payload, np.uint8), w * h * 3)
        return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()

    def parse_header(b: bytes) -> tuple[int, int, int, int]:
        """(width, height, maxval, raster_offset) per the Netpbm
        spec: 'P6', then whitespace-separated width/height/maxval
        (with '#'-to-newline comments allowed anywhere whitespace
        is), then exactly one whitespace byte before the raster."""
        if b[:2] != b"P6":
            raise ValueError("not a binary PPM (P6) payload")
        # the magic must be its own token: 'P6123 4 ...' is NOT a
        # valid header with width 123 — require whitespace (or a
        # comment) between the magic and the first field
        if not (b[2:3].isspace() or b[2:3] == b"#"):
            raise ValueError("malformed PPM: no whitespace after magic")
        pos, end, fields = 2, len(b), []
        while len(fields) < 3:
            while pos < end and (
                b[pos : pos + 1].isspace() or b[pos] == 0x23  # '#'
            ):
                if b[pos] == 0x23:  # comment runs to end of line
                    while pos < end and b[pos] != 0x0A:
                        pos += 1
                else:
                    pos += 1
            start = pos
            while pos < end and not b[pos : pos + 1].isspace():
                pos += 1
            if start == pos:
                raise ValueError("truncated PPM header")
            fields.append(int(b[start:pos]))
        return fields[0], fields[1], fields[2], pos + 1

    def decode(b: bytes) -> list[tuple]:
        w, h, maxval, off = parse_header(b)
        if maxval != 255:
            raise ValueError("8-bit raster expected")
        px = np.frombuffer(b, dtype=np.uint8, offset=off, count=h * w * 3)
        means = px.reshape(h * w, 3).sum(axis=0, dtype=np.int64) * 1000 // (w * h)
        return [(w, h, *means.tolist())]

    return encode, decode


def decode_image_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-codec round trip over a public format: encode each doc
    as a valid binary Netpbm P6 (PPM) image, then decode it with an
    actual header parser — no synthetic pixel shortcut on the decode
    side.

    Encode: ``P6\\n{w} {h}\\n255\\n`` header + w*h*3 RGB bytes, pixels
    drawn by cycling the doc's UTF-8 text bytes (zero-filled for empty
    docs). Dimensions vary per doc (w = 4 + doc_id % 5,
    h = 3 + doc_id % 7) so the decoder must genuinely parse the header
    — a fixed-size crop could fake it.

    Decode: _ppm_codec's spec parser, then per-channel integer means.
    The DuckDB oracle recomputes the features straight from the text
    bytes and the dimension formula — agreement proves the
    encode->parse->extract round trip is lossless.
    """
    encode, decode = _ppm_codec()
    return per_doc(
        spark, sf_dir, lambda d, p: decode(encode(d, p)), IMAGE_RGB_SCHEMA
    )


# Oracle: recompute the features straight from the text BYTES (hex() of
# the UTF-8 blob, two hex digits per byte — character indexing would
# diverge on non-ASCII) and the dimension formula; byte i of the raster
# cycles the n source bytes via ((i-1) % n) + 1. Shared template: the
# PPM and PNG round trips differ only in their per-doc dimension
# formulas (and the container format, which the oracle never sees — a
# hash match therefore proves each codec's encode->parse->extract trip
# is lossless against the SAME ground truth).
def _decode_image_oracle_sql(w_expr: str, h_expr: str) -> str:
    return f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text))::BIGINT AS n,
           ({w_expr})::BIGINT AS w, ({h_expr})::BIGINT AS ht
    FROM documents
),
px AS (
    SELECT doc_id, w, ht,
      [ {cycled_byte_sql("i-1")} for i in range(1, w*ht*3 + 1) ] AS p
    FROM b
)
SELECT doc_id, w AS width, ht AS height,
  CAST(list_sum([p[3*k+1] for k in range(0, w*ht)]) * 1000 // (w*ht) AS BIGINT) AS mean_r_milli,
  CAST(list_sum([p[3*k+2] for k in range(0, w*ht)]) * 1000 // (w*ht) AS BIGINT) AS mean_g_milli,
  CAST(list_sum([p[3*k+3] for k in range(0, w*ht)]) * 1000 // (w*ht) AS BIGINT) AS mean_b_milli
FROM px
"""


DECODE_IMAGE_PPM_SQL = _decode_image_oracle_sql(
    "4 + doc_id % 5", "3 + doc_id % 7"
)


# --- PNG codec (RFC 2083 / ISO 15948; stdlib-only: zlib + crc32) -----
#
# Per-doc dimensions deliberately differ from the PPM path so a decoder
# that cheats by reusing decode_image_ppm's formula hash-mismatches.
PNG_W_EXPR = "2 + doc_id % 6"  # 2..7 px wide
PNG_H_EXPR = "2 + doc_id % 5"  # 2..6 px tall


def _png_codec():
    """PNG codec, stdlib zlib/struct/binascii only (the point of the
    exercise).

    encode: a REAL spec-conformant writer. Per doc: 8-bit RGB (color
    type 2), no interlace, w = 2 + doc_id % 6, h = 2 + doc_id % 5, pixel
    bytes cycling the doc's UTF-8 text (the same recipe the oracle
    replays). Every row is filtered with type row % 5, so ALL FIVE
    scanline filters (None/Sub/Up/Average/Paeth) appear in every image
    taller than 4 rows and the decoder's unfiltering is exercised for
    real. The IDAT stream is split across two chunks when possible
    (spec-legal, forces reassembly) and a tEXt chunk sits before them
    (decoder must skip ancillary chunks).

    decode: signature check, chunk walk with CRC32 verification, IHDR
    validation (8-bit RGB, deflate, filter method 0, no interlace),
    multi-IDAT reassembly, zlib.decompress, and per-scanline unfiltering
    for all five filter types (RFC 2083 §6) — then the same per-channel
    integer means the PPM path emits. Rejects bad signatures, CRC
    mismatches, truncated streams, and unsupported IHDR shapes."""
    import binascii
    import struct
    import zlib

    import numpy as np

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", binascii.crc32(ctype + data))
        )

    def filter_rows(raw: "np.ndarray", w: int, h: int) -> bytes:
        """Filter each scanline with type row % 5. PNG filters read
        the RAW bytes of the current and prior scanline (the decoder
        reconstructs them), so encoding is fully vectorized."""
        stride = w * 3
        img = raw.reshape(h, stride).astype(np.int64)
        out = bytearray()
        for r in range(h):
            cur = img[r]
            prior = img[r - 1] if r else np.zeros(stride, np.int64)
            left = np.concatenate(([0, 0, 0], cur[:-3]))
            upleft = np.concatenate(([0, 0, 0], prior[:-3]))
            f = r % 5
            if f == 0:
                filt = cur
            elif f == 1:  # Sub
                filt = cur - left
            elif f == 2:  # Up
                filt = cur - prior
            elif f == 3:  # Average
                filt = cur - (left + prior) // 2
            else:  # Paeth
                p = left + prior - upleft
                pa = np.abs(p - left)
                pb = np.abs(p - prior)
                pc = np.abs(p - upleft)
                pred = np.where(
                    (pa <= pb) & (pa <= pc),
                    left,
                    np.where(pb <= pc, prior, upleft),
                )
                filt = cur - pred
            out.append(f)
            out.extend((filt % 256).astype(np.uint8).tobytes())
        return bytes(out)

    def encode(doc_id: int, payload: bytes) -> bytes:
        w, h = 2 + doc_id % 6, 2 + doc_id % 5
        raw = np.resize(np.frombuffer(payload, np.uint8), w * h * 3)
        idat = zlib.compress(filter_rows(raw, w, h))
        mid = len(idat) // 2
        parts = [
            b"\x89PNG\r\n\x1a\n",
            chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)),
            chunk(b"tEXt", b"Comment\x00smrr synthetic"),
        ]
        if mid:  # spec-legal multi-IDAT: decoder must reassemble
            parts += [chunk(b"IDAT", idat[:mid]), chunk(b"IDAT", idat[mid:])]
        else:
            parts.append(chunk(b"IDAT", idat))
        parts.append(chunk(b"IEND", b""))
        return b"".join(parts)

    def parse(b: bytes) -> tuple[int, int, bytes]:
        """(width, height, raw RGB bytes) or raise ValueError."""
        if b[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG: bad signature")
        pos, end = 8, len(b)
        ihdr = None
        idat = bytearray()
        seen_iend = False
        while pos < end:
            if pos + 8 > end:
                raise ValueError("truncated PNG: chunk header")
            (length,) = struct.unpack(">I", b[pos : pos + 4])
            ctype = b[pos + 4 : pos + 8]
            data = b[pos + 8 : pos + 8 + length]
            if len(data) != length or pos + 12 + length > end:
                raise ValueError("truncated PNG: chunk data")
            (crc,) = struct.unpack(">I", b[pos + 8 + length : pos + 12 + length])
            if binascii.crc32(ctype + data) != crc:
                raise ValueError(f"CRC mismatch in {ctype!r} chunk")
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat.extend(data)
            elif ctype == b"IEND":
                seen_iend = True
                break
            # ancillary chunks (tEXt etc.) are skipped
            pos += 12 + length
        if ihdr is None or not seen_iend:
            raise ValueError("PNG missing IHDR or IEND")
        w, h, depth, ctype_i, comp, filt, inter = ihdr
        if (depth, ctype_i, comp, filt, inter) != (8, 2, 0, 0, 0):
            raise ValueError(
                "unsupported PNG shape (want 8-bit RGB, deflate, "
                "filter method 0, no interlace)"
            )
        stride = w * 3
        want = h * (1 + stride)
        try:
            # bounded inflate: a corrupt/hostile IDAT must not be able
            # to expand past the declared raster size (zip-bomb guard —
            # at fleet scale an unbounded decompress is an executor OOM
            # vector); +1 detects overflow cheaply
            d = zlib.decompressobj()
            stream = d.decompress(bytes(idat), want + 1)
        except zlib.error as exc:
            # CRC-consistent but corrupt deflate data (coordinated
            # corruption) must keep the ValueError contract
            raise ValueError(f"corrupt PNG deflate stream: {exc}") from exc
        if len(stream) != want or not d.eof:
            raise ValueError("PNG raster size mismatch")
        recon = np.zeros((h, stride), dtype=np.int64)
        for r in range(h):
            row = stream[r * (1 + stride) : (r + 1) * (1 + stride)]
            f, filt_b = row[0], np.frombuffer(
                row, dtype=np.uint8, offset=1
            ).astype(np.int64)
            prior = recon[r - 1] if r else np.zeros(stride, np.int64)
            if f == 0:
                recon[r] = filt_b
            elif f == 2:  # Up — vectorized, prior row fully known
                recon[r] = (filt_b + prior) % 256
            elif f in (1, 3, 4):
                # Sub/Average/Paeth reconstruct left-to-right: the
                # left neighbor is the already-RECONSTRUCTED byte
                cur = recon[r]
                for i in range(stride):
                    a = cur[i - 3] if i >= 3 else 0  # left
                    bb = prior[i]  # up
                    if f == 1:
                        pred = a
                    elif f == 3:
                        pred = (a + bb) // 2
                    else:
                        c = prior[i - 3] if i >= 3 else 0  # up-left
                        p = a + bb - c
                        pa, pb_, pc = abs(p - a), abs(p - bb), abs(p - c)
                        pred = (
                            a
                            if pa <= pb_ and pa <= pc
                            else (bb if pb_ <= pc else c)
                        )
                    cur[i] = (filt_b[i] + pred) % 256
            else:
                raise ValueError(f"unknown PNG filter type {f}")
        return w, h, recon.reshape(-1).astype(np.uint8).tobytes()

    def decode(b: bytes) -> list[tuple]:
        w, h, raw = parse(b)
        px = np.frombuffer(raw, dtype=np.uint8).reshape(h * w, 3)
        means = px.sum(axis=0, dtype=np.int64) * 1000 // (w * h)
        return [(w, h, *means.tolist())]

    return encode, decode


def decode_image_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG codec round trip, stdlib-only (RFC 2083: zlib deflate +
    the five scanline filters + CRC-checked chunks). Encode each doc as
    a valid 8-bit RGB PNG — per-row filter type rotates through all
    five, IDAT split across two chunks, an ancillary tEXt chunk to skip
    — then decode with a full parser (signature, CRC verification,
    IHDR validation, IDAT reassembly, inflate, per-filter scanline
    reconstruction) and emit per-channel integer means.

    The DuckDB oracle (shared template with decode_image_ppm, different
    dimension formula) recomputes the features straight from the text
    bytes: a hash match proves the filter/compress/chunk round trip is
    lossless.
    """
    encode, decode = _png_codec()
    return per_doc(
        spark, sf_dir, lambda d, p: decode(encode(d, p)), IMAGE_RGB_SCHEMA
    )


DECODE_IMAGE_PNG_SQL = _decode_image_oracle_sql(PNG_W_EXPR, PNG_H_EXPR)


# --- WAV codec (RIFF/PCM; Microsoft/IBM spec, public) ---------------
#
# The audio leg of the multimodal suite made real: RIFF container
# parsing is bytes + arithmetic, no library needed (same argument as
# P6/PNG). Per-doc audio shape varies so the decoder must genuinely
# read fmt/data chunks.
WAV_CHANNELS_EXPR = "1 + doc_id % 2"  # mono / stereo
WAV_RATE_EXPR = "8000 * (1 + doc_id % 3)"  # 8/16/24 kHz
WAV_FRAMES_EXPR = "40 + doc_id % 30"


def _wav_codec():
    """RIFF/WAVE 16-bit PCM codec, stdlib struct only.

    encode: a spec-conformant RIFF/WAVE writer; channels/rate/frames
    vary per doc; samples map the doc's cycled UTF-8 bytes to int16 via
    (byte - 128) * 256 (zero bytes for empty docs). A LIST/INFO chunk
    with an ODD payload sits between fmt and data — RIFF pads chunks to
    word boundaries, and a decoder that forgets the pad byte desyncs
    (the deliberate spec trap, like PNG's split IDAT).

    decode: RIFF walker (magic, WAVE form type, word-aligned chunk
    traversal), fmt validation (PCM, 16-bit), data extraction, then
    integer sample statistics. Rejects non-RIFF, truncated chunks,
    non-PCM and non-16-bit input, and a data chunk that disagrees with
    the fmt block alignment."""
    import struct

    import numpy as np

    def chunk(ctype: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""  # word-align
        return ctype + struct.pack("<I", len(data)) + data + pad

    def encode(doc_id: int, payload: bytes) -> bytes:
        ch = 1 + doc_id % 2
        rate = 8000 * (1 + doc_id % 3)
        frames = 40 + doc_id % 30
        b = np.resize(np.frombuffer(payload, np.uint8), frames * ch)
        samples = ((b.astype(np.int64) - 128) * 256).astype("<i2")
        fmt = struct.pack(
            "<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16
        )  # PCM, block align = ch * 16-bit
        body = (
            b"WAVE"
            + chunk(b"fmt ", fmt)
            + chunk(b"LIST", b"INFOIART\x05\x00\x00\x00smrr\x00")
            + chunk(b"data", samples.tobytes())
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def parse(b: bytes) -> tuple[int, int, "np.ndarray"]:
        """(sample_rate, channels, int64 samples) or ValueError."""
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE payload")
        (riff_size,) = struct.unpack("<I", b[4:8])
        if riff_size + 8 > len(b):
            raise ValueError("truncated WAV: RIFF size past end")
        pos, end = 12, 8 + riff_size
        fmt = data = None
        while pos + 8 <= end:
            ctype = b[pos : pos + 4]
            (length,) = struct.unpack("<I", b[pos + 4 : pos + 8])
            if pos + 8 + length > end:
                raise ValueError("truncated WAV: chunk past RIFF end")
            payload = b[pos + 8 : pos + 8 + length]
            if len(payload) != length:
                raise ValueError("truncated WAV: chunk data")
            if ctype == b"fmt ":
                fmt = payload
            elif ctype == b"data":
                data = payload
            # word-aligned traversal: odd chunks carry a pad byte
            pos += 8 + length + (length % 2)
        if fmt is None or data is None:
            raise ValueError("WAV missing fmt or data chunk")
        if len(fmt) < 16:
            raise ValueError("malformed fmt chunk")
        audio_fmt, ch, rate, _, block, bits = struct.unpack("<HHIIHH", fmt[:16])
        if audio_fmt != 1 or bits != 16:
            raise ValueError("unsupported WAV (want 16-bit PCM)")
        if ch == 0:
            raise ValueError("WAV declares zero channels")
        if block != ch * 2 or len(data) % block:
            raise ValueError("data chunk disagrees with block align")
        samples = np.frombuffer(data, dtype="<i2").astype(np.int64)
        return rate, ch, samples

    def decode(b: bytes) -> list[tuple]:
        rate, ch, s = parse(b)
        # mean can be NEGATIVE (int16 PCM): divide truncating toward
        # zero to match DuckDB's `//` (-7 // 2 = -3 there, -4 in
        # Python/numpy — the image paths never hit this because pixel
        # sums are non-negative)
        tot = int(s.sum()) * 1000
        q = abs(tot) // s.size if s.size else 0
        peak = int(s.max()) if s.size else 0
        return [(rate, ch, len(s) // ch, -q if tot < 0 else q, peak)]

    return encode, decode


def decode_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec round trip, stdlib-only: encode each doc as a
    valid 16-bit PCM RIFF/WAVE file (mono/stereo, 8-24 kHz and frame
    count varying per doc; an odd-length LIST chunk forces word-aligned
    traversal), decode with an actual RIFF parser, and emit integer
    sample statistics. The DuckDB oracle recomputes the stats straight
    from the text bytes and the per-doc shape formulas — a hash match
    proves the PCM pack/parse round trip is lossless. Third real codec
    beside decode_image_ppm/decode_image_png."""
    encode, decode = _wav_codec()
    return per_doc(
        spark,
        sf_dir,
        lambda d, p: decode(encode(d, p)),
        "doc_id long, sample_rate long, channels long, n_frames long, "
        "mean_milli long, peak long",
    )


# Sample i (1-based) = (byte_((i-1) mod n)+1 - 128) * 256 over cycled
# text bytes, zero bytes for empty docs; stats are exact int arithmetic.
DECODE_AUDIO_WAV_SQL = f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text))::BIGINT AS n,
           ({WAV_CHANNELS_EXPR})::BIGINT AS ch,
           ({WAV_RATE_EXPR})::BIGINT AS rate,
           ({WAV_FRAMES_EXPR})::BIGINT AS frames
    FROM documents
),
s AS (
    SELECT doc_id, ch, rate, frames,
      [ ({cycled_byte_sql("i-1")} - 128) * 256
        for i in range(1, frames*ch + 1) ] AS smp
    FROM b
)
SELECT doc_id, rate AS sample_rate, ch AS channels, frames AS n_frames,
       CAST(list_sum(smp) * 1000 // (frames*ch) AS BIGINT) AS mean_milli,
       CAST(list_max(smp) AS BIGINT) AS peak
FROM s
"""


N_FRAMES = 3
FRAME_BYTES = 32


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: N evenly-spaced fixed-width byte windows
    per payload ("frames"), digested per frame.

    This is the video/audio frame-sampling shape — seek offsets computed
    from media length, a decoder invoked per window — with the decoder
    replaced by a digest (container has no codecs). The per-doc function
    does real byte slicing Python-side; one output row per frame.
    """
    import hashlib

    n_frames, width = N_FRAMES, FRAME_BYTES

    def frames(doc_id: int, b: bytes) -> list[tuple]:
        n = len(b)
        # evenly spaced, clamped so the window stays in-bounds
        offs = [
            0 if n <= width else (i * (n - width)) // (n_frames - 1)
            for i in range(n_frames)
        ]
        return [
            (i, off, hashlib.sha256(b[off : off + width]).hexdigest())
            for i, off in enumerate(offs)
        ]

    return per_doc(
        spark,
        sf_dir,
        frames,
        "doc_id long, frame_idx long, offset long, frame_sha256 string",
    )


# ASCII text ⇒ byte slicing == character slicing, so DuckDB can compute
# the same frames with substr (1-based).
FRAME_SAMPLE_SQL = f"""
WITH f AS (
    SELECT doc_id, length(text)::BIGINT AS n, unnest(generate_series(0, {N_FRAMES - 1})) AS frame_idx
    FROM documents
),
w AS (
    SELECT doc_id, frame_idx,
           CASE WHEN n <= {FRAME_BYTES} THEN 0
                ELSE (frame_idx * (n - {FRAME_BYTES})) // {N_FRAMES - 1}
           END AS "offset"
    FROM f
)
SELECT w.doc_id, frame_idx, "offset",
       sha256(substr(text, ("offset" + 1)::INTEGER, {FRAME_BYTES})) AS frame_sha256
FROM w JOIN documents d ON w.doc_id = d.doc_id
"""


QUERIES: dict[str, Query] = {
    "multimodal_meta": Query(
        multimodal_meta, MULTIMODAL_META_SQL, "binary column metadata projection"
    ),
    "frame_sample": Query(
        frame_sample,
        FRAME_SAMPLE_SQL,
        "evenly-spaced frame sampling over binary payloads (mapInPandas)",
    ),
    "payload_byte_stats": Query(
        payload_byte_stats,
        PAYLOAD_BYTE_STATS_SQL,
        "Arrow-batched mapInPandas byte stats over binary payloads",
    ),
    "decode_image_ppm": Query(
        decode_image_ppm,
        DECODE_IMAGE_PPM_SQL,
        "real Netpbm P6 codec round trip: encode + header-parse decode via mapInPandas",
    ),
    "decode_image_png": Query(
        decode_image_png,
        DECODE_IMAGE_PNG_SQL,
        "real PNG codec round trip: zlib+filters+CRC encode/decode via mapInPandas",
    ),
    "decode_audio_wav": Query(
        decode_audio_wav,
        DECODE_AUDIO_WAV_SQL,
        "real RIFF/PCM WAV codec round trip: word-aligned chunk walk via mapInPandas",
    ),
}
