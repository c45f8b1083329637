"""Compressed-media codecs, stdlib+numpy only (north-star extension).

r12 closes the last three legs of the multimodal seam that are still
public-knowledge formats a decoder can implement without external
libraries (the r11-r12 PPM/PNG/WAV argument, extended):

- decode_image_jpeg  — REAL baseline JPEG (ITU-T T.81): marker walk,
                       DHT-defined canonical Huffman tables, 0xFF00
                       byte-stuffing, DRI/RSTn restart handling, zigzag,
                       dequantization, float IDCT. The synthesized test
                       images make the lossy pipeline integer-exact
                       (unit quant table + DC-only constant blocks:
                       IDCT of a DC-only block is exactly DC/8 + 128),
                       so the DuckDB oracle can replay the features —
                       a hash match proves the entropy-coding round
                       trip end-to-end. Nonzero-AC decoding is covered
                       by unit tests against an independent IDCT.
- decode_audio_mulaw — REAL G.711 mu-law leg: WAVE_FORMAT_MULAW (tag 7)
                       container with a `fact` chunk, and the standard
                       CCITT expansion ((m*8+132) << e, biased signs)
                       in the decoder. The expansion is pure integer
                       arithmetic, so the oracle replays it in SQL —
                       the first *lossy* codec whose decode side is
                       deterministic enough to oracle-check exactly.
- decode_video_avi   — REAL video container: RIFF/AVI with raw 24-bit
                       DIB frames (bottom-up rows, BGR byte order,
                       4-byte row stride padding) and an idx1 index.
                       The decoder does what a 100 TB frame-sampling
                       pipeline must do: parse the header LISTs, then
                       SEEK to the sampled frame via the index instead
                       of scanning the whole movi stream.

Pattern shared with operators/multimodal.py (see its module docstring):
media synthesized deterministically from each doc's UTF-8 bytes; each
codec is a ``_<fmt>_codec()`` factory returning per-row ``encode`` and
``decode`` closures, and its query is one ``multimodal.per_doc`` call
(one Python crossing, pickling contract stated there); every registry
entry carries a DuckDB oracle that recomputes the features straight
from the text bytes. Formats that genuinely need
external codec libraries — JPEG *entropy variants we don't emit*
(progressive, arithmetic), webp/VP8, perceptual audio (MP3/AAC) — are
out of scope.

Reference scope note: the reference engine (SURVEY.md; Master.java /
Worker.java) has no media handling at all — this module is part of the
brief's training-data-pipeline extension surface, same status as
dedup/ANN.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from simple_map_reduce_ruuner_spark.operators.multimodal import (
    IMAGE_RGB_SCHEMA,
    _decode_image_oracle_sql,
    cycled_byte_sql,
    hex_byte_sql,
    per_doc,
)
from simple_map_reduce_ruuner_spark.registry import Query

# ---------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81)
# ---------------------------------------------------------------------
#
# Per-doc image shape: grayscale, dimensions in whole 8x8 blocks so no
# edge-padding ambiguity exists; every block is a constant gray level
# drawn by cycling the doc's UTF-8 bytes (block k <- byte k mod n).
# With the unit quantization table the FDCT of a constant block is a
# lone integer DC coefficient (8 * (v - 128)) and the IDCT returns
# exactly v — the entropy round trip is bit-exact BY CONSTRUCTION while
# the codec itself stays fully general.
JPEG_BLOCKS_W_EXPR = "1 + doc_id % 4"  # 1..4 blocks -> 8..32 px wide
JPEG_BLOCKS_H_EXPR = "1 + doc_id % 3"  # 1..3 blocks -> 8..24 px tall
JPEG_RST_INTERVAL = 4  # DRI: restart marker every 4 MCUs

# Standard luminance Huffman tables (ITU-T T.81 Annex K.3 / libjpeg
# jcstdhuff) — public constants. Only the ENCODER needs them: the
# decoder builds its tables from the DHT segment in the file, as a real
# decoder must.
JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
JPEG_DC_VALS = tuple(range(12))
JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)


def _jpeg_codec():
    """Baseline-JPEG codec (ITU-T T.81), stdlib struct + numpy.

    encode: a spec-conformant writer. Per doc: grayscale SOF0,
    dimensions 8*(1 + doc_id % 4) x 8*(1 + doc_id % 3), unit quant
    table, BOTH Huffman tables in ONE DHT segment (decoder must loop
    within the segment — the multi-table trap, like PNG's split IDAT),
    a DRI of 4 MCUs with RSTn markers and DC-predictor resets in the
    scan, COM and APP0 segments to skip, and 0xFF00 byte stuffing in
    the entropy stream.

    decode: a REAL general decoder — marker walk (APPn/COM skipped,
    SOF2/progressive and multi-component rejected), DQT/DHT parsing
    with multi-table segments, canonical Huffman reconstruction from
    the file's own DHT, entropy decoding with 0xFF00 un-stuffing and
    DRI/RSTn restart handling (byte-align, marker sequence check, DC
    predictor reset), DC-difference magnitude decoding, AC run/size
    loop with ZRL and EOB, dequantization, de-zigzag, float IDCT, level
    shift, and clamp. Emits one row of integer gray statistics."""
    import struct

    import numpy as np

    dc_spec = (JPEG_DC_BITS, JPEG_DC_VALS)
    ac_spec = (JPEG_AC_BITS, JPEG_AC_VALS)
    rst_interval = JPEG_RST_INTERVAL

    def canonical(bits, vals):
        """symbol -> (code, length) per T.81 C.2 (canonical codes)."""
        table, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                table[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return table

    dc_codes = canonical(*dc_spec)
    ac_codes = canonical(*ac_spec)
    eob_code, eob_len = ac_codes[0x00]

    def seg(marker: int, data: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(data) + 2) + data

    class BitWriter:
        """MSB-first bit accumulator with JPEG 0xFF00 byte stuffing."""

        def __init__(self) -> None:
            self.out = bytearray()
            self.acc = 0
            self.n = 0

        def put(self, val: int, nbits: int) -> None:
            self.acc = (self.acc << nbits) | (val & ((1 << nbits) - 1))
            self.n += nbits
            while self.n >= 8:
                byte = (self.acc >> (self.n - 8)) & 0xFF
                self.out.append(byte)
                if byte == 0xFF:  # stuff so markers stay unique
                    self.out.append(0x00)
                self.n -= 8
            self.acc &= (1 << self.n) - 1

        def align(self) -> None:
            """Pad to a byte boundary with 1-bits (T.81 F.1.2.3)."""
            if self.n:
                self.put((1 << (8 - self.n)) - 1, 8 - self.n)

        def raw(self, b: bytes) -> None:
            """Emit marker bytes verbatim (must be byte-aligned —
            restart markers are NOT stuffed)."""
            assert self.n == 0
            self.out.extend(b)

    def encode(doc_id: int, payload: bytes) -> bytes:
        bw, bh = 1 + doc_id % 4, 1 + doc_id % 3
        w, h, nb = 8 * bw, 8 * bh, bw * bh
        vals = np.resize(np.frombuffer(payload, np.uint8), nb)
        head = [
            b"\xff\xd8",  # SOI
            seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"),
            seg(0xFE, b"smrr synthetic"),  # COM — decoder skips
            seg(0xDB, b"\x00" + bytes([1] * 64)),  # DQT: unit table
            # SOF0: 8-bit, h x w, 1 component (id 1, 1x1, Tq 0)
            seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes((1, 0x11, 0))),
            # one DHT segment carrying BOTH tables
            seg(
                0xC4,
                bytes([0x00])
                + bytes(dc_spec[0])
                + bytes(dc_spec[1])
                + bytes([0x10])
                + bytes(ac_spec[0])
                + bytes(ac_spec[1]),
            ),
            seg(0xDD, struct.pack(">H", rst_interval)),  # DRI
            # SOS: 1 component (sel 1, Td/Ta 0), Ss 0 Se 63 AhAl 0
            seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0))),
        ]
        bwr = BitWriter()
        pred, rst = 0, 0
        for k in range(nb):
            if k and k % rst_interval == 0:
                bwr.align()
                bwr.raw(bytes((0xFF, 0xD0 + (rst % 8))))
                rst += 1
                pred = 0  # DC predictor resets at restart
            dc = 8 * (int(vals[k]) - 128)
            diff = dc - pred
            pred = dc
            s = abs(diff).bit_length()
            code, ln = dc_codes[s]
            bwr.put(code, ln)
            if s:
                bwr.put(diff if diff > 0 else diff + (1 << s) - 1, s)
            bwr.put(eob_code, eob_len)  # all-zero AC
        bwr.align()
        return b"".join(head) + bytes(bwr.out) + b"\xff\xd9"

    def zigzag_order():
        """(row, col) pairs in JPEG zigzag scan order."""
        order = []
        for d in range(15):
            rng = range(min(d, 7), max(0, d - 7) - 1, -1) if d % 2 == 0 \
                else range(max(0, d - 7), min(d, 7) + 1)
            order.extend((r, d - r) for r in rng)
        return order

    ZZ = zigzag_order()
    ZZ_R = np.array([r for r, _ in ZZ])
    ZZ_C = np.array([c for _, c in ZZ])
    # IDCT basis: M[x, u] = c(u)/2 * cos((2x+1) u pi / 16)
    x = np.arange(8).reshape(8, 1)
    u = np.arange(8).reshape(1, 8)
    M = np.cos((2 * x + 1) * u * np.pi / 16) / 2.0
    M[:, 0] /= np.sqrt(2.0)

    huff_cache: dict[bytes, dict] = {}

    def build_huff(bits, vals):
        """(length, code) -> symbol per T.81 canonical construction.
        Memoized on the raw table bytes: every doc in a corpus
        typically ships the same DHT, so the construction runs once
        per task instead of once per image."""
        key = bytes(bits) + bytes(vals)
        cached = huff_cache.get(key)
        if cached is not None:
            return cached
        table, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                table[(ln, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1
        # hostile blobs are in scope (bomb guards below): a corpus
        # with per-file-unique DHTs must not grow executor memory
        # without bound, so the memo is bounded — a benign corpus
        # ships a handful of standard tables and never hits this
        if len(huff_cache) >= 256:
            huff_cache.clear()
        huff_cache[key] = table
        return table

    class BitReader:
        """MSB-first reader over the entropy stream; un-stuffs
        0xFF00 and refuses to run past an un-stuffed marker."""

        def __init__(self, data: bytes, pos: int) -> None:
            self.data = data
            self.pos = pos
            self.acc = 0
            self.n = 0

        def bit(self) -> int:
            if self.n == 0:
                if self.pos >= len(self.data):
                    raise ValueError("truncated JPEG entropy stream")
                b = self.data[self.pos]
                self.pos += 1
                if b == 0xFF:
                    if self.pos >= len(self.data):
                        raise ValueError("truncated JPEG entropy stream")
                    if self.data[self.pos] != 0x00:
                        raise ValueError("marker inside entropy segment")
                    self.pos += 1  # stuffed zero
                self.acc = b
                self.n = 8
            self.n -= 1
            return (self.acc >> self.n) & 1

        def bits(self, k: int) -> int:
            v = 0
            for _ in range(k):
                v = (v << 1) | self.bit()
            return v

        def expect_rst(self, idx: int) -> None:
            """Byte-align and consume the next restart marker, which
            must be RST(idx mod 8)."""
            self.n = 0
            if self.pos + 2 > len(self.data):
                raise ValueError("truncated JPEG: missing RST marker")
            m0, m1 = self.data[self.pos], self.data[self.pos + 1]
            if m0 != 0xFF or m1 != 0xD0 + (idx % 8):
                raise ValueError(
                    f"bad restart marker: got {m0:02x}{m1:02x}, "
                    f"want ffd{idx % 8}"
                )
            self.pos += 2

    def decode_huff(rd: BitReader, table) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | rd.bit()
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")

    def extend(v: int, s: int) -> int:
        """Magnitude-category decode (T.81 F.2.2.1 EXTEND)."""
        return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1

    def parse(b: bytes):
        if b[:2] != b"\xff\xd8":
            raise ValueError("not a JPEG: missing SOI")
        pos = 2
        qt: dict[int, list[int]] = {}
        dc_tabs: dict[int, dict] = {}
        ac_tabs: dict[int, dict] = {}
        dri = 0
        frame = None
        scan = None
        while True:
            if pos + 2 > len(b) or b[pos] != 0xFF:
                raise ValueError("truncated JPEG: expected marker")
            while b[pos + 1] == 0xFF:  # fill bytes before a marker
                pos += 1
                if pos + 2 > len(b):
                    raise ValueError("truncated JPEG: fill bytes to EOF")
            m = b[pos + 1]
            pos += 2
            if m == 0xD9:
                raise ValueError("EOI before SOS — no image data")
            if pos + 2 > len(b):
                raise ValueError("truncated JPEG segment")
            (ln,) = struct.unpack(">H", b[pos : pos + 2])
            data = b[pos + 2 : pos + ln]
            if len(data) != ln - 2:
                raise ValueError("truncated JPEG segment")
            pos += ln
            if 0xE0 <= m <= 0xEF or m == 0xFE:
                continue  # APPn / COM
            if m == 0xDB:  # DQT — possibly several tables
                i = 0
                while i < len(data):
                    pq, tq = data[i] >> 4, data[i] & 0xF
                    if pq != 0:
                        raise ValueError("16-bit quant tables unsupported")
                    qt[tq] = list(data[i + 1 : i + 65])
                    if len(qt[tq]) != 64:
                        raise ValueError("short quant table")
                    i += 65
            elif m == 0xC4:  # DHT — possibly several tables
                i = 0
                while i < len(data):
                    tc, th = data[i] >> 4, data[i] & 0xF
                    bits = list(data[i + 1 : i + 17])
                    nv = sum(bits)
                    vals = list(data[i + 17 : i + 17 + nv])
                    if len(vals) != nv:
                        raise ValueError("short Huffman table")
                    (dc_tabs if tc == 0 else ac_tabs)[th] = build_huff(
                        bits, vals
                    )
                    i += 17 + nv
            elif m == 0xC0:  # SOF0 baseline
                prec, fh, fw, nc = struct.unpack(">BHHB", data[:6])
                if prec != 8 or nc != 1:
                    raise ValueError(
                        "unsupported JPEG shape (want 8-bit grayscale)"
                    )
                cid, hv, ctq = data[6], data[7], data[8]
                if hv != 0x11:
                    raise ValueError("subsampling unsupported")
                frame = (fw, fh, cid, ctq)
            elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                       0xCB, 0xCD, 0xCE, 0xCF):
                raise ValueError("non-baseline JPEG (progressive etc.)")
            elif m == 0xDD:  # DRI
                (dri,) = struct.unpack(">H", data[:2])
            elif m == 0xDA:  # SOS
                ns = data[0]
                if ns != 1:
                    raise ValueError("interleaved multi-comp scan")
                td, ta = data[2] >> 4, data[2] & 0xF
                scan = (td, ta)
                break
            else:
                raise ValueError(f"unexpected JPEG marker ff{m:02x}")
        if frame is None:
            raise ValueError("JPEG missing SOF0 before SOS")
        fw, fh, _cid, ctq = frame
        if fw % 8 or fh % 8:
            raise ValueError("partial edge blocks unsupported")
        if fw * fh > (1 << 24):
            # allocation happens before entropy decode can fail, so
            # a corrupted SOF must not demand a multi-GB raster
            raise ValueError("JPEG raster too large")
        if ctq not in qt:
            raise ValueError("SOF references undefined quant table")
        td, ta = scan
        if td not in dc_tabs or ta not in ac_tabs:
            raise ValueError("SOS references undefined Huffman table")
        q = np.array(qt[ctq], dtype=np.int64)
        dct, act = dc_tabs[td], ac_tabs[ta]

        bwn, bhn = fw // 8, fh // 8
        img = np.zeros((fh, fw), dtype=np.uint8)
        rd = BitReader(b, pos)
        pred, rst = 0, 0
        for k in range(bwn * bhn):
            if dri and k and k % dri == 0:
                rd.expect_rst(rst)
                rst += 1
                pred = 0
            coef = np.zeros(64, dtype=np.int64)
            s = decode_huff(rd, dct)
            if s > 11:
                raise ValueError("invalid DC magnitude category")
            pred += extend(rd.bits(s), s)
            coef[0] = pred
            i = 1
            has_ac = False
            while i < 64:
                sym = decode_huff(rd, act)
                if sym == 0x00:  # EOB
                    break
                if sym == 0xF0:  # ZRL: 16 zeros
                    i += 16
                    if i > 63:  # a coefficient must still fit
                        raise ValueError("AC run past block end")
                    continue
                run, size = sym >> 4, sym & 0xF
                i += run
                if i > 63 or size == 0:
                    raise ValueError("AC run past block end")
                coef[i] = extend(rd.bits(size), size)
                has_ac = True
                i += 1
            dc_deq = int(coef[0]) * int(q[0])
            if not has_ac and dc_deq % 8 == 0:
                # DC-only block with an exactly-representable level:
                # the IDCT is the constant dc/8 + 128 analytically,
                # so skip the matmul (the guard keeps the fast and
                # general paths bit-identical — at dc % 8 != 0 the
                # half-integer rounding could differ, so fall
                # through to the general path there)
                level = min(255, max(0, dc_deq // 8 + 128))
                px = np.full((8, 8), level, dtype=np.uint8)
            else:
                deq = (coef * q).astype(np.float64)
                block = np.zeros((8, 8), dtype=np.float64)
                block[ZZ_R, ZZ_C] = deq  # vectorized de-zigzag
                px = M @ block @ M.T + 128.0
                px = np.clip(np.rint(px), 0, 255).astype(np.uint8)
            br, bc = divmod(k, bwn)
            img[br * 8 : br * 8 + 8, bc * 8 : bc * 8 + 8] = px
        # after the last MCU: align, allow fill bytes, require EOI
        rd.n = 0
        p = rd.pos
        while p + 1 < len(b) and b[p] == 0xFF and b[p + 1] == 0xFF:
            p += 1
        if b[p : p + 2] != b"\xff\xd9":
            raise ValueError("JPEG missing EOI after scan")
        return fw, fh, img

    def decode(b: bytes) -> list[tuple]:
        w, h, img = parse(b)
        flat = img.astype(np.int64)
        mean = int(flat.sum()) * 1000 // (w * h)
        return [(w, h, mean, int(flat.max()), int(flat.min()))]

    return encode, decode


def decode_image_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG codec round trip, stdlib+numpy only (ITU-T
    T.81 is public). Encode each doc as a valid grayscale baseline
    JPEG — standard Annex-K Huffman tables shipped in a single
    two-table DHT segment, unit quant table, DRI=4 with RSTn restart
    markers, COM/APP0 to skip, 0xFF00 stuffing — then decode with a
    full general decoder (marker walk, canonical Huffman from the
    file's DHT, restart + DC-predictor resets, run/size AC loop,
    dequant, de-zigzag, float IDCT) and emit integer gray statistics.

    Exactness strategy: every 8x8 block is constant (value = cycled
    text byte), so with the unit quant table the DCT is a lone integer
    DC coefficient and IDCT returns the value exactly — the lossy
    format becomes a lossless round trip BY TEST-IMAGE CONSTRUCTION
    while the codec stays general (nonzero-AC decode is unit-tested
    against an independent IDCT in tests/test_jpeg_codec.py). The
    DuckDB oracle replays the features from the text bytes; a hash
    match proves the whole marker/Huffman/restart/IDCT pipeline.
    """
    encode, decode = _jpeg_codec()
    return per_doc(
        spark,
        sf_dir,
        lambda d, p: decode(encode(d, p)),
        "doc_id long, width long, height long, "
        "mean_gray_milli long, max_gray long, min_gray long",
    )


# Block k (1-based) carries cycled text byte ((k-1) mod n) + 1; the
# image mean equals the block-value mean (all 64 pixels of a block are
# the block value), and max/min over pixels = max/min over blocks.
DECODE_IMAGE_JPEG_SQL = f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text))::BIGINT AS n,
           ({JPEG_BLOCKS_W_EXPR})::BIGINT AS bw,
           ({JPEG_BLOCKS_H_EXPR})::BIGINT AS bh
    FROM documents
),
v AS (
    SELECT doc_id, bw, bh,
      [ {cycled_byte_sql("k-1")} for k in range(1, bw*bh + 1) ] AS vals
    FROM b
)
SELECT doc_id, 8*bw AS width, 8*bh AS height,
       CAST(list_sum(vals) * 1000 // (bw*bh) AS BIGINT) AS mean_gray_milli,
       CAST(list_max(vals) AS BIGINT) AS max_gray,
       CAST(list_min(vals) AS BIGINT) AS min_gray
FROM v
"""


# ---------------------------------------------------------------------
# G.711 mu-law audio (WAVE_FORMAT_MULAW, format tag 7)
# ---------------------------------------------------------------------
MULAW_CHANNELS_EXPR = "1 + doc_id % 2"
MULAW_FRAMES_EXPR = "50 + doc_id % 40"
MULAW_RATE = 8000  # G.711 is defined at 8 kHz


def _g711_expansion() -> np.ndarray:
    """CCITT G.711 mu-law expansion of all 256 codewords to int16-range
    samples: u = ~code; magnitude = ((mantissa*8 + 132) << exponent)
    - 132, sign from bit 7."""
    u = 255 - np.arange(256, dtype=np.int64)  # ~code & 0xFF
    t = ((u & 15) * 8 + 132) << ((u >> 4) & 7)
    return np.where(u >= 128, 132 - t, t - 132)


MULAW_TABLE = _g711_expansion()


def _mulaw_codec():
    """G.711 mu-law WAV codec (WAVE_FORMAT_MULAW, format tag 7).

    encode: 8 bits/sample, block align = channels, with the
    spec-required `fact` chunk (dwSampleLength = frames) that PCM files
    omit — a decoder that only knows tag-1 PCM must reject this file.
    The stored codewords are the doc's cycled UTF-8 bytes; data chunks
    of odd length exercise RIFF pad bytes.

    decode: the same word-aligned RIFF walk as the PCM path, but
    requiring format tag 7 / 8-bit and validating the `fact` chunk
    against the data length, then the REAL CCITT G.711 expansion
    (``MULAW_TABLE``, captured by value) to int16-range samples and
    integer statistics. Pure integer arithmetic (the decode side of
    this lossy codec is deterministic), so the oracle replays it in
    SQL."""
    import struct

    import numpy as np

    rate = MULAW_RATE
    table = MULAW_TABLE

    def chunk(ctype: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return ctype + struct.pack("<I", len(data)) + data + pad

    def encode(doc_id: int, payload: bytes) -> bytes:
        ch = 1 + doc_id % 2
        frames = 50 + doc_id % 40
        codes = np.resize(np.frombuffer(payload, np.uint8), frames * ch)
        # tag 7 = mu-law, 8-bit, block align = ch; non-PCM tags require
        # the 18-byte fmt variant (cbSize=0 extension field) per the
        # WAVE spec — strict third-party parsers reject a bare 16-byte
        # fmt for tag 7
        fmt = struct.pack("<HHIIHHH", 7, ch, rate, rate * ch, ch, 8, 0)
        body = (
            b"WAVE"
            + chunk(b"fmt ", fmt)
            + chunk(b"fact", struct.pack("<I", frames))
            + chunk(b"data", codes.tobytes())
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def parse(b: bytes) -> tuple[int, int, "np.ndarray"]:
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE payload")
        (riff_size,) = struct.unpack("<I", b[4:8])
        if riff_size + 8 > len(b):
            raise ValueError("truncated WAV: RIFF size past end")
        pos, end = 12, 8 + riff_size
        fmt = data = fact = None
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
            elif ctype == b"fact":
                fact = payload
            pos += 8 + length + (length % 2)  # word-aligned walk
        if fmt is None or data is None:
            raise ValueError("WAV missing fmt or data chunk")
        if len(fmt) < 16:
            raise ValueError("malformed fmt chunk")
        audio_fmt, ch, rate, _, block, bits = struct.unpack(
            "<HHIIHH", fmt[:16]
        )
        if audio_fmt != 7 or bits != 8:
            raise ValueError("unsupported WAV (want 8-bit mu-law, tag 7)")
        if ch == 0:
            raise ValueError("WAV declares zero channels")
        if block != ch or len(data) % block:
            raise ValueError("data chunk disagrees with block align")
        if fact is not None:
            if len(fact) < 4:
                raise ValueError("malformed fact chunk")
            (n_frames_fact,) = struct.unpack("<I", fact[:4])
            if n_frames_fact != len(data) // ch:
                raise ValueError("fact chunk disagrees with data length")
        codes = np.frombuffer(data, dtype=np.uint8)
        return rate, ch, table[codes]

    def decode(b: bytes) -> list[tuple]:
        rate, ch, s = parse(b)
        # truncate toward zero to match DuckDB's integer //
        tot = int(s.sum()) * 1000
        q = abs(tot) // s.size if s.size else 0
        peak, trough = (int(s.max()), int(s.min())) if s.size else (0, 0)
        return [(rate, ch, len(s) // ch, -q if tot < 0 else q, peak, trough)]

    return encode, decode


def decode_audio_mulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 mu-law round trip: encode each doc as a valid
    WAVE_FORMAT_MULAW file (format tag 7, 8-bit codewords = cycled text
    bytes, `fact` chunk, word-aligned chunks), decode with a RIFF
    parser that validates tag/bits/block-align/fact and expands
    codewords with the standard CCITT formula, and emit integer sample
    statistics. First LOSSY codec in the suite whose decode side is
    still integer-exact — the DuckDB oracle replays the expansion
    ((mantissa*8+132) << exponent, biased signs) in SQL, so a hash
    match proves the expansion table and container walk end-to-end.
    """
    encode, decode = _mulaw_codec()
    return per_doc(
        spark,
        sf_dir,
        lambda d, p: decode(encode(d, p)),
        "doc_id long, sample_rate long, channels long, n_frames long, "
        "mean_milli long, peak long, trough long",
    )


DECODE_AUDIO_MULAW_SQL = f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text))::BIGINT AS n,
           ({MULAW_CHANNELS_EXPR})::BIGINT AS ch,
           ({MULAW_FRAMES_EXPR})::BIGINT AS frames
    FROM documents
),
cw AS (
    SELECT doc_id, ch, frames,
      [ 255 - ({cycled_byte_sql("i-1")})
        for i in range(1, frames*ch + 1) ] AS u
    FROM b
),
s AS (
    SELECT doc_id, ch, frames,
           list_transform(u, x -> CASE WHEN x >= 128
               THEN 132 - (((x & 15) * 8 + 132) << ((x >> 4) & 7))
               ELSE (((x & 15) * 8 + 132) << ((x >> 4) & 7)) - 132
           END) AS smp
    FROM cw
)
SELECT doc_id, {MULAW_RATE}::BIGINT AS sample_rate, ch AS channels,
       frames AS n_frames,
       CAST(list_sum(smp) * 1000 // (frames*ch) AS BIGINT) AS mean_milli,
       CAST(list_max(smp) AS BIGINT) AS peak,
       CAST(list_min(smp) AS BIGINT) AS trough
FROM s
"""


# ---------------------------------------------------------------------
# AVI video container (RIFF 'AVI ': raw 24-bit DIB frames + idx1 index)
# ---------------------------------------------------------------------
AVI_W_EXPR = "2 + doc_id % 4"  # 2..5 px -> strides 6/9/12/15: all pad cases
AVI_H_EXPR = "2 + doc_id % 3"  # 2..4 px
AVI_FRAMES_EXPR = "3 + doc_id % 4"  # 3..6 frames
AVI_FPS_EXPR = "10 + doc_id % 6"  # 10..15 fps


def _avi_codec():
    """RIFF/AVI video container codec, stdlib struct + numpy.

    encode: a spec-conformant RIFF/AVI writer. LIST hdrl (avih + LIST
    strl with strh 'vids'/'DIB ' + strf BITMAPINFOHEADER), an
    odd-length JUNK chunk (word-align trap), LIST movi with one '00db'
    chunk per frame — raw 24-bit DIB: BOTTOM-UP row order, BGR byte
    order, rows padded to 4-byte stride (the three classic DIB traps) —
    and a standard idx1 index with movi-relative offsets. Frame pixels
    cycle the doc's UTF-8 bytes over the LOGICAL top-down RGB layout,
    so the decoder must undo all three DIB transforms to match the
    oracle.

    decode: a REAL container parser that does what a frame-sampling
    pipeline must do at scale — parse the RIFF form and hdrl LISTs
    (avih cross-checked against strf, strh must be 'vids' with fps =
    dwRate/dwScale, strf must be 24-bit BI_RGB), locate movi and idx1,
    then SEEK directly to the sampled middle frame via the index
    (handling both movi-relative and absolute idx1 offset conventions)
    instead of scanning every frame. The DIB payload is un-padded,
    flipped bottom-up -> top-down, and BGR -> RGB swapped before
    per-channel integer means."""
    import struct

    import numpy as np

    def chunk(ctype: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return ctype + struct.pack("<I", len(data)) + data + pad

    def lst(form: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", form + data)

    def encode(doc_id: int, payload: bytes) -> bytes:
        w, h = 2 + doc_id % 4, 2 + doc_id % 3
        nf, fps = 3 + doc_id % 4, 10 + doc_id % 6
        stride = (w * 3 + 3) // 4 * 4
        logical = np.resize(
            np.frombuffer(payload, np.uint8), nf * h * w * 3
        ).reshape(nf, h, w, 3)  # top-down RGB

        frames = []
        for f in range(nf):
            dib = np.zeros((h, stride), dtype=np.uint8)
            # BGR byte order + bottom-up row order
            dib[:, : w * 3] = logical[f, ::-1, :, ::-1].reshape(
                h, w * 3
            )
            frames.append(dib.tobytes())

        avih = struct.pack(
            "<IIIIIIIIIIIIII",
            1_000_000 // fps,  # dwMicroSecPerFrame
            fps * stride * h,  # dwMaxBytesPerSec
            0,  # dwPaddingGranularity
            0x10,  # dwFlags: AVIF_HASINDEX
            nf,  # dwTotalFrames
            0,  # dwInitialFrames
            1,  # dwStreams
            stride * h,  # dwSuggestedBufferSize
            w,
            h,
            0, 0, 0, 0,  # dwReserved[4]
        )
        strh = (
            b"vids"
            + b"DIB "
            + struct.pack(
                "<IHHIIIIIIIII",
                0,  # dwFlags
                0, 0,  # wPriority, wLanguage
                0,  # dwInitialFrames
                1,  # dwScale
                fps,  # dwRate (fps = rate/scale)
                0,  # dwStart
                nf,  # dwLength
                stride * h,  # dwSuggestedBufferSize
                0,  # dwQuality
                0,  # dwSampleSize
                0,  # rcFrame (packed 4x16 = one I here + pad below)
            )
            + struct.pack("<HH", w, h)  # rcFrame right/bottom
        )
        strf = struct.pack(
            "<IiiHHIIiiII",
            40,  # biSize
            w,
            h,  # positive = bottom-up
            1,  # biPlanes
            24,  # biBitCount
            0,  # biCompression = BI_RGB
            stride * h,  # biSizeImage
            0, 0, 0, 0,
        )
        hdrl = lst(
            b"hdrl",
            chunk(b"avih", avih)
            + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
        )
        junk = chunk(b"JUNK", b"smrr!")  # odd payload: pad trap
        movi_data = b"".join(chunk(b"00db", fr) for fr in frames)
        movi = lst(b"movi", movi_data)
        # idx1 offsets are movi-relative: offset of the chunk's
        # fourcc counted from the 'movi' form tag (first = 4)
        idx_entries = []
        off = 4
        for fr in frames:
            idx_entries.append(
                b"00db" + struct.pack("<III", 0x10, off, len(fr))
            )
            off += 8 + len(fr) + (len(fr) % 2)
        idx1 = chunk(b"idx1", b"".join(idx_entries))
        body = b"AVI " + hdrl + junk + movi + idx1
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def walk(b: bytes, pos: int, end: int):
        """Yield (fourcc, form_or_none, data_start, data_len) over a
        chunk run; LIST/RIFF chunks report their form tag."""
        while pos + 8 <= end:
            ctype = b[pos : pos + 4]
            (length,) = struct.unpack("<I", b[pos + 4 : pos + 8])
            if pos + 8 + length > end:
                raise ValueError("truncated AVI: chunk past end")
            if ctype in (b"LIST", b"RIFF"):
                yield ctype, b[pos + 8 : pos + 12], pos + 12, length - 4
            else:
                yield ctype, None, pos + 8, length
            pos += 8 + length + (length % 2)  # word-aligned

    def parse(b: bytes):
        if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
            raise ValueError("not a RIFF/AVI payload")
        (riff_size,) = struct.unpack("<I", b[4:8])
        if riff_size + 8 > len(b):
            raise ValueError("truncated AVI: RIFF size past end")
        end = 8 + riff_size

        avih = strh = strf = None
        movi_tag_pos = movi_start = movi_end = None
        idx1 = None
        for ctype, form, dstart, dlen in walk(b, 12, end):
            if ctype == b"LIST" and form == b"hdrl":
                for c2, f2, d2, l2 in walk(b, dstart, dstart + dlen):
                    if c2 == b"avih":
                        avih = b[d2 : d2 + l2]
                    elif c2 == b"LIST" and f2 == b"strl":
                        for c3, _f3, d3, l3 in walk(b, d2, d2 + l2):
                            if c3 == b"strh":
                                strh = b[d3 : d3 + l3]
                            elif c3 == b"strf":
                                strf = b[d3 : d3 + l3]
            elif ctype == b"LIST" and form == b"movi":
                movi_tag_pos = dstart - 4  # position of 'movi' fourcc
                movi_start, movi_end = dstart, dstart + dlen
            elif ctype == b"idx1":
                idx1 = b[dstart : dstart + dlen]
        if avih is None or strh is None or strf is None:
            raise ValueError("AVI missing avih/strh/strf headers")
        if len(avih) < 40 or len(strh) < 28 or len(strf) < 20:
            raise ValueError("malformed AVI header chunk")
        if movi_start is None:
            raise ValueError("AVI missing movi LIST")
        if idx1 is None:
            raise ValueError("AVI missing idx1 index")

        n_frames = struct.unpack("<I", avih[16:20])[0]
        aw, ah = struct.unpack("<II", avih[32:40])
        if strh[:4] != b"vids":
            raise ValueError("first stream is not video")
        scale, rate = struct.unpack("<II", strh[20:28])
        if not scale or rate % scale:
            raise ValueError("non-integer fps")
        fps = rate // scale
        (biw, bih, planes, bits, comp) = struct.unpack(
            "<iiHHI", strf[4:20]
        )
        if bits != 24 or comp != 0:
            raise ValueError("unsupported AVI (want 24-bit BI_RGB)")
        if bih <= 0:
            raise ValueError("top-down DIB unsupported")
        if (biw, bih) != (aw, ah):
            raise ValueError("avih disagrees with strf dimensions")
        w, h = biw, bih
        stride = (w * 3 + 3) // 4 * 4

        if len(idx1) % 16 or len(idx1) // 16 != n_frames:
            raise ValueError("idx1 length disagrees with frame count")
        target = n_frames // 2
        ck, _flags, off, size = struct.unpack(
            "<4sIII", idx1[16 * target : 16 * target + 16]
        )
        if ck != b"00db":
            raise ValueError("sampled index entry is not a video frame")
        # both offset conventions exist in the wild: relative to the
        # 'movi' fourcc, or absolute from file start
        cand = movi_tag_pos + off
        if b[cand : cand + 4] != b"00db":
            cand = off
            if b[cand : cand + 4] != b"00db":
                raise ValueError("idx1 offset does not land on a chunk")
        (cksize,) = struct.unpack("<I", b[cand + 4 : cand + 8])
        if cksize != size or size != stride * h:
            raise ValueError("frame chunk size mismatch")
        dib = np.frombuffer(
            b, dtype=np.uint8, offset=cand + 8, count=size
        ).reshape(h, stride)
        # un-pad, flip bottom-up -> top-down, BGR -> RGB
        px = dib[:, : w * 3].reshape(h, w, 3)[::-1, :, ::-1]
        return w, h, n_frames, fps, target, px.reshape(h * w, 3)

    def decode(b: bytes) -> list[tuple]:
        w, h, nf, fps, fi, px = parse(b)
        means = px.sum(axis=0, dtype=np.int64) * 1000 // (w * h)
        return [(w, h, nf, fps, fi, *means.tolist())]

    return encode, decode


def decode_video_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container round trip, stdlib-only: encode each doc as
    a valid RIFF/AVI (hdrl headers, odd-length JUNK, movi LIST of raw
    24-bit DIB '00db' frames — bottom-up, BGR, 4-byte row stride — and
    an idx1 index), then decode by parsing the headers and SEEKING to
    the sampled middle frame via the index — the scale-correct
    frame-sampling shape (an exabyte video corpus is sampled via
    container indexes, never by decoding every frame). Emits container
    metadata + per-channel means of the sampled frame. The DuckDB
    oracle recomputes the frame's pixels from the text bytes and the
    logical top-down RGB layout, so a hash match proves the header
    parse, the index seek, and all three DIB transforms at once.
    """
    encode, decode = _avi_codec()
    return per_doc(
        spark,
        sf_dir,
        lambda d, p: decode(encode(d, p)),
        "doc_id long, width long, height long, n_frames long, fps long, "
        "frame_idx long, mean_r_milli long, mean_g_milli long, "
        "mean_b_milli long",
    )


# Sampled frame fi = n_frames // 2; byte i (1-based) of that frame's
# logical top-down RGB raster is the cycled text byte at
# ((fi*h*w*3 + i - 1) mod n) + 1 (0 for empty docs).
DECODE_VIDEO_AVI_SQL = f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text))::BIGINT AS n,
           ({AVI_W_EXPR})::BIGINT AS w, ({AVI_H_EXPR})::BIGINT AS ht,
           ({AVI_FRAMES_EXPR})::BIGINT AS nf, ({AVI_FPS_EXPR})::BIGINT AS fps
    FROM documents
),
px AS (
    SELECT doc_id, w, ht, nf, fps, (nf // 2) AS fi,
      [ {cycled_byte_sql("(nf//2)*ht*w*3 + i - 1")}
        for i in range(1, w*ht*3 + 1) ] AS p
    FROM b
)
SELECT doc_id, w AS width, ht AS height, nf AS n_frames, fps,
       fi AS frame_idx,
  CAST(list_sum([p[3*k+1] for k in range(0, w*ht)]) * 1000 // (w*ht) AS BIGINT) AS mean_r_milli,
  CAST(list_sum([p[3*k+2] for k in range(0, w*ht)]) * 1000 // (w*ht) AS BIGINT) AS mean_g_milli,
  CAST(list_sum([p[3*k+3] for k in range(0, w*ht)]) * 1000 // (w*ht) AS BIGINT) AS mean_b_milli
FROM px
"""


# ---------------------------------------------------------------------
# GIF (GIF89a: LZW dictionary coding — a compression family none of
# the other six codecs exercise)
# ---------------------------------------------------------------------
GIF_W_EXPR = "16 + doc_id % 17"  # 16..32 px
GIF_H_EXPR = "12 + doc_id % 13"  # 12..24 px
# non-identity palette so a decoder that returns raw indexes instead of
# looking them up in the color table hash-mismatches
GIF_R_EXPR = "(i * 7 + 13) % 256"
GIF_G_EXPR = "(i * 31 + 5) % 256"
GIF_B_EXPR = "(i * 13 + 101) % 256"
GIF_CLEAR_EVERY = 400  # data codes between deliberate CLEARs


def _gif_codec():
    """GIF89a codec, stdlib struct + numpy.

    encode: a spec-conformant GIF89a writer. 256-entry global color
    table with a NON-identity palette (index i -> ((7i+13)%256,
    (31i+5)%256, (13i+101)%256)), a Graphic Control and a Comment
    extension for the decoder to skip, and REAL GIF-LZW image data: min
    code size 8, LSB-first variable-width codes (9..12 bits) with
    compress-style late widening, a deliberate CLEAR every 400 data
    codes (decoder must reset mid-stream), data split into <=100-byte
    sub-blocks. Pixel indexes cycle the doc's UTF-8 bytes.

    decode: a REAL GIF89a parser — header/LSD validation, global color
    table read (and USED: outputs are palette-mapped channels, not raw
    indexes), extension skipping via sub-block walks, image descriptor
    checks (interlace and local color tables rejected), sub-block
    reassembly, and a full GIF-LZW decoder: LSB-first variable-width
    codes, canonical late widening (next == 1<<cs after an add), KwKwK
    first-char rule, mid-stream CLEAR resets, deferred-clear tolerance
    at a full 4096 table, EOI + trailer validation, and an exact
    pixel-count check."""
    import struct

    import numpy as np

    clear_every = GIF_CLEAR_EVERY

    CLEAR, EOI = 256, 257

    class LzwWriter:
        """LSB-first variable-width code packer (GIF convention —
        opposite bit order from JPEG)."""

        def __init__(self) -> None:
            self.out = bytearray()
            self.acc = 0
            self.n = 0

        def put(self, code: int, cs: int) -> None:
            self.acc |= code << self.n
            self.n += cs
            while self.n >= 8:
                self.out.append(self.acc & 0xFF)
                self.acc >>= 8
                self.n -= 8

        def flush(self) -> None:
            if self.n:
                self.out.append(self.acc & 0xFF)
                self.acc, self.n = 0, 0

    def lzw_compress(pixels: "np.ndarray") -> bytes:
        w = LzwWriter()
        cs, free, table = 9, 258, {}
        w.put(CLEAR, cs)
        # the current sequence is represented by its code id; trie
        # keys pack (prefix code, next byte) into one int — tuple
        # keys measured measurably slower on the per-pixel path
        seq = int(pixels[0])
        emitted = 0

        def emit(code: int) -> None:
            nonlocal cs
            w.put(code, cs)
            # compress-style late widening: the check runs AFTER
            # each emit against the pre-add entry count
            if cs < 12 and free >= (1 << cs):
                cs += 1

        for px in pixels[1:].tolist():
            cand = (seq << 8) | px
            code = table.get(cand)
            if code is not None:
                seq = code
                continue
            emit(seq)
            emitted += 1
            if free < 4096:
                table[cand] = free
                free += 1
            if emitted % clear_every == 0 or free == 4096:
                w.put(CLEAR, cs)
                cs, free, table = 9, 258, {}
            seq = px
        emit(seq)
        w.put(EOI, cs)
        w.flush()
        return bytes(w.out)

    def palette() -> bytes:
        i = np.arange(256, dtype=np.int64)
        return (
            np.stack(
                [(i * 7 + 13) % 256, (i * 31 + 5) % 256, (i * 13 + 101) % 256],
                axis=1,
            )
            .astype(np.uint8)
            .tobytes()
        )

    pal = palette()

    def encode(doc_id: int, payload: bytes) -> bytes:
        w, h = 16 + doc_id % 17, 12 + doc_id % 13
        lzw = lzw_compress(np.resize(np.frombuffer(payload, np.uint8), w * h))
        sub = b"".join(
            bytes([len(lzw[i : i + 100])]) + lzw[i : i + 100]
            for i in range(0, len(lzw), 100)
        )
        return (
            b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256
            + pal
            # Graphic Control Extension (to skip)
            + b"\x21\xf9\x04\x00\x00\x00\x00\x00"
            # Comment Extension, two sub-blocks (to skip)
            + b"\x21\xfe\x04smrr\x05synth\x00"
            # Image Descriptor: full frame, no LCT, not interlaced
            + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
            + b"\x08"  # LZW min code size
            + sub
            + b"\x00"  # block terminator
            + b"\x3b"  # trailer
        )

    # root table built ONCE per codec, copied per image: the
    # per-image listcomp was 9 % of decode tottime (profile in
    # `git show 8342ba9:GIF_PROFILE_r15.json`); bytes are immutable so
    # sharing is safe
    roots = [bytes([i]) for i in range(256)] + [b"", b""]

    def skip_subblocks(b: bytes, pos: int) -> int:
        while True:
            if pos >= len(b):
                raise ValueError("truncated GIF: sub-block length")
            n = b[pos]
            pos += 1
            if n == 0:
                return pos
            pos += n

    def read_subblocks(b: bytes, pos: int) -> tuple[bytes, int]:
        out = bytearray()
        while True:
            if pos >= len(b):
                raise ValueError("truncated GIF: sub-block length")
            n = b[pos]
            pos += 1
            if n == 0:
                return bytes(out), pos
            if pos + n > len(b):
                raise ValueError("truncated GIF: sub-block data")
            out.extend(b[pos : pos + n])
            pos += n

    def lzw_decompress(data: bytes, expected: int) -> "np.ndarray":
        # output accumulates as a list of byte-strings joined once —
        # a per-code numpy slice assignment measured ~3x slower
        parts: list[bytes] = []
        filled = 0
        acc = n = pos = 0
        cs, next_code = 9, 258
        table: list[bytes] = roots.copy()
        prev: bytes | None = None
        while True:
            while n < cs:
                if pos >= len(data):
                    raise ValueError("truncated GIF: LZW stream")
                acc |= data[pos] << n
                n += 8
                pos += 1
            code = acc & ((1 << cs) - 1)
            acc >>= cs
            n -= cs
            if code == CLEAR:
                cs, next_code = 9, 258
                del table[258:]
                prev = None
                continue
            if code == EOI:
                break
            if prev is None:
                if code >= 256:
                    raise ValueError("GIF LZW: first code not a root")
                entry = table[code]
            else:
                if code < next_code:
                    entry = table[code]
                elif code == next_code:
                    entry = prev + prev[:1]  # KwKwK
                else:
                    raise ValueError("GIF LZW: code past table end")
                if next_code < 4096:  # deferred-clear tolerance
                    table.append(prev + entry[:1])
                    next_code += 1
                    if cs < 12 and next_code == (1 << cs):
                        cs += 1
            filled += len(entry)
            if filled > expected:
                raise ValueError("GIF raster overflows descriptor")
            parts.append(entry)
            prev = entry
        if filled != expected:
            raise ValueError("GIF raster size mismatch")
        return np.frombuffer(b"".join(parts), dtype=np.uint8)

    def parse(b: bytes):
        if b[:6] not in (b"GIF89a", b"GIF87a"):
            raise ValueError("not a GIF: bad signature")
        if len(b) < 13:
            raise ValueError("truncated GIF: screen descriptor")
        sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
        pos = 13
        pal = None
        if packed & 0x80:
            gct_n = 2 << (packed & 0x07)
            if pos + gct_n * 3 > len(b):
                raise ValueError("truncated GIF: global color table")
            pal = np.frombuffer(
                b, dtype=np.uint8, offset=pos, count=gct_n * 3
            ).reshape(gct_n, 3).astype(np.int64)
            pos += gct_n * 3
        while True:
            if pos >= len(b):
                raise ValueError("truncated GIF: missing trailer")
            block = b[pos]
            pos += 1
            if block == 0x21:  # extension: label byte + sub-blocks
                pos = skip_subblocks(b, pos + 1)
            elif block == 0x2C:  # image descriptor
                if pos + 10 > len(b):  # descriptor + min code size
                    raise ValueError("truncated GIF: image descriptor")
                left, top, w, h, ipacked = struct.unpack(
                    "<HHHHB", b[pos : pos + 9]
                )
                pos += 9
                if ipacked & 0x40:
                    raise ValueError("interlaced GIF unsupported")
                if ipacked & 0x80:
                    raise ValueError("local color tables unsupported")
                if pal is None:
                    raise ValueError("GIF has no color table")
                if (left, top, w, h) != (0, 0, sw, sh):
                    raise ValueError("partial-frame GIF unsupported")
                if w * h > (1 << 24):
                    # LZW can expand ~1500x: bound the output raster
                    # BEFORE allocating (zip-bomb guard)
                    raise ValueError("GIF raster too large")
                min_cs = b[pos]
                pos += 1
                if min_cs != 8:
                    raise ValueError("GIF min code size must be 8 here")
                lzw, pos = read_subblocks(b, pos)
                idx = lzw_decompress(lzw, w * h)
                if pos >= len(b) or b[pos] != 0x3B:
                    raise ValueError("GIF missing trailer")
                return w, h, idx, pal
            elif block == 0x3B:
                raise ValueError("GIF trailer before any image")
            else:
                raise ValueError(f"unknown GIF block 0x{block:02x}")

    def decode(b: bytes) -> list[tuple]:
        w, h, idx, pal = parse(b)
        rgb = pal[idx]  # palette lookup — the decode step
        mean_idx = int(idx.astype(np.int64).sum()) * 1000 // (w * h)
        means = rgb.sum(axis=0, dtype=np.int64) * 1000 // (w * h)
        return [(w, h, mean_idx, *means.tolist())]

    return encode, decode


def decode_image_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF codec round trip, stdlib-only — the LZW leg of the
    codec suite (dictionary coding; every other codec is either raw,
    deflate, DCT, or companding). Encode each doc as a valid GIF89a —
    non-identity 256-color global palette, skippable GCE/Comment
    extensions, real variable-width LSB-first GIF-LZW with mid-stream
    CLEAR resets and <=100-byte sub-blocks — then decode with a full
    parser (header/LSD, color-table USE, extension walk, LZW with
    KwKwK + late widening + deferred-clear tolerance, trailer check)
    and emit index + palette-mapped channel means. The DuckDB oracle
    recomputes both from the text bytes and the palette formulas: a
    hash match proves the dictionary-coding round trip AND that the
    decoder actually looks indexes up in the color table.
    """
    encode, decode = _gif_codec()
    return per_doc(
        spark,
        sf_dir,
        lambda d, p: decode(encode(d, p)),
        "doc_id long, width long, height long, mean_idx_milli long, "
        "mean_r_milli long, mean_g_milli long, mean_b_milli long",
    )


DECODE_IMAGE_GIF_SQL = f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text))::BIGINT AS n,
           ({GIF_W_EXPR})::BIGINT AS w, ({GIF_H_EXPR})::BIGINT AS ht
    FROM documents
),
px AS (
    SELECT doc_id, w, ht,
      [ {cycled_byte_sql("i-1")} for i in range(1, w*ht + 1) ] AS idx
    FROM b
)
SELECT doc_id, w AS width, ht AS height,
  CAST(list_sum(idx) * 1000 // (w*ht) AS BIGINT) AS mean_idx_milli,
  CAST(list_sum(list_transform(idx, i -> {GIF_R_EXPR})) * 1000 // (w*ht) AS BIGINT) AS mean_r_milli,
  CAST(list_sum(list_transform(idx, i -> {GIF_G_EXPR})) * 1000 // (w*ht) AS BIGINT) AS mean_g_milli,
  CAST(list_sum(list_transform(idx, i -> {GIF_B_EXPR})) * 1000 // (w*ht) AS BIGINT) AS mean_b_milli
FROM px
"""


# ---------------------------------------------------------------------
# TGA (Truevision TGA 2.0, image type 10: RLE true-color — the
# run-length-coding family; every other codec is raw, deflate, DCT,
# companding, or LZW)
# ---------------------------------------------------------------------
TGA_W_EXPR = "3 + doc_id % 6"  # 3..8 px
TGA_H_EXPR = "3 + doc_id % 5"  # 3..7 px


def _tga_codec():
    """Truevision TGA 2.0 codec (image type 10: RLE true-color),
    stdlib struct + numpy.

    encode: a spec-conformant writer. 24 bpp, bottom-up row order and
    BGR byte order (the TGA on-disk conventions — same traps as the AVI
    DIB frames), a 5-byte image-ID field the decoder must skip,
    per-scanline RLE packets (runs -> RLE packets, literals -> raw
    packets, both <=128 pixels per the spec), and the optional v2
    footer signature. Pixels cycle the doc's UTF-8 bytes over the
    LOGICAL top-down RGB layout.

    decode: header validation (type 10, 24 bpp, no color map, no alpha
    bits), image-ID skip, a REAL RLE unpacker (RLE and raw packets,
    1..128 pixels each, overflow and truncation rejected), BOTH
    vertical-origin conventions (descriptor bit 5), BGR -> RGB swap,
    and v2 footer validation when trailing bytes exist. Emits the same
    per-channel integer means as the other image codecs."""
    import struct

    import numpy as np

    def rle_row(row: "np.ndarray") -> bytes:
        """RLE one scanline of (w, 3) pixels: maximal equal-pixel
        runs become RLE packets, everything else raw packets."""
        out = bytearray()
        w = len(row)
        i = 0
        while i < w:
            # measure the run at i
            j = i + 1
            while j < w and j - i < 128 and (row[j] == row[i]).all():
                j += 1
            if j - i >= 2:  # RLE packet
                out.append(0x80 | (j - i - 1))
                out.extend(row[i].tobytes())
                i = j
            else:  # collect literals until the next run of >=2
                k = i + 1
                while k < w and k - i < 128:
                    if k + 1 < w and (row[k + 1] == row[k]).all():
                        break
                    k += 1
                out.append(k - i - 1)
                out.extend(row[i:k].tobytes())
                i = k
        return bytes(out)

    def encode(doc_id: int, payload: bytes) -> bytes:
        w, h = 3 + doc_id % 6, 3 + doc_id % 5
        logical = np.resize(
            np.frombuffer(payload, np.uint8), h * w * 3
        ).reshape(h, w, 3)
        # on-disk: bottom-up rows, BGR channel order
        disk = logical[::-1, :, ::-1]
        header = (
            struct.pack(
                "<BBBHHBHHHHBB",
                5,  # idlength: 5-byte image ID to skip
                0,  # no color map
                10,  # RLE true-color
                0, 0, 0,  # color map spec (unused)
                0, 0,  # x/y origin
                w, h,
                24,  # bpp
                0x00,  # descriptor: bottom-up, no alpha
            )
            + b"smrr!"  # the image ID field itself
        )
        body = b"".join(rle_row(disk[r]) for r in range(h))
        footer = (
            b"\x00" * 8  # ext/dev directory offsets: none
            + b"TRUEVISION-XFILE.\x00"
        )
        return header + body + footer

    def parse(b: bytes) -> tuple[int, int, "np.ndarray"]:
        if len(b) < 18:
            raise ValueError("truncated TGA header")
        (idlen, cmap, itype, _cfirst, _clen, _csize, _xo, _yo,
         w, h, bpp, desc) = struct.unpack("<BBBHHBHHHHBB", b[:18])
        if itype != 10 or cmap != 0:
            raise ValueError("unsupported TGA (want RLE true-color)")
        if bpp != 24 or desc & 0x0F:
            raise ValueError("unsupported TGA (want 24 bpp, no alpha)")
        if w * h > (1 << 24):
            raise ValueError("TGA raster too large")
        pos = 18 + idlen  # skip the image ID field
        if pos > len(b):
            raise ValueError("truncated TGA: image ID")
        need = w * h
        px = np.empty((need, 3), dtype=np.uint8)
        filled = 0
        while filled < need:
            if pos >= len(b):
                raise ValueError("truncated TGA: RLE stream")
            head = b[pos]
            pos += 1
            count = (head & 0x7F) + 1
            if filled + count > need:
                raise ValueError("TGA RLE overflows raster")
            if head & 0x80:  # RLE packet: one pixel repeated
                if pos + 3 > len(b):
                    raise ValueError("truncated TGA: RLE packet")
                px[filled : filled + count] = np.frombuffer(
                    b, dtype=np.uint8, offset=pos, count=3
                )
                pos += 3
            else:  # raw packet: count literal pixels
                if pos + 3 * count > len(b):
                    raise ValueError("truncated TGA: raw packet")
                px[filled : filled + count] = np.frombuffer(
                    b, dtype=np.uint8, offset=pos, count=3 * count
                ).reshape(count, 3)
                pos += 3 * count
            filled += count
        # trailing bytes must be a valid v2 footer (or nothing)
        rest = b[pos:]
        if rest and (
            len(rest) != 26 or rest[8:] != b"TRUEVISION-XFILE.\x00"
        ):
            raise ValueError("garbage after TGA image data")
        img = px.reshape(h, w, 3)
        if not desc & 0x20:  # bit 5 clear: bottom-up origin
            img = img[::-1]
        return w, h, img[:, :, ::-1].reshape(need, 3)  # BGR -> RGB

    def decode(b: bytes) -> list[tuple]:
        w, h, px = parse(b)
        means = px.sum(axis=0, dtype=np.int64) * 1000 // (w * h)
        return [(w, h, *means.tolist())]

    return encode, decode


def decode_image_tga(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TGA codec round trip, stdlib-only — the run-length-coding
    leg of the codec suite (raw/deflate/DCT/companding/LZW are covered
    by the other seven). Encode each doc as a valid Truevision TGA 2.0
    type-10 file (RLE + raw packets, bottom-up BGR storage, an
    image-ID field to skip, the v2 footer signature), then decode with
    a full parser (header/descriptor validation, packet unpacking with
    overflow/truncation rejection, both origin conventions, footer
    check) and emit per-channel integer means of the logical top-down
    RGB image. Shares the PPM/PNG oracle template (different dimension
    formulas): a hash match proves the RLE round trip is lossless.
    """
    encode, decode = _tga_codec()
    return per_doc(
        spark, sf_dir, lambda d, p: decode(encode(d, p)), IMAGE_RGB_SCHEMA
    )


# shared oracle template with PPM/PNG — only the dimension formulas
# differ (hash match proves the RLE round trip against the same
# ground truth)
DECODE_IMAGE_TGA_SQL = _decode_image_oracle_sql(TGA_W_EXPR, TGA_H_EXPR)


# ---------------------------------------------------------------------
# Tar shards (POSIX ustar) — the WebDataset shape: multimodal training
# corpora ship as tar archives of related member files, and the
# pipeline's first step is enumerating members WITHOUT unpacking to a
# filesystem. Public format: POSIX.1-1988 ustar.
# ---------------------------------------------------------------------
TAR_HEAD_BYTES = 48  # member 1 carries the first 48 cycled text bytes


MEMBER_SCHEMA = (
    "doc_id long, member_idx long, name string, n_bytes long, sum_bytes long"
)


def _tar_codec():
    """POSIX ustar shard codec, stdlib + numpy.

    encode: a spec-conformant writer (512-byte headers, octal size
    fields, the space-filled checksum convention, data padded to 512,
    two zero end blocks). Each doc becomes a 3-member shard the way
    WebDataset groups related files under one key: doc{id}/text.txt
    (the full UTF-8 text), doc{id}/head.bin (first 48 cycled bytes),
    and doc{id}/meta.txt (the decimal doc id).

    decode: member enumeration with a REAL ustar parser — 512-byte
    block walk, NUL-terminated names, octal size fields, CHECKSUM
    VERIFICATION per header (space-filled field convention),
    magic/typeflag validation, data-padding arithmetic, and the
    two-zero-block end marker — one (member_idx, name, n_bytes,
    sum_bytes) row per member, the WebDataset enumerate-without-
    unpacking step. Rejects truncated archives, bad checksums, and
    non-ustar headers."""
    import numpy as np

    head_n = TAR_HEAD_BYTES

    def header(name: bytes, size: int) -> bytes:
        h = bytearray(512)
        h[0 : len(name)] = name  # name, NUL-padded
        h[100:108] = b"0000644\x00"  # mode
        h[108:116] = b"0000000\x00"  # uid
        h[116:124] = b"0000000\x00"  # gid
        h[124:136] = b"%011o\x00" % size
        h[136:148] = b"00000000000\x00"  # mtime: epoch, deterministic
        h[148:156] = b" " * 8  # checksum field counts as spaces
        h[156] = 0x30  # typeflag '0': regular file
        h[257:263] = b"ustar\x00"  # POSIX magic
        h[263:265] = b"00"  # version
        chk = sum(h)
        h[148:156] = b"%06o\x00 " % chk
        return bytes(h)

    def member(name: bytes, data: bytes) -> bytes:
        pad = (512 - len(data) % 512) % 512
        return header(name, len(data)) + data + b"\x00" * pad

    def encode(doc_id: int, payload: bytes) -> bytes:
        head = np.resize(np.frombuffer(payload, np.uint8), head_n).tobytes()
        prefix = b"doc%d/" % doc_id
        return (
            member(prefix + b"text.txt", payload)
            + member(prefix + b"head.bin", head)
            + member(prefix + b"meta.txt", b"%d" % doc_id)
            + b"\x00" * 1024  # end-of-archive marker
        )

    def parse(b: bytes):
        """Yield (name, size, sum_bytes) per member."""
        pos, end = 0, len(b)
        while True:
            if pos + 512 > end:
                raise ValueError("truncated tar: header block")
            h = b[pos : pos + 512]
            if h == b"\x00" * 512:  # first end block
                if b[pos + 512 : pos + 1024] != b"\x00" * 512:
                    raise ValueError("tar missing second end block")
                return
            if h[257:263] != b"ustar\x00":
                raise ValueError("not a ustar header")
            stored = h[148:156]
            chk = sum(h[:148]) + 8 * 0x20 + sum(h[156:])
            try:
                stored_v = int(stored.rstrip(b"\x00 ").lstrip() or b"0", 8)
                size = int(
                    h[124:136].rstrip(b"\x00 ").lstrip() or b"0", 8
                )
            except ValueError as exc:
                raise ValueError("malformed tar octal field") from exc
            if stored_v != chk:
                raise ValueError("tar header checksum mismatch")
            if h[156] != 0x30:
                raise ValueError("unsupported tar member type")
            name = h[:100].split(b"\x00", 1)[0].decode("utf-8")
            data_end = pos + 512 + size
            if data_end > end:
                raise ValueError("truncated tar: member data")
            data = np.frombuffer(
                b, dtype=np.uint8, offset=pos + 512, count=size
            )
            yield name, size, int(data.sum(dtype=np.int64))
            pos = data_end + (512 - size % 512) % 512

    def decode(b: bytes) -> list[tuple]:
        return [(i, *member) for i, member in enumerate(parse(b))]

    return encode, decode


def tar_shard_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL archive-container round trip, stdlib-only: pack each doc
    into a POSIX ustar shard (the WebDataset layout — related member
    files grouped under one key) and enumerate it back with a full
    parser (checksum verification, octal fields, 512-block arithmetic,
    end-marker validation), one row per member with exact byte stats.
    This is the first step every tar-sharded training pipeline runs —
    member enumeration WITHOUT unpacking to a filesystem — expressed
    as the same per-doc kernel as the codecs. The DuckDB oracle
    reconstructs all three members' names, sizes, and byte sums
    straight from the text bytes and the doc id."""
    encode, decode = _tar_codec()
    return per_doc(
        spark, sf_dir, lambda d, p: decode(encode(d, p)), MEMBER_SCHEMA
    )


# Three members per doc: the full text (sum over all payload bytes),
# the first 48 cycled bytes, and the decimal doc id in ASCII.
TAR_SHARD_MEMBERS_SQL = f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text))::BIGINT AS n
    FROM documents
),
full_sum AS (
    SELECT doc_id, n,
           coalesce(list_sum(
             [ {{hb}} for i in range(1, n + 1) ]
           ), 0)::BIGINT AS s
    FROM b
),
head_sum AS (
    SELECT doc_id,
           list_sum(
             [ {{cb}} for i in range(1, {TAR_HEAD_BYTES} + 1) ]
           )::BIGINT AS s
    FROM b
),
meta AS (
    SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds FROM b
)
SELECT doc_id, 0::BIGINT AS member_idx,
       'doc' || doc_id || '/text.txt' AS name,
       n AS n_bytes, s AS sum_bytes
FROM full_sum
UNION ALL
SELECT doc_id, 1, 'doc' || doc_id || '/head.bin', {TAR_HEAD_BYTES}, s
FROM head_sum
UNION ALL
SELECT doc_id, 2, 'doc' || doc_id || '/meta.txt',
       length(ds)::BIGINT,
       list_sum(list_transform(string_split(ds, ''), x -> ascii(x)))::BIGINT
FROM meta
""".format(
    hb=hex_byte_sql("i"),
    cb=cycled_byte_sql("i-1"),
)


# ---------------------------------------------------------------------
# ZIP shards (PKWARE APPNOTE: local headers + central directory + EOCD)
# ---------------------------------------------------------------------
ZIP_HEAD_BYTES = TAR_HEAD_BYTES  # member 2 mirrors the tar shard layout


def _zip_codec():
    """PKZIP shard codec (APPNOTE), stdlib zlib/struct + numpy.

    encode: a spec-conformant writer. Each doc becomes the same
    3-member shard as the tar path, but with the container traps ZIP
    adds: text.txt is DEFLATED (raw deflate, wbits=-15), head.bin
    carries a local-header extra field that the central entry does NOT
    repeat (offset arithmetic must use the LOCAL lengths), meta.txt is
    stored, and the EOCD record carries a comment so the end record is
    not at a fixed offset from EOF. CRC-32 over uncompressed data per
    member.

    decode: member enumeration with a REAL PKZIP parser that reads the
    archive the scale-correct way — EOCD located by scanning back from
    EOF (comment-tolerant, trailing-garbage rejected), central
    directory walked for the member census, then each member's data
    located via its LOCAL header's own name/extra lengths (the central
    lengths can differ by spec). Stored and deflated methods; CRC-32
    and uncompressed size verified per member; inflate bounded by the
    declared size + declared-size cap as the decompression-bomb guard.
    Rejects encrypted entries, unsupported methods, bad signatures, and
    truncation."""
    import struct
    import zlib

    import numpy as np

    head_n = ZIP_HEAD_BYTES

    def deflate(data: bytes) -> bytes:
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        return co.compress(data) + co.flush()

    def build(members: list[tuple[bytes, bytes, int, bytes]]) -> bytes:
        """members: (name, data, method, local_extra)."""
        out = bytearray()
        central = bytearray()
        for name, data, method, extra in members:
            crc = zlib.crc32(data) & 0xFFFFFFFF
            comp = deflate(data) if method == 8 else data
            off = len(out)
            out += struct.pack(
                "<IHHHHHIIIHH",
                0x04034B50, 20, 0, method, 0, 0x21,
                crc, len(comp), len(data), len(name), len(extra),
            )
            out += name + extra + comp
            central += struct.pack(
                "<IHHHHHHIIIHHHHHII",
                0x02014B50, 20, 20, 0, method, 0, 0x21,
                crc, len(comp), len(data), len(name),
                0, 0, 0, 0, 0, off,
            )
            central += name  # central extra/comment stay empty
        cd_off = len(out)
        out += central
        comment = b"smrr-zip"
        out += struct.pack(
            "<IHHHHIIH",
            0x06054B50, 0, 0, len(members), len(members),
            len(central), cd_off, len(comment),
        )
        out += comment
        return bytes(out)

    def encode(doc_id: int, payload: bytes) -> bytes:
        head = np.resize(np.frombuffer(payload, np.uint8), head_n).tobytes()
        prefix = b"doc%d/" % doc_id
        return build(
            [
                (prefix + b"text.txt", payload, 8, b""),
                (prefix + b"head.bin", head, 0, b"XTRA"),
                (prefix + b"meta.txt", b"%d" % doc_id, 0, b""),
            ]
        )

    MAX_MEMBER = 1 << 24  # bomb guard: reject before allocating

    def find_eocd(b: bytes):
        tail = max(0, len(b) - 65557)
        idx = b.rfind(b"PK\x05\x06", tail)
        while idx != -1:
            if idx + 22 <= len(b):
                rec = struct.unpack("<IHHHHIIH", b[idx : idx + 22])
                if idx + 22 + rec[7] == len(b):
                    return idx, rec
            idx = b.rfind(b"PK\x05\x06", tail, idx)
        raise ValueError("ZIP: no end-of-central-directory record")

    def parse(b: bytes):
        eocd_pos, (_, disk, cd_disk, n_here, n_total, cd_size, cd_off, _) = (
            find_eocd(b)
        )
        if disk or cd_disk or n_here != n_total:
            raise ValueError("multi-disk ZIP unsupported")
        if cd_off + cd_size != eocd_pos:
            raise ValueError("ZIP central directory size mismatch")
        pos = cd_off
        for _i in range(n_total):
            if pos + 46 > eocd_pos:
                raise ValueError("truncated ZIP central directory")
            (
                sig, _vm, _vn, flags, method, _t, _d, crc, csize, usize,
                nlen, elen, clen, _dk, _ia, _ea, lfh_off,
            ) = struct.unpack("<IHHHHHHIIIHHHHHII", b[pos : pos + 46])
            if sig != 0x02014B50:
                raise ValueError("bad ZIP central header signature")
            if flags & 0x1:
                raise ValueError("encrypted ZIP entry unsupported")
            if method not in (0, 8):
                raise ValueError("unsupported ZIP compression method")
            if usize > MAX_MEMBER:
                raise ValueError("ZIP member too large")
            name = b[pos + 46 : pos + 46 + nlen].decode("utf-8")
            pos += 46 + nlen + elen + clen
            # data offset comes from the LOCAL header's own lengths
            if lfh_off + 30 > len(b):
                raise ValueError("truncated ZIP local header")
            (lsig, _lv, _lf, lmethod, _lt, _ld, _lcrc, _lcs, _lus,
             lnlen, lelen) = struct.unpack(
                "<IHHHHHIIIHH", b[lfh_off : lfh_off + 30]
            )
            if lsig != 0x04034B50:
                raise ValueError("bad ZIP local header signature")
            if lmethod != method:
                raise ValueError("ZIP local/central method mismatch")
            data_off = lfh_off + 30 + lnlen + lelen
            if data_off + csize > len(b):
                raise ValueError("truncated ZIP member data")
            comp = b[data_off : data_off + csize]
            if method == 8:
                do = zlib.decompressobj(-15)
                try:
                    data = do.decompress(comp, usize + 1)
                except zlib.error as exc:
                    raise ValueError("corrupt ZIP deflate stream") from exc
            else:
                data = comp
            if len(data) != usize:
                raise ValueError("ZIP member size mismatch")
            if zlib.crc32(data) & 0xFFFFFFFF != crc:
                raise ValueError("ZIP member CRC mismatch")
            arr = np.frombuffer(data, dtype=np.uint8)
            yield name, usize, int(arr.sum(dtype=np.int64))
        if pos != eocd_pos:
            raise ValueError("ZIP central directory overruns EOCD")

    def decode(b: bytes) -> list[tuple]:
        return [(i, *member) for i, member in enumerate(parse(b))]

    return encode, decode


def zip_shard_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PKZIP container round trip, stdlib-only — the second archive
    format beside the ustar shards, and structurally the opposite one:
    tar is a sequential block walk, ZIP is enumerated from a trailing
    central directory (EOCD scan → central walk → per-member local
    headers), which is exactly how object-storage ZIP listing works at
    scale (read the tail, never stream the archive). Same 3-member
    layout and byte statistics as ``tar_shard_members`` so the two
    containers share one oracle template; text.txt rides DEFLATE, so a
    hash match also proves the in-container compression round trip.
    Third-party interop is pinned both directions against stdlib
    ``zipfile`` in tests/test_zip_codec.py."""
    encode, decode = _zip_codec()
    return per_doc(
        spark, sf_dir, lambda d, p: decode(encode(d, p)), MEMBER_SCHEMA
    )


# identical member layout and stats as the tar shards by construction —
# the shared oracle is the point: two independent container parsers must
# reproduce the same ground truth
ZIP_SHARD_MEMBERS_SQL = TAR_SHARD_MEMBERS_SQL


# ---------------------------------------------------------------------
# gzip members (RFC 1952: flag walk + deflate + CRC32/ISIZE trailer)
# ---------------------------------------------------------------------
GZIP_HEAD_BYTES = TAR_HEAD_BYTES  # member 2 mirrors the shard layout


def _gzip_codec():
    """RFC 1952 gzip codec, stdlib zlib/struct + numpy.

    encode: a spec-conformant writer producing a CONCATENATED
    two-member stream per doc — the multistream form most naive gzip
    readers stop after one member of. Member 1 (doc{id}/text.txt) sets
    FNAME + FEXTRA + FCOMMENT + FHCRC, so the decoder must walk every
    optional header field and verify the CRC16; member 2
    (doc{id}/head.bin, first 48 cycled bytes) sets only FNAME. Raw
    deflate bodies, CRC32 + ISIZE trailers.

    decode: member enumeration with a REAL RFC 1952 parser —
    magic/CM validation, reserved-flag rejection, FEXTRA / FNAME /
    FCOMMENT walks, FHCRC verification (CRC32 of the header, low 16
    bits), bounded raw-deflate inflation, CRC32 + ISIZE trailer checks,
    and CONTINUATION across concatenated members until EOF (the
    multistream semantics of RFC 1952 §2.2). One row per member with
    exact byte stats. Rejects trailing garbage, truncation, and bombs
    via an inflated-size cap."""
    import struct
    import zlib

    import numpy as np

    head_n = GZIP_HEAD_BYTES

    def member(name: bytes, data: bytes, full_flags: bool) -> bytes:
        co = zlib.compressobj(6, zlib.DEFLATED, -15)
        body = co.compress(data) + co.flush()
        flg = 0x08  # FNAME
        if full_flags:
            flg |= 0x04 | 0x10 | 0x02  # FEXTRA | FCOMMENT | FHCRC
        head = bytearray(
            struct.pack("<BBBBIBB", 0x1F, 0x8B, 8, flg, 0, 0, 255)
        )
        if full_flags:
            extra = b"SM\x04\x00smrr"  # one subfield, 4 data bytes
            head += struct.pack("<H", len(extra)) + extra
        head += name + b"\x00"
        if full_flags:
            head += b"synthetic member\x00"  # FCOMMENT
            head += struct.pack("<H", zlib.crc32(bytes(head)) & 0xFFFF)
        trailer = struct.pack(
            "<II", zlib.crc32(data) & 0xFFFFFFFF, len(data) & 0xFFFFFFFF
        )
        return bytes(head) + body + trailer

    def encode(doc_id: int, payload: bytes) -> bytes:
        head = np.resize(np.frombuffer(payload, np.uint8), head_n).tobytes()
        prefix = b"doc%d/" % doc_id
        return member(prefix + b"text.txt", payload, True) + member(
            prefix + b"head.bin", head, False
        )

    MAX_MEMBER = 1 << 24  # bomb guard

    def parse(b: bytes):
        pos = 0
        if not b:
            raise ValueError("empty gzip stream")
        while pos < len(b):
            start = pos
            if pos + 10 > len(b):
                raise ValueError("truncated gzip header")
            magic1, magic2, cm, flg, _mtime, _xfl, _os = struct.unpack(
                "<BBBBIBB", b[pos : pos + 10]
            )
            if (magic1, magic2) != (0x1F, 0x8B):
                raise ValueError("bad gzip magic")
            if cm != 8:
                raise ValueError("unsupported gzip compression method")
            if flg & 0xE0:
                raise ValueError("reserved gzip flag bits set")
            pos += 10
            if flg & 0x04:  # FEXTRA
                if pos + 2 > len(b):
                    raise ValueError("truncated gzip FEXTRA length")
                (xlen,) = struct.unpack("<H", b[pos : pos + 2])
                pos += 2
                if pos + xlen > len(b):
                    raise ValueError("truncated gzip FEXTRA")
                pos += xlen
            name = ""
            if flg & 0x08:  # FNAME
                end = b.find(b"\x00", pos)
                if end == -1:
                    raise ValueError("unterminated gzip FNAME")
                name = b[pos:end].decode("utf-8")
                pos = end + 1
            if flg & 0x10:  # FCOMMENT
                end = b.find(b"\x00", pos)
                if end == -1:
                    raise ValueError("unterminated gzip FCOMMENT")
                pos = end + 1
            if flg & 0x02:  # FHCRC
                if pos + 2 > len(b):
                    raise ValueError("truncated gzip FHCRC")
                (stored,) = struct.unpack("<H", b[pos : pos + 2])
                if zlib.crc32(b[start:pos]) & 0xFFFF != stored:
                    raise ValueError("gzip header CRC mismatch")
                pos += 2
            do = zlib.decompressobj(-15)
            try:
                data = do.decompress(b[pos:], MAX_MEMBER + 1)
            except zlib.error as exc:
                raise ValueError("corrupt gzip deflate stream") from exc
            if len(data) > MAX_MEMBER:
                raise ValueError("gzip member too large")
            if not do.eof:
                raise ValueError("truncated gzip deflate stream")
            pos = len(b) - len(do.unused_data)
            if pos + 8 > len(b):
                raise ValueError("truncated gzip trailer")
            crc, isize = struct.unpack("<II", b[pos : pos + 8])
            if zlib.crc32(data) & 0xFFFFFFFF != crc:
                raise ValueError("gzip CRC32 mismatch")
            if len(data) & 0xFFFFFFFF != isize:
                raise ValueError("gzip ISIZE mismatch")
            pos += 8
            arr = np.frombuffer(data, dtype=np.uint8)
            yield name, len(data), int(arr.sum(dtype=np.int64))

    def decode(b: bytes) -> list[tuple]:
        return [(i, *member) for i, member in enumerate(parse(b))]

    return encode, decode


def gzip_member_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RFC 1952 gzip round trip, stdlib-only — the third container
    beside tar (sequential blocks) and ZIP (central directory): gzip is
    a pure STREAM, members delimited only by their own
    header/deflate/trailer framing, so enumeration means walking every
    optional header field (FEXTRA/FNAME/FCOMMENT/FHCRC all planted by
    the encoder) and continuing across concatenated members — the
    multistream semantics naive readers miss. CRC32 + ISIZE verified
    per member. Third-party interop vs stdlib ``gzip`` is pinned both
    directions in tests/test_gzip_codec.py. The DuckDB oracle shares
    the tar/zip template minus the meta member."""
    encode, decode = _gzip_codec()
    return per_doc(
        spark, sf_dir, lambda d, p: decode(encode(d, p)), MEMBER_SCHEMA
    )


GZIP_MEMBER_STATS_SQL = f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text))::BIGINT AS n
    FROM documents
),
full_sum AS (
    SELECT doc_id, n,
           coalesce(list_sum(
             [ {{hb}} for i in range(1, n + 1) ]
           ), 0)::BIGINT AS s
    FROM b
),
head_sum AS (
    SELECT doc_id,
           list_sum(
             [ {{cb}} for i in range(1, {GZIP_HEAD_BYTES} + 1) ]
           )::BIGINT AS s
    FROM b
)
SELECT doc_id, 0::BIGINT AS member_idx,
       'doc' || doc_id || '/text.txt' AS name,
       n AS n_bytes, s AS sum_bytes
FROM full_sum
UNION ALL
SELECT doc_id, 1, 'doc' || doc_id || '/head.bin', {GZIP_HEAD_BYTES}, s
FROM head_sum
""".format(
    hb=hex_byte_sql("i"),
    cb=cycled_byte_sql("i-1"),
)


# ---------------------------------------------------------------------
# xz blocks (tukaani .xz spec: indexed blocks, footer-first access)
# ---------------------------------------------------------------------
XZ_HEAD_BYTES = TAR_HEAD_BYTES  # block 2 mirrors the shard layout
# 64 KiB dict (props byte 8): documents are far smaller than any dict,
# and LZMA allocates dict+match-finder state PER COMPRESSOR CALL — with
# two tiny members per doc the 1 MiB default made allocation, not
# compression, the cost (measured ~4x on the sf0.1 corpus)
XZ_DICT_SIZE = 1 << 16
XZ_PROPS_BYTE = 8


def _xz_codec():
    """.xz codec (tukaani xz file-format spec), stdlib lzma/zlib/struct.

    encode: a spec-conformant .xz stream writer emitting ONE stream
    with TWO blocks per doc — block 0 the full text (header carries no
    size fields), block 1 the first 48 cycled bytes (header carries
    both optional size varints, so the decoder must handle both header
    shapes). Raw LZMA2 block bodies come from liblzma (FORMAT_RAW), but
    every container byte — stream header, block headers with CRC32,
    block padding, CRC32 checks, the INDEX of (unpadded, uncompressed)
    varint records, and the footer with backward-size — is hand
    assembled per the public xz file-format spec.

    decode: block enumeration with a REAL footer-first .xz parser. It
    reads the stream FOOTER (YZ magic, CRC32, backward-size), locates
    the INDEX, verifies its CRC32, and computes every block's exact
    byte position from the (unpadded, uncompressed) records WITHOUT
    scanning the stream — the seekable random-access design that lets
    a 100 TB reader fetch one block with two range reads, and the
    structural opposite of gzip's walk-only stream. Each block is then
    header-parsed (CRC32, flag validation, LZMA2 props → dict size),
    bounded-inflated (bomb guard), and verified against its
    CRC32/CRC64/SHA-256 check AND its index record. Concatenated
    streams plus 4-byte-aligned stream padding are walked backward,
    emitted forward (spec §2.2). CRC-64/XZ is implemented here (ECMA-182
    reflected, table-driven) — stdlib has no crc64 and liblzma's default
    check is CRC64, so stdlib-produced files exercise that leg."""
    import hashlib
    import lzma
    import struct
    import zlib

    import numpy as np

    head_n = XZ_HEAD_BYTES
    dict_size = XZ_DICT_SIZE
    props_byte = XZ_PROPS_BYTE

    def put_varint(v: int) -> bytes:
        out = bytearray()
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
        return bytes(out)

    def block(data: bytes, with_sizes: bool) -> tuple[bytes, int]:
        comp = lzma.compress(
            data,
            format=lzma.FORMAT_RAW,
            filters=[
                {
                    "id": lzma.FILTER_LZMA2,
                    # preset 0: the query measures container logic,
                    # not ratio — higher presets only add CPU here
                    "preset": 0,
                    "dict_size": dict_size,
                }
            ],
        )
        body = bytearray([0xC0 if with_sizes else 0x00])
        if with_sizes:
            body += put_varint(len(comp)) + put_varint(len(data))
        body += put_varint(0x21) + put_varint(1)  # LZMA2, 1 props byte
        body.append(props_byte)
        total = 1 + len(body) + 4
        pad = (-total) % 4
        hdr = (
            bytes([(total + pad) // 4 - 1]) + bytes(body) + b"\x00" * pad
        )
        hdr += struct.pack("<I", zlib.crc32(hdr))
        check = struct.pack("<I", zlib.crc32(data))
        unpadded = len(hdr) + len(comp) + len(check)
        blk = hdr + comp + b"\x00" * ((-len(comp)) % 4) + check
        return blk, unpadded

    def stream(members: list[bytes]) -> bytes:
        sflags = b"\x00\x01"  # check type CRC32
        out = bytearray(
            b"\xfd7zXZ\x00" + sflags + struct.pack("<I", zlib.crc32(sflags))
        )
        records = []
        for i, data in enumerate(members):
            blk, unpadded = block(data, with_sizes=(i % 2 == 1))
            out += blk
            records.append((unpadded, len(data)))
        idx = bytearray(b"\x00") + put_varint(len(records))
        for up, un in records:
            idx += put_varint(up) + put_varint(un)
        idx += b"\x00" * ((-len(idx)) % 4)
        idx += struct.pack("<I", zlib.crc32(bytes(idx)))
        out += idx
        bw = struct.pack("<I", len(idx) // 4 - 1)
        out += struct.pack("<I", zlib.crc32(bw + sflags)) + bw + sflags
        out += b"YZ"
        return bytes(out)

    def encode(doc_id: int, payload: bytes) -> bytes:
        head = np.resize(np.frombuffer(payload, np.uint8), head_n).tobytes()
        return stream([payload, head])

    MAX_BLOCK = 1 << 24  # bomb guard
    MAX_DICT = 1 << 26  # decoder memory guard
    CHECK_SIZES = {0x00: 0, 0x01: 4, 0x04: 8, 0x0A: 32}

    poly = 0xC96C5795D7870F42
    tab = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        tab.append(c)

    def crc64(data: bytes) -> int:
        crc = 0xFFFFFFFFFFFFFFFF
        for byt in data:
            crc = tab[(crc ^ byt) & 0xFF] ^ (crc >> 8)
        return crc ^ 0xFFFFFFFFFFFFFFFF

    def get_varint(b: bytes, pos: int) -> tuple[int, int]:
        v = 0
        shift = 0
        while True:
            if pos >= len(b) or shift > 63:
                raise ValueError("bad xz varint")
            c = b[pos]
            pos += 1
            v |= (c & 0x7F) << shift
            if not c & 0x80:
                return v, pos
            shift += 7

    def parse_block(
        b: bytes, pos: int, unpadded: int, unsize: int, check_size: int
    ) -> bytes:
        if pos >= len(b):
            raise ValueError("xz block out of range")
        hsz_byte = b[pos]
        if hsz_byte == 0:
            raise ValueError("xz index where block expected")
        hsz = (hsz_byte + 1) * 4
        hdr = b[pos : pos + hsz]
        if len(hdr) < hsz:
            raise ValueError("truncated xz block header")
        (hcrc,) = struct.unpack("<I", hdr[-4:])
        if zlib.crc32(hdr[:-4]) != hcrc:
            raise ValueError("xz block header CRC mismatch")
        flags = hdr[1]
        if flags & 0x3C:
            raise ValueError("reserved xz block flags")
        if flags & 0x03:
            raise ValueError("unsupported xz filter chain")
        p = 2
        comp_size = un_size_field = None
        if flags & 0x40:
            comp_size, p = get_varint(hdr, p)
        if flags & 0x80:
            un_size_field, p = get_varint(hdr, p)
        fid, p = get_varint(hdr, p)
        psz, p = get_varint(hdr, p)
        if p + psz > hsz - 4:  # props may not reach padding/CRC
            raise ValueError("bad xz filter props length")
        props = hdr[p : p + psz]
        p += psz
        if fid != 0x21 or psz != 1:
            raise ValueError("unsupported xz filter")
        v = props[0]
        if v > 40:
            raise ValueError("bad LZMA2 dict props")
        dict_size = (
            0xFFFFFFFF if v == 40 else (2 | (v & 1)) << (v // 2 + 11)
        )
        while p < hsz - 4:
            if hdr[p] != 0:
                raise ValueError("bad xz block header padding")
            p += 1
        clen = unpadded - hsz - check_size
        if clen <= 0 or pos + hsz + clen > len(b):
            raise ValueError("bad xz unpadded size")
        comp = b[pos + hsz : pos + hsz + clen]
        if comp_size is not None and comp_size != clen:
            raise ValueError("xz compressed size mismatch")
        dec = lzma.LZMADecompressor(
            format=lzma.FORMAT_RAW,
            filters=[
                {
                    "id": lzma.FILTER_LZMA2,
                    "dict_size": min(dict_size, MAX_DICT),
                }
            ],
        )
        try:
            data = dec.decompress(comp, MAX_BLOCK + 1)
        except lzma.LZMAError as exc:
            raise ValueError("corrupt xz LZMA2 data") from exc
        # A block stalled at the max_length bound (eof unset, input
        # NOT exhausted) is an over-large block, not a truncated
        # one. DEFENSIVE: under current CPython, decompress() fills
        # max_length whenever more output exists, so the len check
        # already fires first (verified empirically + pinned by
        # test_bomb_guard_caps_inflated_size); the second disjunct
        # only matters if that implementation detail ever changes.
        if len(data) > MAX_BLOCK or (
            not dec.eof and not dec.needs_input
        ):
            raise ValueError("xz block too large")
        if not dec.eof:
            raise ValueError("unterminated xz LZMA2 data")
        if dec.unused_data:
            raise ValueError("trailing bytes in xz block data")
        if len(data) != unsize:
            raise ValueError("xz size mismatch with index record")
        if un_size_field is not None and un_size_field != unsize:
            raise ValueError("xz uncompressed size field mismatch")
        padded = (unpadded + 3) // 4 * 4
        pad = b[pos + hsz + clen : pos + padded - check_size]
        if any(pad):
            raise ValueError("bad xz block padding")
        check = b[pos + padded - check_size : pos + padded]
        if len(check) < check_size:
            raise ValueError("truncated xz block check")
        if check_size == 4:
            if struct.unpack("<I", check)[0] != zlib.crc32(data):
                raise ValueError("xz CRC32 mismatch")
        elif check_size == 8:
            if struct.unpack("<Q", check)[0] != crc64(data):
                raise ValueError("xz CRC64 mismatch")
        elif check_size == 32:
            if check != hashlib.sha256(data).digest():
                raise ValueError("xz SHA-256 mismatch")
        return data

    def parse_stream_backward(
        b: bytes, end: int
    ) -> tuple[int, list[bytes]]:
        if end < 32:
            raise ValueError("xz stream too short")
        if b[end - 2 : end] != b"YZ":
            raise ValueError("bad xz footer magic")
        (fcrc,) = struct.unpack("<I", b[end - 12 : end - 8])
        if zlib.crc32(b[end - 8 : end - 2]) != fcrc:
            raise ValueError("xz footer CRC mismatch")
        (bw,) = struct.unpack("<I", b[end - 8 : end - 4])
        sflags = b[end - 4 : end - 2]
        if sflags[0] != 0 or sflags[1] not in CHECK_SIZES:
            raise ValueError("bad xz stream flags")
        check_size = CHECK_SIZES[sflags[1]]
        idx_size = (bw + 1) * 4
        idx_start = end - 12 - idx_size
        if idx_start < 12:
            raise ValueError("xz index out of range")
        idx = b[idx_start : idx_start + idx_size]
        (icrc,) = struct.unpack("<I", idx[-4:])
        if zlib.crc32(idx[:-4]) != icrc:
            raise ValueError("xz index CRC mismatch")
        if idx[0] != 0:
            raise ValueError("bad xz index indicator")
        nrec, pos = get_varint(idx, 1)
        if nrec > 1 << 20:
            raise ValueError("xz index record count implausible")
        records = []
        for _ in range(nrec):
            up, pos = get_varint(idx, pos)
            un, pos = get_varint(idx, pos)
            records.append((up, un))
        while pos < idx_size - 4:
            if idx[pos] != 0:
                raise ValueError("bad xz index padding")
            pos += 1
        total_blocks = sum((up + 3) // 4 * 4 for up, _ in records)
        hdr_start = idx_start - total_blocks - 12
        if hdr_start < 0:
            raise ValueError("xz blocks out of range")
        if b[hdr_start : hdr_start + 6] != b"\xfd7zXZ\x00":
            raise ValueError("bad xz stream header magic")
        hflags = b[hdr_start + 6 : hdr_start + 8]
        (hcrc,) = struct.unpack(
            "<I", b[hdr_start + 8 : hdr_start + 12]
        )
        if zlib.crc32(hflags) != hcrc:
            raise ValueError("xz stream header CRC mismatch")
        if hflags != sflags:
            raise ValueError("xz header/footer flags mismatch")
        outs = []
        pos = hdr_start + 12
        for up, un in records:
            outs.append(parse_block(b, pos, up, un, check_size))
            pos += (up + 3) // 4 * 4
        return hdr_start, outs

    def parse(b: bytes) -> list[bytes]:
        if not b:
            raise ValueError("empty xz stream")
        end = len(b)
        streams = []
        while end > 0:
            z = 0
            while end - z > 0 and b[end - z - 1] == 0:
                z += 1
            strip = z - (z % 4)  # stream padding is 4-byte aligned
            if end - strip <= 0:
                raise ValueError("xz stream is all padding")
            start, outs = parse_stream_backward(b, end - strip)
            streams.append(outs)
            end = start
        streams.reverse()
        return [d for s in streams for d in s]

    def decode(b: bytes) -> list[tuple]:
        return [
            (i, len(data), int(np.frombuffer(data, np.uint8).sum(dtype=np.int64)))
            for i, data in enumerate(parse(b))
        ]

    return encode, decode


def xz_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL .xz round trip, stdlib-only — the fourth container beside
    tar (sequential blocks), ZIP (trailing central directory), and gzip
    (pure stream): xz is an INDEXED stream, enumerated footer-first —
    footer → index → per-block positions — with no full scan, the
    random-access design a 100 TB range reader wants. Two blocks per
    doc (full text + 48-byte head), CRC32 checks, and the two block
    header shapes (with/without optional size varints). Third-party
    interop vs stdlib ``lzma`` is pinned both directions in
    tests/test_xz_codec.py, including liblzma's CRC64 default check.
    The DuckDB oracle shares the gzip template minus member names (xz
    blocks are anonymous — names live one container up, e.g. tar.xz)."""
    encode, decode = _xz_codec()
    return per_doc(
        spark,
        sf_dir,
        lambda d, p: decode(encode(d, p)),
        "doc_id long, block_idx long, n_bytes long, sum_bytes long",
    )


XZ_BLOCK_STATS_SQL = f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text))::BIGINT AS n
    FROM documents
),
full_sum AS (
    SELECT doc_id, n,
           coalesce(list_sum(
             [ {{hb}} for i in range(1, n + 1) ]
           ), 0)::BIGINT AS s
    FROM b
),
head_sum AS (
    SELECT doc_id,
           list_sum(
             [ {{cb}} for i in range(1, {XZ_HEAD_BYTES} + 1) ]
           )::BIGINT AS s
    FROM b
)
SELECT doc_id, 0::BIGINT AS block_idx, n AS n_bytes, s AS sum_bytes
FROM full_sum
UNION ALL
SELECT doc_id, 1, {XZ_HEAD_BYTES}, s
FROM head_sum
""".format(
    hb=hex_byte_sql("i"),
    cb=cycled_byte_sql("i-1"),
)


# ---------------------------------------------------------------------
# SQLite database files (sqlite.org/fileformat2: b-tree pages, records)
# ---------------------------------------------------------------------
SQLITE_HEAD_BYTES = TAR_HEAD_BYTES  # row 1 mirrors the shard layout


def _sqlite_codec():
    """SQLite database-file codec (sqlite.org/fileformat2).

    encode — deliberately NOT hand assembly: stdlib ``sqlite3`` (the C
    library, a real third-party implementation) builds each doc's
    single-table database in memory and ``Connection.serialize()``
    yields the file bytes. The implementation under test here is the
    READER; the writer being C SQLite is what makes the round trip
    genuine one-directional third-party interop, the reverse of the
    tar/zip/gzip/xz pattern where we write and a stdlib parser
    independently reads.

    decode: a REAL pure-struct parser of the public file format —
    header validation (magic, power-of-two page size, UTF-8 encoding),
    the 100-byte page-1 offset, sqlite_master traversal to resolve the
    table's root page, interior (0x05) / leaf (0x0D) table b-tree walk
    with a visited-set cycle guard, record decoding across the full
    serial-type table (NULL/ints/float/const/blob/text — an INTEGER
    PRIMARY KEY column is stored as NULL and aliases the rowid, which
    the reader must reconstruct), and OVERFLOW PAGE CHAINS assembled by
    the spec's K/M inline-size formulas. SQLite files carry no
    checksums, so the rejection contract is structural (ValueError on
    malformed pages/varints/chains); flipped payload bytes legitimately
    decode to different values. One (row_idx, n_bytes, sum_bytes) row
    per table row."""
    import sqlite3
    import struct
    from contextlib import closing

    import numpy as np

    head_n = SQLITE_HEAD_BYTES

    def encode(doc_id: int, payload: bytes) -> bytes:
        head = np.resize(np.frombuffer(payload, np.uint8), head_n).tobytes()
        # a fresh in-memory database per doc: cheaper than reusing one
        # connection, whose DELETE then needs a VACUUM to drop freed
        # pages (~150 vs ~180 us per doc, measured on a 4-core box)
        with closing(sqlite3.connect(":memory:")) as con:
            con.execute("create table docs(id integer primary key, body blob)")
            con.executemany(
                "insert into docs values (?, ?)", [(0, payload), (1, head)]
            )
            con.commit()
            return bytes(con.serialize())

    def get_varint(b: bytes, pos: int) -> tuple[int, int]:
        v = 0
        for _ in range(8):
            if pos >= len(b):
                raise ValueError("truncated sqlite varint")
            c = b[pos]
            pos += 1
            v = (v << 7) | (c & 0x7F)
            if not c & 0x80:
                return v, pos
        if pos >= len(b):
            raise ValueError("truncated sqlite varint")
        return (v << 8) | b[pos], pos + 1

    def serial_size(st: int) -> int:
        if st in (0, 8, 9):
            return 0
        if st <= 4:
            return st
        if st == 5:
            return 6
        if st in (6, 7):
            return 8
        if st >= 12:
            return (st - 12) // 2
        raise ValueError("bad sqlite serial type")

    def decode_value(st: int, body: bytes, off: int):
        n = serial_size(st)
        raw = body[off : off + n]
        if len(raw) < n:
            raise ValueError("truncated sqlite record body")
        if st == 0:
            return None, off
        if st == 8:
            return 0, off
        if st == 9:
            return 1, off
        if 1 <= st <= 6:
            return int.from_bytes(raw, "big", signed=True), off + n
        if st == 7:
            return struct.unpack(">d", raw)[0], off + n
        return raw, off + n  # blob/text bytes

    class Reader:
        def __init__(self, blob: bytes):
            if blob[:16] != b"SQLite format 3\x00":
                raise ValueError("bad sqlite magic")
            if len(blob) < 100:
                raise ValueError("truncated sqlite header")
            ps = struct.unpack(">H", blob[16:18])[0]
            self.page_size = 65536 if ps == 1 else ps
            if self.page_size < 512 or self.page_size & (
                self.page_size - 1
            ):
                raise ValueError("bad sqlite page size")
            self.usable = self.page_size - blob[20]
            if self.usable < 480:
                raise ValueError("bad sqlite reserved size")
            if struct.unpack(">I", blob[56:60])[0] != 1:
                raise ValueError("unsupported sqlite text encoding")
            self.b = blob
            self.X = self.usable - 35
            self.M = (self.usable - 12) * 32 // 255 - 23

        def page(self, n: int) -> bytes:
            if n < 1:
                raise ValueError("bad sqlite page number")
            off = (n - 1) * self.page_size
            p = self.b[off : off + self.page_size]
            if len(p) < self.page_size:
                raise ValueError("truncated sqlite page")
            return p

        def be16(self, b: bytes, off: int) -> int:
            if off + 2 > len(b):
                raise ValueError("sqlite offset out of page")
            return struct.unpack(">H", b[off : off + 2])[0]

        def be32(self, b: bytes, off: int) -> int:
            if off + 4 > len(b):
                raise ValueError("sqlite offset out of page")
            return struct.unpack(">I", b[off : off + 4])[0]

        def payload(self, pg: bytes, pos: int, plen: int) -> bytes:
            U = self.usable
            if plen <= self.X:
                data = pg[pos : pos + plen]
                if len(data) < plen:
                    raise ValueError("truncated sqlite cell payload")
                return data
            K = self.M + (plen - self.M) % (U - 4)
            inline = K if K <= self.X else self.M
            data = bytearray(pg[pos : pos + inline])
            if len(data) < inline:
                raise ValueError("truncated sqlite cell payload")
            nxt = self.be32(pg, pos + inline)
            remaining = plen - inline
            seen: set[int] = set()
            while remaining > 0:
                if nxt == 0 or nxt in seen:
                    raise ValueError("broken sqlite overflow chain")
                seen.add(nxt)
                op = self.page(nxt)
                nxt = struct.unpack(">I", op[:4])[0]
                take = min(remaining, U - 4)
                data += op[4 : 4 + take]
                remaining -= take
            return bytes(data)

        def walk_table(self, root: int):
            stack = [root]
            visited: set[int] = set()
            while stack:
                pn = stack.pop()
                if pn in visited:
                    raise ValueError("sqlite b-tree cycle")
                visited.add(pn)
                pg = self.page(pn)
                hoff = 100 if pn == 1 else 0
                ptype = pg[hoff]
                ncells = self.be16(pg, hoff + 3)
                if ptype == 0x05:  # interior table page
                    stack.append(self.be32(pg, hoff + 8))
                    arr = hoff + 12
                    for i in range(ncells):
                        cp = self.be16(pg, arr + 2 * i)
                        stack.append(self.be32(pg, cp))
                elif ptype == 0x0D:  # leaf table page
                    arr = hoff + 8
                    for i in range(ncells):
                        cp = self.be16(pg, arr + 2 * i)
                        plen, p = get_varint(pg, cp)
                        rowid, p = get_varint(pg, p)
                        body = self.payload(pg, p, plen)
                        hsz, q = get_varint(body, 0)
                        if hsz > len(body):
                            raise ValueError("bad sqlite record header")
                        sts = []
                        while q < hsz:
                            st, q = get_varint(body, q)
                            sts.append(st)
                        vals, off = [], hsz
                        for st in sts:
                            v, off = decode_value(st, body, off)
                            vals.append(v)
                        yield rowid, vals
                else:
                    raise ValueError("unexpected sqlite page type")

        def table_root(self, name: str) -> int:
            target = name.encode()
            for _rowid, vals in self.walk_table(1):
                # sqlite_master: type, name, tbl_name, rootpage, sql
                if (
                    len(vals) >= 4
                    and vals[0] == b"table"
                    and vals[1] == target
                ):
                    root = vals[3]
                    if not isinstance(root, int) or root < 1:
                        raise ValueError("bad sqlite root page")
                    return root
            raise ValueError("sqlite table not found")

    def rows_of(blob: bytes):
        r = Reader(blob)
        for rowid, vals in r.walk_table(r.table_root("docs")):
            if len(vals) != 2:
                raise ValueError("unexpected sqlite row shape")
            # INTEGER PRIMARY KEY: stored as NULL, aliases the rowid
            body = vals[1]
            if not isinstance(body, (bytes, bytearray)):
                raise ValueError("unexpected sqlite body type")
            yield rowid, body

    def decode(b: bytes) -> list[tuple]:
        return [
            (rowid, len(body), int(np.frombuffer(body, np.uint8).sum(dtype=np.int64)))
            for rowid, body in sorted(rows_of(b))
        ]

    return encode, decode


def sqlite_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL SQLite file-format reader, stdlib-only — the fifth container,
    and the first where the THIRD PARTY writes and we parse: C SQLite
    (via stdlib ``sqlite3`` + ``Connection.serialize``) produces each
    doc's single-table database, and the pure-struct kernel walks the
    b-tree (page-1 header offset, sqlite_master root resolution,
    interior/leaf pages, overflow chains, the full record serial-type
    table, rowid aliasing for INTEGER PRIMARY KEY). Embedded databases
    are a common crawl/payload format, and unlike tar/zip/gzip/xz the
    format is page-structured with no checksums — the rejection
    contract is structural. Two rows per doc (full text + 48-byte
    head); oracle shares the container template."""
    encode, decode = _sqlite_codec()
    return per_doc(
        spark,
        sf_dir,
        lambda d, p: decode(encode(d, p)),
        "doc_id long, row_idx long, n_bytes long, sum_bytes long",
    )


SQLITE_TABLE_STATS_SQL = f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h,
           octet_length(encode(text))::BIGINT AS n
    FROM documents
),
full_sum AS (
    SELECT doc_id, n,
           coalesce(list_sum(
             [ {{hb}} for i in range(1, n + 1) ]
           ), 0)::BIGINT AS s
    FROM b
),
head_sum AS (
    SELECT doc_id,
           list_sum(
             [ {{cb}} for i in range(1, {SQLITE_HEAD_BYTES} + 1) ]
           )::BIGINT AS s
    FROM b
)
SELECT doc_id, 0::BIGINT AS row_idx, n AS n_bytes, s AS sum_bytes
FROM full_sum
UNION ALL
SELECT doc_id, 1, {SQLITE_HEAD_BYTES}, s
FROM head_sum
""".format(
    hb=hex_byte_sql("i"),
    cb=cycled_byte_sql("i-1"),
)


QUERIES: dict[str, Query] = {
    "sqlite_table_stats": Query(
        sqlite_table_stats,
        SQLITE_TABLE_STATS_SQL,
        "SQLite file-format reader: b-tree walk, overflow chains, "
        "serial types; C SQLite writes, our parser reads",
    ),
    "xz_block_stats": Query(
        xz_block_stats,
        XZ_BLOCK_STATS_SQL,
        "xz indexed-stream enumeration: footer-first block access, "
        "CRC32/CRC64/SHA-256 checks",
    ),
    "gzip_member_stats": Query(
        gzip_member_stats,
        GZIP_MEMBER_STATS_SQL,
        "RFC 1952 gzip multistream enumeration: full flag walk, FHCRC, CRC32/ISIZE",
    ),
    "zip_shard_members": Query(
        zip_shard_members,
        ZIP_SHARD_MEMBERS_SQL,
        "PKZIP shard enumeration via EOCD + central directory, CRC-verified, deflate member",
    ),
    "decode_image_tga": Query(
        decode_image_tga,
        DECODE_IMAGE_TGA_SQL,
        "real TGA codec: RLE/raw packet round trip via mapInPandas",
    ),
    "decode_image_jpeg": Query(
        decode_image_jpeg,
        DECODE_IMAGE_JPEG_SQL,
        "real baseline JPEG codec: DHT Huffman + restarts + IDCT via mapInPandas",
    ),
    "decode_audio_mulaw": Query(
        decode_audio_mulaw,
        DECODE_AUDIO_MULAW_SQL,
        "real G.711 mu-law codec: tag-7 WAV + CCITT expansion via mapInPandas",
    ),
    "decode_video_avi": Query(
        decode_video_avi,
        DECODE_VIDEO_AVI_SQL,
        "real AVI container: index-seek frame sampling over DIB frames via mapInPandas",
    ),
    "decode_image_gif": Query(
        decode_image_gif,
        DECODE_IMAGE_GIF_SQL,
        "real GIF89a codec: variable-width LZW + palette lookup via mapInPandas",
    ),
    "tar_shard_members": Query(
        tar_shard_members,
        TAR_SHARD_MEMBERS_SQL,
        "WebDataset-style ustar shard enumeration with checksum verification",
    ),
}
