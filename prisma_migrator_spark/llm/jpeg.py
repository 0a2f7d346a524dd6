"""Baseline JPEG codec (ITU-T T.81 / JFIF) — stdlib + numpy, no codec
library.

The third REAL image format for the multimodal column family
(reference parity note: the reference pipeline fetches remote media
as opaque bytes, src/utils/lib.ts:31-73, and leaves decode to
downstream consumers; this engine makes the decode stage itself real).
BMP needed raw structs, PNG needed ``zlib``; JPEG is the first format
that needs actual signal-processing machinery — entropy coding + DCT —
and both directions are implemented here from the public spec with no
codec dependency:

- **Encoder** (:func:`encode_jpeg`): baseline sequential DCT, 8-bit,
  4:4:4 (no subsampling — one MCU = one 8x8 block per component),
  standard Annex K quantization tables scaled by the IJG quality
  formula, standard Annex K Huffman tables, interleaved scan with
  byte stuffing. Output opens in any viewer.
- **Decoder** (:func:`decode_jpeg`): full marker walk (APPn/COM skip,
  DQT/DHT/DRI accumulation, SOF0, SOS), canonical Huffman decode,
  EXTEND magnitude reconstruction, dequantize, inverse zigzag,
  separable float IDCT, level shift, YCbCr->RGB. Handles restart
  markers and any sampling factors declared 1x1 (what the encoder
  emits); progressive (SOF2) and subsampled streams are rejected
  with ``ValueError`` — a NULL row upstream, never a wrong answer.

Testability: entropy coding + headers are exactly invertible — the
decoder's dequantized coefficients equal the encoder's quantized
coefficients times the table, so ``decode(encode(x))`` equals the
reference pipeline FDCT->quant->dequant->IDCT of ``x`` bit-for-bit
(pinned in tests/test_llm.py). The lossy step is the quantizer alone.

Everything here is derived from the published JPEG spec (ITU-T T.81,
Annex K tables) — public knowledge, no reference code involved.
"""

from __future__ import annotations

import math
import struct

# --- Annex K tables (ITU-T T.81) --------------------------------------

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# (bits[1..16], values) per Annex K.3
HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# precomputed separable DCT basis: COS[u][x] = cos((2x+1) u pi / 16)
_COS = [[math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)] for u in range(8)]
_C = [1.0 / math.sqrt(2.0)] + [1.0] * 7


def scale_qt(qt: list[int], quality: int) -> list[int]:
    """IJG quality scaling: 1..100 -> scaled table, each entry 1..255."""
    quality = max(1, min(100, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [max(1, min(255, (q * s + 50) // 100)) for q in qt]


def _np_dct_mats():
    """(cos matrix [u,y], 0.25*C(u)C(v) prefactor, C-scaled basis) as
    numpy arrays, built once — the matrix form of the T.81 definition
    sums. The naive 8^4-iteration Python loops measured ~15 ms per
    16x16 image (each of encode/decode) and dominated the image
    dedup family's scale curve; the matmul form computes the same
    definition (float64 throughout, np.rint = the same half-to-even
    rounding as Python round)."""
    import numpy as np

    cos = np.array(_COS, dtype=np.float64)        # [u, x]
    c = np.array(_C, dtype=np.float64)
    return cos, 0.25 * np.outer(c, c), c[:, None] * cos  # N[u, y]


_COS_M, _FDCT_PRE, _IDCT_N = _np_dct_mats()


def _fdct_quant(block: list[float], qt: list[int]) -> list[int]:
    """8x8 forward DCT (float, matrix form of the definition sum) +
    quantize. ``block`` is 64 level-shifted samples row-major;
    returns 64 quantized coefficients row-major."""
    import numpy as np

    b = np.asarray(block, dtype=np.float64).reshape(8, 8)
    val = _FDCT_PRE * (_COS_M @ b @ _COS_M.T)
    q = np.asarray(qt, dtype=np.float64).reshape(8, 8)
    return [int(v) for v in np.rint(val / q).astype(np.int64).ravel()]


def _dequant_idct(coeffs: list[int], qt: list[int]) -> list[int]:
    """Dequantize + 8x8 inverse DCT + level shift; returns 64 clamped
    samples (0..255) row-major."""
    import numpy as np

    d = np.asarray(coeffs, dtype=np.float64).reshape(8, 8) * np.asarray(
        qt, dtype=np.float64
    ).reshape(8, 8)
    s = np.rint(0.25 * (_IDCT_N.T @ d @ _IDCT_N)).astype(np.int64) + 128
    return [int(v) for v in np.clip(s, 0, 255).ravel()]


# --- Huffman ----------------------------------------------------------


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical construction of
    T.81 Annex C (generate_size_table / generate_code_table)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, the decoder-side inverse."""
    return {(ln, code): sym for sym, (code, ln) in _canonical_codes(bits, vals).items()}


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:  # pad with 1-bits per spec
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:  # stuffed
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn inside entropy data
                raise _RestartMarker(nxt)
            else:  # EOI or other marker: entropy data exhausted
                raise _MarkerReached(nxt)
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> None:
        """Drop partial byte (used after a restart marker)."""
        self.acc = 0
        self.nbits = 0


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


class _MarkerReached(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map t-bit magnitude to signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """signed value -> (size, t-bit code) for encoding."""
    size = 0
    a = abs(v)
    while a:
        size += 1
        a >>= 1
    return size, (v if v >= 0 else v + (1 << size) - 1)


# --- encoder ----------------------------------------------------------


def _rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[float, float, float]:
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def encode_jpeg(
    rgb_rows: list[list[tuple[int, int, int]]],
    quality: int = 90,
) -> bytes:
    """Encode top-down rows of (r, g, b) pixels as a baseline JFIF
    JPEG (4:4:4, standard tables scaled to ``quality``)."""
    height = len(rgb_rows)
    width = len(rgb_rows[0])
    qt_l = scale_qt(QT_LUMA, quality)
    qt_c = scale_qt(QT_CHROMA, quality)

    # plane extraction with edge replication to 8-multiples
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    planes: list[list[float]] = [[], [], []]
    pw, ph = bw * 8, bh * 8
    for y in range(ph):
        sy = min(y, height - 1)
        row = rgb_rows[sy]
        for x in range(pw):
            sx = min(x, width - 1)
            yy, cb, cr = _rgb_to_ycbcr(*row[sx])
            planes[0].append(yy - 128.0)
            planes[1].append(cb - 128.0)
            planes[2].append(cr - 128.0)

    enc_dc = [_canonical_codes(*HUFF_DC_LUMA), _canonical_codes(*HUFF_DC_CHROMA)]
    enc_ac = [_canonical_codes(*HUFF_AC_LUMA), _canonical_codes(*HUFF_AC_CHROMA)]

    w = _BitWriter()
    prev_dc = [0, 0, 0]
    for by in range(bh):
        for bx in range(bw):
            for comp in range(3):  # interleaved MCU: Y, Cb, Cr
                plane = planes[comp]
                block = [
                    plane[(by * 8 + yy) * pw + bx * 8 + xx]
                    for yy in range(8)
                    for xx in range(8)
                ]
                tbl = 0 if comp == 0 else 1
                coeffs = _fdct_quant(block, qt_l if comp == 0 else qt_c)
                zz = [coeffs[ZIGZAG[i]] for i in range(64)]
                # DC
                diff = zz[0] - prev_dc[comp]
                prev_dc[comp] = zz[0]
                size, bitsv = _magnitude(diff)
                code, ln = enc_dc[tbl][size]
                w.write(code, ln)
                if size:
                    w.write(bitsv, size)
                # AC with run-length + ZRL + EOB
                run = 0
                last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
                for i in range(1, last_nz + 1):
                    if zz[i] == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = enc_ac[tbl][0xF0]  # ZRL
                        w.write(code, ln)
                        run -= 16
                    size, bitsv = _magnitude(zz[i])
                    code, ln = enc_ac[tbl][(run << 4) | size]
                    w.write(code, ln)
                    w.write(bitsv, size)
                    run = 0
                if last_nz < 63:
                    code, ln = enc_ac[tbl][0x00]  # EOB
                    w.write(code, ln)
    w.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(qt_l[ZIGZAG[i]] for i in range(64)))
    out += seg(0xDB, bytes([1]) + bytes(qt_c[ZIGZAG[i]] for i in range(64)))
    sof = struct.pack(">BHHB", 8, height, width, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += bytes((cid, 0x11, tq))  # 1x1 sampling
    out += seg(0xC0, sof)
    for cls, tid, (bits, vals) in (
        (0, 0, HUFF_DC_LUMA),
        (0, 1, HUFF_DC_CHROMA),
        (1, 0, HUFF_AC_LUMA),
        (1, 1, HUFF_AC_CHROMA),
    ):
        out += seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))
    sos = bytes([3])
    for cid, tables in ((1, 0x00), (2, 0x11), (3, 0x11)):
        sos += bytes((cid, tables))
    sos += bytes((0, 63, 0))
    out += seg(0xDA, sos)
    out += w.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- decoder ----------------------------------------------------------


def parse_jpeg_dims(b: bytes) -> tuple[int, int, int] | None:
    """Cheap metadata probe: (width, height, n_components) from the
    SOF0/SOF2 header, or None if the payload is not a JPEG."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            return None
        ln = struct.unpack(">H", b[pos + 2 : pos + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 4 + 6 > len(b):
                return None
            _, h, w, n = struct.unpack(">BHHB", b[pos + 4 : pos + 10])
            return (w, h, n)
        pos += 2 + ln
    return None


def decode_jpeg(b: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Decode a baseline JPEG to (width, height, top-down rows of
    (r, g, b)). Raises ``ValueError`` for anything that is not a
    well-formed baseline 1x1-sampled JPEG (progressive, subsampled,
    arithmetic-coded, truncated)."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    qts: dict[int, list[int]] = {}
    dc_tabs: dict[int, dict[tuple[int, int], int]] = {}
    ac_tabs: dict[int, dict[tuple[int, int], int]] = {}
    comps: list[tuple[int, int, int]] = []  # (id, h<<4|v, tq)
    width = height = 0
    restart_interval = 0
    pos = 2
    scan_comps: list[tuple[int, int, int]] = []  # (comp_idx, dc_tid, ac_tid)
    while True:
        if pos + 2 > len(b):
            raise ValueError("truncated before SOS")
        if b[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = b[pos + 1]
        pos += 2
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(b):
            raise ValueError("truncated segment header")
        ln = struct.unpack(">H", b[pos : pos + 2])[0]
        if pos + ln > len(b):
            raise ValueError("truncated segment body")
        body = b[pos + 2 : pos + ln]
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                i += 1
                n = 64 * (2 if pq else 1)
                raw = body[i : i + n]
                if len(raw) < n:
                    raise ValueError("short DQT")
                if pq:
                    vals = list(struct.unpack(f">{64}H", raw))
                else:
                    vals = list(raw)
                qt = [0] * 64
                for j in range(64):
                    qt[ZIGZAG[j]] = vals[j]
                qts[tq] = qt
                i += n
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                if len(vals) < nv:
                    raise ValueError("short DHT")
                (dc_tabs if tc == 0 else ac_tabs)[th] = _decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            _, height, width, n = struct.unpack(">BHHB", body[:6])
            comps = [
                (body[6 + 3 * i], body[7 + 3 * i], body[8 + 3 * i])
                for i in range(n)
            ]
            if any(hv != 0x11 for _, hv, _tq in comps):
                raise ValueError("subsampled JPEG not supported (4:4:4 only)")
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline JPEG (progressive/arithmetic)")
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = body[0]
            for i in range(ns):
                cid, tabs = body[1 + 2 * i], body[2 + 2 * i]
                idx = next(
                    (j for j, (c, _, _) in enumerate(comps) if c == cid), None
                )
                if idx is None:
                    raise ValueError("SOS references unknown component")
                scan_comps.append((idx, tabs >> 4, tabs & 0xF))
            pos += ln
            break
        elif marker == 0xD9:
            raise ValueError("EOI before SOS")
        pos += ln
    if not comps or not width or not height:
        raise ValueError("missing SOF before SOS")

    bw = (width + 7) // 8
    bh = (height + 7) // 8
    n_comp = len(comps)
    planes = [[0] * (bw * 8 * bh * 8) for _ in range(n_comp)]
    r = _BitReader(b, pos)
    prev_dc = [0] * n_comp
    mcu = 0
    pw = bw * 8

    try:
        for my in range(bh):
            for mx in range(bw):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    # expect an RSTn: the reader raises when it hits it
                    try:
                        while True:
                            r.bit()
                    except _RestartMarker:
                        r.pos += 2
                        r.align_to_marker()
                        prev_dc = [0] * n_comp
                for ci, dc_tid, ac_tid in scan_comps:
                    qt = qts.get(comps[ci][2])
                    dc_tab = dc_tabs.get(dc_tid)
                    ac_tab = ac_tabs.get(ac_tid)
                    if qt is None or dc_tab is None or ac_tab is None:
                        raise ValueError("missing table for scan")
                    zz = [0] * 64
                    ln = code = 0
                    while True:
                        code = (code << 1) | r.bit()
                        ln += 1
                        if ln > 16:
                            raise ValueError("bad DC Huffman code")
                        sym = dc_tab.get((ln, code))
                        if sym is not None:
                            break
                    diff = _extend(r.receive(sym), sym)
                    prev_dc[ci] += diff
                    zz[0] = prev_dc[ci]
                    k = 1
                    while k < 64:
                        ln = code = 0
                        while True:
                            code = (code << 1) | r.bit()
                            ln += 1
                            if ln > 16:
                                raise ValueError("bad AC Huffman code")
                            sym = ac_tab.get((ln, code))
                            if sym is not None:
                                break
                        if sym == 0x00:  # EOB
                            break
                        if sym == 0xF0:  # ZRL
                            k += 16
                            continue
                        k += sym >> 4
                        size = sym & 0xF
                        if k > 63:
                            raise ValueError("AC index overflow")
                        zz[k] = _extend(r.receive(size), size)
                        k += 1
                    coeffs = [0] * 64
                    for j in range(64):
                        coeffs[ZIGZAG[j]] = zz[j]
                    samples = _dequant_idct(coeffs, qt)
                    plane = planes[ci]
                    for yy in range(8):
                        dst = (my * 8 + yy) * pw + mx * 8
                        src = 8 * yy
                        plane[dst : dst + 8] = samples[src : src + 8]
                mcu += 1
    except (_MarkerReached, IndexError):
        if mcu < bw * bh:
            raise ValueError("entropy data ended early") from None
    except _RestartMarker:
        raise ValueError("unexpected restart marker") from None

    rows: list[list[tuple[int, int, int]]] = []
    for y in range(height):
        row = []
        base = y * pw
        for x in range(width):
            if n_comp == 3:
                yy = planes[0][base + x]
                cb = planes[1][base + x] - 128
                cr = planes[2][base + x] - 128
                r_ = yy + 1.402 * cr
                g_ = yy - 0.344136 * cb - 0.714136 * cr
                b_ = yy + 1.772 * cb
                row.append(
                    tuple(
                        0 if v < 0 else (255 if v > 255 else int(round(v)))
                        for v in (r_, g_, b_)
                    )
                )
            else:
                v = planes[0][base + x]
                row.append((v, v, v))
        rows.append(row)
    return width, height, rows
