"""Pure-Python baseline JPEG codec — grayscale (single-component
JFIF), stdlib + numpy. The second real media container next to
gdal_spark/png.py: a genuine DCT + Huffman entropy coder per the
public JPEG spec (ITU-T T.81 — baseline sequential DCT, 8-bit), so
the media decode dispatch can consume actual JPEG bytes.

Scope: one 8-bit component, no subsampling (1x1), no restart markers,
no progressive mode. The Huffman tables travel IN the file (DHT), so
any external baseline decoder reads our output and our decoder reads
any single-component baseline file whose tables it carries.

JPEG is lossy (quantized DCT): round-trips are bounded-error, not
bit-exact — which is exactly why the ORACLED media tables stay on the
lossless PNG payloads; this codec is for real .jpg bytes arriving
from outside.

Reference analog: GDAL's JPEG driver wraps libjpeg
(frmts/jpeg/jpgdataset.cpp); here the codec is numpy behind the same
decode-UDF boundary.
"""

from __future__ import annotations

import struct

import numpy as np

JPEG_SIG = b"\xff\xd8\xff"


class JpegError(ValueError):
    pass


# ---------------------------------------------------------------------------
# shared constants

# T.81 Annex K.1 luminance quantization table (quality-50 base)
QUANT_LUM = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.int32)

# canonical Huffman specs (bits-per-length, symbol list). DC: T.81
# K.3; AC: categories 1..10 per run 0..15 + ZRL(0xF0) + EOB(0x00),
# ordered by code length via the bits table below. Internal
# consistency is what matters: the tables are EMBEDDED in every file.
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))


def _ac_spec() -> tuple[list[int], list[int]]:
    """A complete AC symbol set with a valid canonical length table:
    every (run, size) symbol run<16, 1<=size<=10, plus EOB and ZRL.
    Lengths assigned frequency-agnostically but validly (Kraft sum
    <= 1): common symbols short, the long tail at 16 bits."""
    syms = [0x00]  # EOB
    lens = [4]
    short = [0x01, 0x02, 0x03, 0x11, 0x04, 0x21, 0x12, 0x31, 0x41, 0x05, 0x51, 0x13, 0x61, 0x22]
    for i, s in enumerate(short):
        syms.append(s)
        lens.append(5 + min(i // 2, 6))
    rest = []
    for run in range(16):
        for size in range(1, 11):
            sym = (run << 4) | size
            if sym not in syms:
                rest.append(sym)
    syms.extend(rest)
    lens.extend([16] * len(rest))
    syms.append(0xF0)  # ZRL
    lens.append(11)
    bits = [0] * 16
    # canonical: sort symbols by (length, insertion order)
    order = sorted(range(len(syms)), key=lambda i: (lens[i], i))
    out_syms = [syms[i] for i in order]
    for i in order:
        bits[lens[i] - 1] += 1
    # Kraft fix-up: a full 16-bit level must leave one code unused
    return bits, out_syms


AC_BITS, AC_VALS = _ac_spec()


def _zigzag() -> np.ndarray:
    """The spec's zigzag scan order as 64 flat indices."""
    order = []
    for s in range(15):
        diag = [(y, s - y) for y in range(max(0, s - 7), min(8, s + 1))]
        if s % 2 == 0:
            diag.reverse()  # up-right on even diagonals
        order.extend(y * 8 + x for y, x in diag)
    return np.array(order, dtype=np.int64)


ZIGZAG = _zigzag()


def _dct_matrix() -> np.ndarray:
    C = np.zeros((8, 8))
    for u in range(8):
        a = np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8)
        for x in range(8):
            C[u, x] = a * np.cos((2 * x + 1) * u * np.pi / 16)
    return C


DCT_C = _dct_matrix()


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


def _quant_table(quality: int) -> np.ndarray:
    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (QUANT_LUM * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _value_bits(v: int, cat: int) -> int:
    return v if v >= 0 else v + (1 << cat) - 1


def encode_jpeg_gray(img: np.ndarray, quality: int = 90) -> bytes:
    """(h, w) uint8 -> baseline grayscale JFIF bytes."""
    img = np.asarray(img)
    if img.ndim != 2:
        raise JpegError("encode_jpeg_gray takes a 2-D array")
    h, w = img.shape
    Q = _quant_table(quality)
    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    pad = np.empty((ph, pw), dtype=np.float64)
    pad[:h, :w] = img
    pad[h:, :w] = img[h - 1 : h, :]  # edge replicate
    pad[:, w:] = pad[:, w - 1 : w]
    blocks = pad.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128.0
    # all blocks DCT in one einsum, quantize, zigzag
    coef = np.einsum("ux,bxy,vy->buv", DCT_C, blocks, DCT_C)
    qc = np.round(coef / Q).astype(np.int32).reshape(-1, 64)[:, ZIGZAG]

    dc_codes = _build_codes(DC_BITS, DC_VALS)
    ac_codes = _build_codes(AC_BITS, AC_VALS)
    bw = _BitWriter()
    prev_dc = 0
    for blk in qc:
        diff = int(blk[0]) - prev_dc
        prev_dc = int(blk[0])
        cat = _category(diff)
        c, ln = dc_codes[cat]
        bw.write(c, ln)
        if cat:
            bw.write(_value_bits(diff, cat), cat)
        run = 0
        nz = np.nonzero(blk[1:])[0]
        last = nz[-1] + 1 if nz.size else 0
        for i in range(1, last + 1):
            v = int(blk[i])
            if v == 0:
                run += 1
                continue
            while run >= 16:
                c, ln = ac_codes[0xF0]
                bw.write(c, ln)
                run -= 16
            cat = _category(v)
            c, ln = ac_codes[(run << 4) | cat]
            bw.write(c, ln)
            bw.write(_value_bits(v, cat), cat)
            run = 0
        if last < 63:
            c, ln = ac_codes[0x00]
            bw.write(c, ln)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(int(Q.reshape(-1)[ZIGZAG][i]) for i in range(64)))
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    out += bytes(bw.out)
    out += b"\xff\xd9"  # EOI
    return out


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        while self.n == 0:
            if self.pos >= len(self.data):
                raise JpegError("entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                    self.pos += 1  # unstuff
                else:
                    raise JpegError("unexpected marker in entropy data")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_symbol(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.bit()
        if (ln, code) in table:
            return table[(ln, code)]
    raise JpegError("invalid Huffman code")


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def decode_jpeg_gray(payload: bytes) -> np.ndarray:
    """Baseline single-component JFIF bytes -> (h, w) uint8."""
    if payload[:3] != JPEG_SIG:
        raise JpegError("not a JPEG signature")
    pos = 2
    quant: np.ndarray | None = None
    hufs: dict[tuple[int, int], dict] = {}
    h = w = None
    scan = None
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise JpegError("marker sync lost")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM, RSTn: no length
            pos += 2
            continue
        if marker == 0xDD:
            raise JpegError("restart intervals (DRI) are not supported")
        if pos + 4 > len(payload):
            break
        (ln,) = struct.unpack_from(">H", payload, pos + 2)
        data = payload[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:
            if data[0] & 0xF0:
                raise JpegError("16-bit quant tables not supported")
            zz = np.frombuffer(data[1:65], dtype=np.uint8).astype(np.int32)
            quant = np.zeros(64, dtype=np.int32)
            quant[ZIGZAG] = zz
            quant = quant.reshape(8, 8)
        elif marker == 0xC0:
            prec, h, w, ncomp = struct.unpack_from(">BHHB", data, 0)
            if prec != 8 or ncomp != 1:
                raise JpegError("only 8-bit single-component baseline supported")
        elif marker in (0xC1, 0xC2, 0xC3):
            raise JpegError("only baseline SOF0 supported")
        elif marker == 0xC4:
            tc_th = data[0]
            bits = list(data[1:17])
            nv = sum(bits)
            vals = list(data[17 : 17 + nv])
            hufs[(tc_th >> 4, tc_th & 0xF)] = _decode_table(bits, vals)
        elif marker == 0xDA:
            scan = payload[pos:]
            break
    if scan is None or quant is None or h is None:
        raise JpegError("missing SOF/DQT/SOS")
    dc_t = hufs.get((0, 0))
    ac_t = hufs.get((1, 0))
    if dc_t is None or ac_t is None:
        raise JpegError("missing Huffman tables")
    # strip trailing EOI if present
    end = scan.rfind(b"\xff\xd9")
    br = _BitReader(scan[:end] if end >= 0 else scan)
    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    nblocks = (ph // 8) * (pw // 8)
    out_coef = np.zeros((nblocks, 64), dtype=np.int32)
    prev_dc = 0
    for b in range(nblocks):
        cat = _read_symbol(br, dc_t)
        diff = _extend(br.bits(cat), cat) if cat else 0
        prev_dc += diff
        out_coef[b, 0] = prev_dc
        i = 1
        while i < 64:
            sym = _read_symbol(br, ac_t)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                i += 16
                continue
            run, cat = sym >> 4, sym & 0xF
            i += run
            if i >= 64:
                raise JpegError("AC run overflows block")
            out_coef[b, i] = _extend(br.bits(cat), cat)
            i += 1
    deq = np.zeros((nblocks, 64), dtype=np.float64)
    deq[:, ZIGZAG] = out_coef
    deq = deq.reshape(nblocks, 8, 8) * quant
    # inverse: B[x,y] = sum_uv C[u,x] F[u,v] C[v,y]
    pix = np.einsum("xu,buv,yv->bxy", DCT_C.T, deq, DCT_C.T)
    pix = np.clip(np.round(pix + 128.0), 0, 255).astype(np.uint8)
    full = pix.reshape(ph // 8, pw // 8, 8, 8).transpose(0, 2, 1, 3).reshape(ph, pw)
    return full[:h, :w]
