"""Pure-Python PNG codec (stdlib zlib + numpy) — the one real media
container the sandbox can both produce and consume, so the multimodal
pipeline's decode step runs over genuinely encoded bytes instead of a
dimensions stub.

Scope (the subset the media tables need, strictly per the PNG spec
ISO/IEC 15948): 8-bit depth, color types 0 (gray), 2 (RGB), 4
(gray+alpha), 6 (RGBA); no interlace; all five scanline filters on
decode (None/Sub/Up/Average/Paeth); encode emits filter 0 rows (the
deterministic choice — zlib.compress is bit-stable for a given level).
Reference analog: GDAL's PNG driver wraps libpng behind IReadBlock
(frmts/png/pngdataset.cpp); here the codec is the numpy kernel behind
the media decode UDF.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_CTYPE_CH = {0: 1, 2: 3, 4: 2, 6: 4}
_CH_CTYPE = {1: 0, 3: 2, 2: 4, 4: 6}


class PngError(ValueError):
    pass


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray, level: int = 6) -> bytes:
    """(h, w) or (h, w, ch) uint8 -> PNG bytes (filter 0, no
    interlace). ch in {1: gray, 2: gray+alpha, 3: RGB, 4: RGBA}."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    if img.ndim != 3 or img.shape[2] not in _CH_CTYPE:
        raise PngError(f"unsupported image shape {img.shape}")
    h, w, ch = img.shape
    raw = img.reshape(h, w * ch)
    # one filter byte (0 = None) per scanline, prepended column-wise
    stream = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), raw], axis=1
    ).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _CH_CTYPE[ch], 0, 0, 0)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(stream, level))
        + _chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, ch) uint8. Verifies the signature and each
    chunk CRC; concatenates all IDAT chunks; unfilters every scanline
    per the spec's five filter types."""
    if payload[:8] != PNG_SIG:
        raise PngError("not a PNG signature")
    pos = 8
    w = h = None
    ctype = None
    idat = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise PngError("truncated chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != (zlib.crc32(tag + data) & 0xFFFFFFFF):
            raise PngError(f"bad CRC in {tag!r}")
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8:
                raise PngError(f"unsupported bit depth {depth}")
            if ctype not in _CTYPE_CH:
                raise PngError(f"unsupported color type {ctype}")
            if interlace:
                raise PngError("interlaced PNG not supported")
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if w is None or not idat:
        raise PngError("missing IHDR or IDAT")
    ch = _CTYPE_CH[ctype]
    stride = w * ch
    stream = zlib.decompress(b"".join(idat))
    if len(stream) != h * (stride + 1):
        raise PngError("decompressed size mismatch")
    rows = np.frombuffer(stream, dtype=np.uint8).reshape(h, stride + 1)
    filters = rows[:, 0]
    raw = rows[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    for y in range(h):
        ft = int(filters[y])
        row = raw[y]
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
        if ft == 0:
            rec = row
        elif ft == 2:  # Up — fully vectorized
            rec = (row + prev) & 255
        elif ft == 1:  # Sub: recon[x] = raw[x] + recon[x-bpp] == lane cumsum
            rec = (np.cumsum(row.reshape(w, ch), axis=0, dtype=np.int64) & 255).reshape(stride).astype(np.int32)
        elif ft == 3:  # Average — left-sequential by definition
            rec = row.copy().reshape(w, ch)
            pv = prev.reshape(w, ch)
            left = np.zeros(ch, dtype=np.int32)
            for x in range(w):
                rec[x] = (rec[x] + ((left + pv[x]) >> 1)) & 255
                left = rec[x]
            rec = rec.reshape(stride)
        elif ft == 4:  # Paeth — left-sequential by definition
            rec = row.copy().reshape(w, ch)
            pv = prev.reshape(w, ch)
            left = np.zeros(ch, dtype=np.int32)
            upleft = np.zeros(ch, dtype=np.int32)
            for x in range(w):
                a, b, c = left, pv[x], upleft
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
                rec[x] = (rec[x] + pred) & 255
                upleft = b.copy()
                left = rec[x]
            rec = rec.reshape(stride)
        else:
            raise PngError(f"unknown filter type {ft}")
        out[y] = rec
    return out.astype(np.uint8).reshape(h, w, ch)
