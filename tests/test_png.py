"""PNG codec (gdal_spark/png.py): round-trips, all five scanline
filters against a literal per-pixel spec replica, framing errors, and
the media-table integration (payloads are real PNGs)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from gdal_spark.png import PNG_SIG, PngError, decode_png, encode_png


def _ref_unfilter(stream: bytes, h: int, w: int, ch: int) -> np.ndarray:
    """Literal per-pixel replica of the spec's filter reconstruction
    (ISO/IEC 15948 §9.2) — the oracle the vectorized decoder must
    match."""
    stride = w * ch
    out = np.zeros((h, stride), dtype=np.int32)
    pos = 0
    for y in range(h):
        ft = stream[pos]
        pos += 1
        row = np.frombuffer(stream, np.uint8, stride, pos).astype(np.int32)
        pos += stride

        def recon_a(x):
            return out[y, x - ch] if x >= ch else 0

        def recon_b(x):
            return out[y - 1, x] if y > 0 else 0

        def recon_c(x):
            return out[y - 1, x - ch] if (y > 0 and x >= ch) else 0

        for x in range(stride):
            if ft == 0:
                v = row[x]
            elif ft == 1:
                v = row[x] + recon_a(x)
            elif ft == 2:
                v = row[x] + recon_b(x)
            elif ft == 3:
                v = row[x] + (recon_a(x) + recon_b(x)) // 2
            else:  # Paeth
                a, b, c = recon_a(x), recon_b(x), recon_c(x)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = row[x] + pr
            out[y, x] = v & 255
    return out.astype(np.uint8).reshape(h, w, ch)


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _png_from_stream(stream: bytes, w: int, h: int, ctype: int) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        PNG_SIG + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(stream))
        + _chunk(b"IEND", b"")
    )


class TestRoundTrip:
    @pytest.mark.parametrize("ch,ctype", [(1, 0), (2, 4), (3, 2), (4, 6)])
    def test_random(self, ch, ctype):
        rng = np.random.default_rng(ch)
        img = rng.integers(0, 256, (13, 9, ch)).astype(np.uint8)
        back = decode_png(encode_png(img))
        np.testing.assert_array_equal(back, img)

    def test_gray_2d_input(self):
        img = np.arange(64, dtype=np.uint8).reshape(8, 8)
        back = decode_png(encode_png(img))
        np.testing.assert_array_equal(back[:, :, 0], img)

    def test_deterministic_bytes(self):
        img = np.arange(300, dtype=np.uint8).reshape(10, 10, 3) % 255
        assert encode_png(img) == encode_png(img.copy())


class TestFilters:
    @pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
    def test_each_filter_vs_spec_replica(self, ft):
        rng = np.random.default_rng(ft + 10)
        h, w, ch = 7, 11, 3
        stride = w * ch
        stream = b"".join(
            bytes([ft]) + rng.integers(0, 256, stride).astype(np.uint8).tobytes()
            for _ in range(h)
        )
        got = decode_png(_png_from_stream(stream, w, h, 2))
        np.testing.assert_array_equal(got, _ref_unfilter(stream, h, w, ch))

    def test_mixed_filters(self):
        rng = np.random.default_rng(99)
        h, w, ch = 10, 6, 4
        stride = w * ch
        stream = b"".join(
            bytes([y % 5]) + rng.integers(0, 256, stride).astype(np.uint8).tobytes()
            for y in range(h)
        )
        got = decode_png(_png_from_stream(stream, w, h, 6))
        np.testing.assert_array_equal(got, _ref_unfilter(stream, h, w, ch))


class TestErrors:
    def test_bad_signature(self):
        with pytest.raises(PngError, match="signature"):
            decode_png(b"JFIF" + b"\x00" * 40)

    def test_bad_crc(self):
        good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
        bad = bytearray(good)
        bad[-5] ^= 0xFF  # corrupt IEND CRC
        # corrupt an IDAT byte instead (IEND CRC covered too, but pick
        # a data byte to prove the check reads chunk content)
        bad = bytearray(good)
        bad[8 + 25 + 8] ^= 0xFF  # inside IHDR data -> CRC mismatch
        with pytest.raises(PngError, match="CRC"):
            decode_png(bytes(bad))

    def test_truncated(self):
        good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
        with pytest.raises(PngError):
            decode_png(good[: len(good) // 2] + b"")

    def test_truncated_inside_crc(self):
        good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
        # IHDR data fully present, its 4-byte CRC cut after 2 bytes
        cut = good[: 8 + 8 + 13 + 2]
        with pytest.raises(PngError, match="truncated"):
            decode_png(cut)


class TestMediaIntegration:
    def test_payload_is_real_png_of_synth_pixels(self, spark):
        from gdal_spark.datagen import docs_table
        from gdal_spark.media import extract_media_table, synth_image

        docs = docs_table(spark, n=60)
        rows = extract_media_table(docs).limit(5).collect()
        assert rows
        for r in rows:
            payload = bytes(r.payload)
            assert payload[:8] == PNG_SIG
            np.testing.assert_array_equal(
                decode_png(payload), synth_image(r.media_ref))
