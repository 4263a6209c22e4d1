"""Baseline grayscale JPEG codec (gdal_spark/jpeg.py): bounded-error
round-trips, marker framing, Huffman canonical validity, and the
media decode dispatch."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from gdal_spark.jpeg import (
    AC_BITS,
    AC_VALS,
    DC_BITS,
    DC_VALS,
    JPEG_SIG,
    JpegError,
    _build_codes,
    decode_jpeg_gray,
    encode_jpeg_gray,
)


class TestHuffman:
    def test_canonical_codes_valid(self):
        for bits, vals in ((DC_BITS, DC_VALS), (AC_BITS, AC_VALS)):
            assert sum(bits) == len(vals)
            codes = _build_codes(bits, vals)
            assert len(codes) == len(vals)
            seen = set()
            for sym, (c, ln) in codes.items():
                assert c < (1 << ln), f"code overflow for {sym:#x}"
                assert (ln, c) not in seen
                seen.add((ln, c))
            # prefix-freeness: canonical construction guarantees it when
            # no code is all-ones at a shorter length than another's
            # prefix — assert no code equals another's prefix
            by_len = sorted(codes.values())
            for i, (c1, l1) in enumerate(codes.values()):
                for c2, l2 in list(codes.values()):
                    if l2 > l1 and (c2 >> (l2 - l1)) == c1:
                        raise AssertionError("prefix violation")

    def test_ac_symbol_coverage(self):
        # every (run < 16, 1 <= size <= 10) symbol plus EOB and ZRL
        syms = set(AC_VALS)
        assert 0x00 in syms and 0xF0 in syms
        for run in range(16):
            for size in range(1, 11):
                assert ((run << 4) | size) in syms


class TestRoundTrip:
    def test_smooth_gradient_small_error(self):
        x = np.linspace(0, 255, 64)
        img = (np.add.outer(x, x) / 2).astype(np.uint8)[:50, :37]
        dec = decode_jpeg_gray(encode_jpeg_gray(img, 90))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 4

    def test_noise_bounded_error_q95(self):
        rng = np.random.default_rng(7)
        img = rng.integers(0, 255, (41, 29)).astype(np.uint8)
        dec = decode_jpeg_gray(encode_jpeg_gray(img, 95))
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 12

    def test_flat_image_exact(self):
        img = np.full((24, 24), 131, dtype=np.uint8)
        dec = decode_jpeg_gray(encode_jpeg_gray(img, 75))
        np.testing.assert_array_equal(dec, img)

    def test_non_multiple_of_8_shapes(self):
        rng = np.random.default_rng(9)
        for h, w in ((1, 1), (7, 9), (8, 8), (17, 3)):
            img = rng.integers(0, 255, (h, w)).astype(np.uint8)
            dec = decode_jpeg_gray(encode_jpeg_gray(img, 92))
            assert dec.shape == (h, w)

    def test_quality_monotone(self):
        rng = np.random.default_rng(11)
        img = rng.integers(0, 255, (32, 32)).astype(np.uint8)
        errs = []
        for q in (30, 60, 90):
            dec = decode_jpeg_gray(encode_jpeg_gray(img, q))
            errs.append(float(np.abs(dec.astype(int) - img.astype(int)).mean()))
        assert errs[0] >= errs[1] >= errs[2]


class TestFraming:
    def test_signature_and_markers(self):
        enc = encode_jpeg_gray(np.zeros((8, 8), dtype=np.uint8))
        assert enc[:3] == JPEG_SIG
        assert enc[-2:] == b"\xff\xd9"
        # SOF0 present with our dims
        i = enc.find(b"\xff\xc0")
        assert i > 0
        prec, h, w, ncomp = struct.unpack_from(">BHHB", enc, i + 4)
        assert (prec, h, w, ncomp) == (8, 8, 8, 1)

    def test_reject_bad_signature(self):
        with pytest.raises(JpegError, match="signature"):
            decode_jpeg_gray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 20)

    def test_reject_progressive(self):
        enc = bytearray(encode_jpeg_gray(np.zeros((8, 8), dtype=np.uint8)))
        i = enc.find(b"\xff\xc0")
        enc[i + 1] = 0xC2  # SOF2 progressive
        with pytest.raises(JpegError, match="baseline"):
            decode_jpeg_gray(bytes(enc))

    @staticmethod
    def _insert_before(enc: bytes, marker: int, extra: bytes) -> bytes:
        """Insert `extra` before the header segment with this marker,
        found by walking the segment lengths (not by a byte search)."""
        pos = 2
        while enc[pos + 1] != marker:
            pos += 2 + struct.unpack_from(">H", enc, pos + 2)[0]
        return enc[:pos] + extra + enc[pos:]

    def test_fill_bytes_and_standalone_markers(self):
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker; TEM (0x01) and RSTn (0xD0-0xD7) carry no length
        img = (np.arange(24 * 16).reshape(24, 16) % 251).astype(np.uint8)
        enc = encode_jpeg_gray(img)
        want = decode_jpeg_gray(enc)
        # SOS first: the walk to DQT then never crosses inserted fill
        filled = self._insert_before(enc, 0xDA, b"\xff\xff")
        filled = self._insert_before(filled, 0xDB, b"\xff\xff")
        standalone = self._insert_before(enc, 0xDA, b"\xff\x01\xff\xd3")
        for stream in (filled, standalone):
            np.testing.assert_array_equal(decode_jpeg_gray(stream), want)

    def test_reject_restart_intervals(self):
        enc = encode_jpeg_gray(np.zeros((16, 16), dtype=np.uint8))
        dri = self._insert_before(enc, 0xDA, b"\xff\xdd\x00\x04\x00\x01")
        with pytest.raises(JpegError, match="restart interval"):
            decode_jpeg_gray(dri)


class TestMediaDispatch:
    def test_jpeg_payload_routes_to_codec(self):
        from gdal_spark.media import _decode_image

        img = np.full((16, 16), 90, dtype=np.uint8)
        out = _decode_image(encode_jpeg_gray(img, 90))
        assert out.shape == (16, 16, 3)
        np.testing.assert_array_equal(out[:, :, 0], img)
        np.testing.assert_array_equal(out[:, :, 0], out[:, :, 2])
