"""nearblack: distributed strip-pass operator vs the literal scalar
replica of nearblack_lib.cpp, plus hand-checked semantics."""

from __future__ import annotations

import numpy as np
import pytest

from gdal_spark.operators.nearblack import nearblack, nearblack_scalar
from gdal_spark.operators.raster import RasterSpec


def _spec(arr3, tile_size):
    nbands, h, w = arr3.shape
    return RasterSpec(
        width=w, height=h,
        gt=(0.0, 1.0, 0.0, float(h), 0.0, -1.0),
        dtype="uint8", nbands=nbands, tile_size=tile_size,
    )


def _tiles(spark, arr3, spec):
    ts = spec.tile_size
    rows = []
    for b in range(arr3.shape[0]):
        for ty in range(spec.ntiles_y):
            for tx in range(spec.ntiles_x):
                h, w = spec.tile_shape(ty, tx)
                rows.append((b + 1, ty, tx, h, w, "uint8",
                             arr3[b, ty * ts : ty * ts + h, tx * ts : tx * ts + w].tobytes()))
    return spark.createDataFrame(
        rows, "band int, ty int, tx int, h int, w int, dtype string, payload binary"
    )


def _mat(tiles, spec, nbands_out):
    out = np.zeros((nbands_out + 1, spec.height, spec.width), dtype=np.uint8)
    ts = spec.tile_size
    for r in tiles.collect():
        if r.band < 1:
            continue
        t = np.frombuffer(r.payload, dtype=np.uint8).reshape(r.h, r.w)
        out[r.band - 1, r.ty * ts : r.ty * ts + r.h, r.tx * ts : r.tx * ts + r.w] = t
    return out


def _border_raster(rng, nbands, h, w):
    """Content block in the middle, near-black collar, some noise."""
    arr = rng.integers(0, 12, size=(nbands, h, w), dtype=np.uint8)  # near-black-ish
    y0, y1 = h // 4, max(h // 4 + 2, 3 * h // 4)
    x0, x1 = w // 4, max(w // 4 + 2, 3 * w // 4)
    arr[:, y0:y1, x0:x1] = rng.integers(60, 255, size=(nbands, y1 - y0, x1 - x0), dtype=np.uint8)
    # sprinkle non-black noise into the collar
    ny, nx = rng.integers(0, h, 8), rng.integers(0, w, 8)
    arr[:, ny, nx] = 200
    return arr


def _collar_raster(seed, n, ts):
    """n x n uint8 tiles of ts built like perfbench's nearblack source:
    each tile drawn from its own (seed, ty, tx) stream, content tiles
    (40..254) in the middle and a near-black collar (0..11) at least
    one tile wide."""
    lo, hi = max(1, n // 8), n - max(1, n // 8)
    arr = np.empty((1, n * ts, n * ts), dtype=np.uint8)
    for ty in range(n):
        for tx in range(n):
            rng = np.random.default_rng((seed, ty, tx))
            lo_v, hi_v = (40, 255) if lo <= ty < hi and lo <= tx < hi else (0, 12)
            arr[0, ty * ts : (ty + 1) * ts, tx * ts : (tx + 1) * ts] = rng.integers(lo_v, hi_v, (ts, ts))
    return arr


class TestScalarSemantics:
    def test_all_black_replaced(self):
        arr = np.full((1, 6, 7), 9, dtype=np.uint8)
        out, alpha = nearblack_scalar(arr, near=15, max_non_black=0, set_alpha=True)
        assert (out == 0).all()
        assert (alpha == 0).all()

    def test_interior_protected(self):
        arr = np.zeros((1, 9, 9), dtype=np.uint8)
        arr[0, 2:7, 2:7] = 100
        out, alpha = nearblack_scalar(arr, near=5, max_non_black=0, set_alpha=True)
        assert (out[0, 2:7, 2:7] == 100).all()
        assert (alpha[2:7, 2:7] == 255).all()
        assert (alpha[0, :] == 0).all() and (alpha[-1, :] == 0).all()

    def test_white_mode_replace_value(self):
        arr = np.full((1, 5, 5), 252, dtype=np.uint8)
        arr[0, 2, 2] = 10
        out, _ = nearblack_scalar(arr, white=True, near=5, max_non_black=0)
        assert out[0, 0, 0] == 255  # replaced with exact white
        assert out[0, 2, 2] == 10

    def test_nb_allows_noise_pixels(self):
        # column of black with 2 noise pixels: nb=2 keeps trimming
        # through them, nb=0 stops at the first
        arr = np.zeros((1, 10, 3), dtype=np.uint8)
        arr[0, 3, 1] = 200
        arr[0, 5, 1] = 200
        out2, _ = nearblack_scalar(arr, near=5, max_non_black=2)
        out0, _ = nearblack_scalar(arr, near=5, max_non_black=0)
        # nb=2: the noise pixels themselves are replaced (cumulative
        # count stays <= 2)
        assert out2[0, 3, 1] == 0 and out2[0, 5, 1] == 0
        # nb=0: column terminates at the first non-black from the top;
        # from the bottom it terminates at row 5
        assert out0[0, 3, 1] == 200 and out0[0, 5, 1] == 200


CONFIGS = [
    dict(near=15, max_non_black=2, set_alpha=False),
    dict(near=15, max_non_black=2, set_alpha=True),
    dict(near=5, max_non_black=0, set_alpha=True),
    dict(white=True, near=10, max_non_black=1, set_alpha=True),
    dict(colors=[(0, 0, 0), (30, 30, 30)], near=8, max_non_black=3, set_alpha=True),
]


class TestDistributedParity:
    @pytest.mark.parametrize("cfg_i", range(len(CONFIGS)))
    def test_parity_multiband(self, spark, cfg_i):
        cfg = dict(CONFIGS[cfg_i])
        rng = np.random.default_rng(100 + cfg_i)
        nbands = 3 if cfg.get("colors") or cfg.get("white") else 1
        if cfg.get("colors") and nbands != len(cfg["colors"][0]):
            nbands = len(cfg["colors"][0])
        arr = _border_raster(rng, nbands, 23, 17)
        if cfg.get("white"):
            arr = (255 - arr).astype(np.uint8)
        spec = _spec(arr, tile_size=7)
        want_out, want_alpha = nearblack_scalar(arr, **cfg)
        got = nearblack(_tiles(spark, arr, spec), spec, **cfg)
        m = _mat(got, spec, nbands + 1)
        np.testing.assert_array_equal(m[:nbands], want_out)
        if cfg.get("set_alpha"):
            np.testing.assert_array_equal(m[nbands], want_alpha)

    def test_parity_default_cli(self, spark):
        # reference CLI defaults: -near 15 -nb 2
        rng = np.random.default_rng(7)
        arr = _border_raster(rng, 1, 20, 20)
        spec = _spec(arr, tile_size=16)
        want_out, _ = nearblack_scalar(arr)
        got = nearblack(_tiles(spark, arr, spec), spec)
        np.testing.assert_array_equal(_mat(got, spec, 1)[:1], want_out)

    def test_parity_max_non_black_254(self, spark):
        # the largest -nb: the sidecar reaches 255 and the horizontal
        # state machine its 256 states; 23 x 17 is no multiple of 7
        rng = np.random.default_rng(254)
        arr = _border_raster(rng, 2, 23, 17)
        spec = _spec(arr, tile_size=7)
        cfg = dict(near=10, max_non_black=254, set_alpha=True)
        want_out, want_alpha = nearblack_scalar(arr, **cfg)
        m = _mat(nearblack(_tiles(spark, arr, spec), spec, **cfg), spec, 3)
        np.testing.assert_array_equal(m[:2], want_out)
        np.testing.assert_array_equal(m[2], want_alpha)

    def test_parity_collar_raster(self, spark):
        # the shape of perfbench's nearblack source, which checks only
        # the tile count: several tiles per axis, content block, collar
        n, ts = 4, 32
        arr = _collar_raster(5, n, ts)
        spec = _spec(arr, tile_size=ts)
        cfg = dict(near=15, max_non_black=2, set_alpha=True)
        want_out, want_alpha = nearblack_scalar(arr, **cfg)
        got = nearblack(_tiles(spark, arr, spec), spec, **cfg)
        m = _mat(got, spec, 2)
        np.testing.assert_array_equal(m[0], want_out[0])
        np.testing.assert_array_equal(m[1], want_alpha)
        assert got.filter("band = 1").count() == n * n
        assert (want_out[0, :ts] == 0).all() and (want_out[0, ts + 2 : -ts - 2, ts + 2 : -ts - 2] >= 40).all()

    def test_sparse_input_densifies(self, spark):
        # absent tiles are init (0 = black): a raster whose only
        # present tile is an interior content block
        spec = RasterSpec(width=20, height=20, gt=(0, 1, 0, 20, 0, -1),
                          dtype="uint8", nbands=1, tile_size=5)
        block = np.full((5, 5), 90, dtype=np.uint8)
        tiles = spark.createDataFrame(
            [(1, 2, 2, 5, 5, "uint8", block.tobytes())],
            "band int, ty int, tx int, h int, w int, dtype string, payload binary",
        )
        full = np.zeros((1, 20, 20), dtype=np.uint8)
        full[0, 10:15, 10:15] = 90
        want_out, want_alpha = nearblack_scalar(full, near=5, max_non_black=0, set_alpha=True)
        got = nearblack(tiles, spec, near=5, max_non_black=0, set_alpha=True)
        m = _mat(got, spec, 2)
        np.testing.assert_array_equal(m[0], want_out[0])
        np.testing.assert_array_equal(m[1], want_alpha)


def _flood_scalar(arr, white=False, colors=None, near=15):
    """BFS replica of nearblack_lib_floodfill.cpp semantics."""
    from collections import deque

    from gdal_spark.operators.nearblack import _default_colors, _nonblack, _replace_value

    nbands, h, w = arr.shape
    cols = colors if colors else _default_colors(white, nbands)
    rep = _replace_value(cols)
    nearm = ~_nonblack(arr.reshape(nbands, -1), cols, near).reshape(h, w)
    seen = np.zeros((h, w), dtype=bool)
    dq = deque()
    for x in range(w):
        for y in (0, h - 1):
            if nearm[y, x] and not seen[y, x]:
                seen[y, x] = True
                dq.append((y, x))
    for y in range(h):
        for x in (0, w - 1):
            if nearm[y, x] and not seen[y, x]:
                seen[y, x] = True
                dq.append((y, x))
    while dq:
        y, x = dq.popleft()
        for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            ny, nx = y + dy, x + dx
            if 0 <= ny < h and 0 <= nx < w and nearm[ny, nx] and not seen[ny, nx]:
                seen[ny, nx] = True
                dq.append((ny, nx))
    out = arr.copy()
    out[:, seen] = rep
    alpha = np.where(seen, 0, 255).astype(np.uint8)
    return out, alpha


class TestFloodFill:
    def test_parity_random(self, spark):
        from gdal_spark.operators.nearblack import nearblack_floodfill

        rng = np.random.default_rng(42)
        # mostly near-black with content blobs: interior near-black
        # holes inside content must NOT be filled
        arr = rng.integers(0, 10, size=(1, 21, 19), dtype=np.uint8)
        arr[0, 5:16, 4:15] = 200
        arr[0, 8:11, 7:10] = 3  # enclosed hole — stays
        spec = _spec(arr, tile_size=7)
        want_out, want_alpha = _flood_scalar(arr, near=15)
        got = nearblack_floodfill(_tiles(spark, arr, spec), spec, near=15, set_alpha=True)
        m = _mat(got, spec, 2)
        np.testing.assert_array_equal(m[0], want_out[0])
        np.testing.assert_array_equal(m[1], want_alpha)
        # the hole really was preserved and the collar really filled
        assert (m[0][9, 8] == 3) and (m[0][0, 0] == 0)

    def test_parity_white_multiband(self, spark):
        from gdal_spark.operators.nearblack import nearblack_floodfill

        rng = np.random.default_rng(43)
        arr = rng.integers(246, 256, size=(3, 13, 17), dtype=np.uint8)
        arr[:, 4:9, 5:12] = 30
        spec = _spec(arr, tile_size=5)
        want_out, want_alpha = _flood_scalar(arr, white=True, near=9)
        got = nearblack_floodfill(_tiles(spark, arr, spec), spec, white=True, near=9, set_alpha=True)
        m = _mat(got, spec, 4)
        np.testing.assert_array_equal(m[:3], want_out)
        np.testing.assert_array_equal(m[3], want_alpha)
