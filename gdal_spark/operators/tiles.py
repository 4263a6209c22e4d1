"""Tile pyramid + warp operators (gdal raster tile / gdalwarp analogs).

Reference semantics reproduced (file:line in /root/reference):
  - tile indexing: WebMercatorQuad default matrix
    (apps/gdalalg_raster_tile.cpp:206-215); index = clamp(floor((X -
    topLeftX)/(res*tileW) + 1e-3), 0, matrixW-1), y measured from top
    (GetTileIndices, :435-509, EPSILON=1e-3 :458); xyz vs tms y-flip
    (GetFileY :509-514)
  - warp nearest: dst pixel center (x+0.5, y+0.5) inverse-transformed
    to src coords; reject if srcX < 0 or srcX + 1e-10 > srcW; index =
    int(srcX + 1e-10) truncation, right/bottom clamp
    (alg/gdalwarpkernel.cpp:5345-5360). We use exact transforms (no
    approx transformer), so the reference's retry-exact path
    (:5257-5343) is a no-op by construction.
  - warp bilinear: iSrc = floor(src - 0.5), ratio = 1.5 - (src -
    iSrc), border degradation iSrc==-1 -> (0, ratio 1), per-corner
    in-bounds weights renormalized by the accumulated divisor
    (GWKBilinearResample4Sample, :2952-3100)
  - overview downsample (pyramid zoom z-1 from z): NEAREST picks
    src = int(0.5 + dst*ratio) (gcore/overview.cpp:85,127); AVERAGE
    integer path = (sum + 2) / 4 (:1425-1430)

Distributed plan: dst tile keys are a Catalyst range product; each
dst tile computes its source window (the ComputeSourceWindow analog,
alg/gdalwarpoperation.cpp:3037) by transforming its edge samples,
explodes to src tile keys, equi-joins the src tile table (only the
needed src tiles move), and runs the numpy kernel per dst tile.
Overview zooms group 4 children per parent — the same
build-from-zoom+1 strategy as the reference (--overview-resampling).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from gdal_spark.geom.proj import WEB_MERCATOR_EXTENT, Pipeline
from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec, copy_word, downsample2x

TILE_EPSILON = 1e-3  # gdalalg_raster_tile.cpp:458


def grid_tile_indices(
    extent: tuple[float, float, float, float],
    top_left: tuple[float, float],
    res: float,
    tile_size: int,
    nx: int,
    ny: int,
) -> tuple[int, int, int, int]:
    """Shared GetTileIndices rule (gdalalg_raster_tile.cpp): tile
    rectangle covering a world extent on any north-up grid, with the
    reference's TILE_EPSILON-before-floor snap and clamping — ONE
    implementation for WebMercatorQuad and GridTMS (update.py)."""
    tw = res * tile_size
    tlx, tly = top_left
    minx, miny, maxx, maxy = extent

    def clampi(v: float, n: int) -> int:
        return int(np.clip(np.floor(v + TILE_EPSILON), 0, n - 1))

    return (
        clampi((minx - tlx) / tw, nx),
        clampi((tly - maxy) / tw, ny),
        clampi((maxx - tlx) / tw, nx),
        clampi((tly - miny) / tw, ny),
    )


@dataclass(frozen=True)
class WebMercatorQuad:
    """The default tile matrix set (gcore/tilematrixset.cpp)."""

    tile_size: int = 256

    @property
    def top_left(self) -> tuple[float, float]:
        return (-WEB_MERCATOR_EXTENT, WEB_MERCATOR_EXTENT)

    def resolution(self, z: int) -> float:
        return 2 * WEB_MERCATOR_EXTENT / self.tile_size / (1 << z)

    def matrix_size(self, z: int) -> int:
        return 1 << z

    def tile_indices(self, extent: tuple[float, float, float, float], z: int):
        """GetTileIndices: (mintx, minty, maxtx, maxty) covering extent,
        with the reference's 1e-3 epsilon and clamping."""
        n = self.matrix_size(z)
        return grid_tile_indices(
            extent, self.top_left, self.resolution(z), self.tile_size, n, n
        )

    def tile_origin(self, z: int, tx: int, ty: int) -> tuple[float, float]:
        res = self.resolution(z)
        tlx, tly = self.top_left
        return (tlx + tx * self.tile_size * res, tly - ty * self.tile_size * res)

    def file_y(self, ty: int, z: int, convention: str = "xyz") -> int:
        """GetFileY: xyz keeps top-origin ty; tms flips."""
        return ty if convention == "xyz" else self.matrix_size(z) - 1 - ty


def tile_keys_for_envelopes(
    df: DataFrame,
    top_left_x: float,
    top_left_y: float,
    tile_world: float,
    matrix_size: int,
    minx_col: str = "env_minx",
    miny_col: str = "env_miny",
    maxx_col: str = "env_maxx",
    maxy_col: str = "env_maxy",
) -> DataFrame:
    """Explode rows to their covering (tx, ty) tile keys — the
    GetTileIndices math (gdalalg_raster_tile.cpp:435-509) as pure
    Catalyst expressions: floor((coord-origin)/tile_world + 1e-3)
    clamped to [0, n-1], y measured from the TOP row (top_left_y).

    This is the vector->tile partitioner: at scale the output is the
    shuffle key (repartition by (tx,ty)) that co-locates every
    geometry with its tile task. JVM-side only — no Python crossing,
    so it whole-stage-codegens into the scan."""
    n1 = matrix_size - 1
    tw = float(tile_world)

    def _clamp(e):
        return F.least(F.greatest(e.cast("int"), F.lit(0)), F.lit(n1))

    tx0 = _clamp(F.floor((F.col(minx_col) - top_left_x) / tw + TILE_EPSILON))
    tx1 = _clamp(F.floor((F.col(maxx_col) - top_left_x) / tw + TILE_EPSILON))
    ty0 = _clamp(F.floor((top_left_y - F.col(maxy_col)) / tw + TILE_EPSILON))
    ty1 = _clamp(F.floor((top_left_y - F.col(miny_col)) / tw + TILE_EPSILON))
    return (
        df.withColumn("tx", F.explode(F.sequence(tx0, tx1)))
        .withColumn("ty", F.explode(F.sequence(ty0, ty1)))
    )


# ---------------------------------------------------------------------------
# warp kernels (numpy, exact reference index math)


def warp_nearest(src: np.ndarray, sx: np.ndarray, sy: np.ndarray, origin: tuple[int, int] = (0, 0), bounds: tuple[int, int] | None = None):
    """src (H,W); sx/sy = src PIXEL coords of each dst pixel.
    Returns (values, valid). Index = int(coord + 1e-10), edge clamp.

    origin/bounds support windowed sources: `src` covers global pixel
    columns [origin_x, origin_x + W) x rows [origin_y, origin_y + H)
    of a raster whose full extent is `bounds` (full_w, full_h); sx/sy
    stay GLOBAL, so every fraction/validity computation is
    bit-identical to sampling the whole raster. Defaults reproduce the
    un-windowed behavior exactly."""
    h, w = src.shape
    ox, oy = origin
    fw, fh = bounds if bounds is not None else (w, h)
    valid = (sx >= 0) & (sy >= 0) & (sx + 1e-10 <= fw) & (sy + 1e-10 <= fh)
    isx = np.clip((sx + 1e-10).astype(np.int64), 0, fw - 1) - ox
    isy = np.clip((sy + 1e-10).astype(np.int64), 0, fh - 1) - oy
    return src[np.clip(isy, 0, h - 1), np.clip(isx, 0, w - 1)], valid


def warp_bilinear(src: np.ndarray, sx: np.ndarray, sy: np.ndarray, origin: tuple[int, int] = (0, 0), bounds: tuple[int, int] | None = None):
    """Vectorized GWKBilinearResample4Sample. Returns (values float64,
    valid). Outside-window pixels (no in-bounds corner) invalid.

    origin/bounds as in warp_nearest: all index math (floor, degrade,
    corner validity, renormalization) runs in GLOBAL raster
    coordinates against the FULL bounds, and only the final gather is
    offset into the window — so a windowed call is bit-identical to
    the whole-raster call wherever the window covers the touched
    pixels."""
    h, w = src.shape
    ox, oy = origin
    fw, fh = bounds if bounds is not None else (w, h)
    ix = np.floor(sx - 0.5).astype(np.int64)
    iy = np.floor(sy - 0.5).astype(np.int64)
    rx = 1.5 - (sx - ix)
    ry = 1.5 - (sy - iy)
    # border degradation (iSrc == -1 -> pixel 0 weight 1)
    degx = ix == -1
    degy = iy == -1
    ix = np.where(degx, 0, ix)
    iy = np.where(degy, 0, iy)
    rx = np.where(degx, 1.0, rx)
    ry = np.where(degy, 1.0, ry)

    acc = np.zeros(sx.shape)
    div = np.zeros(sx.shape)
    srcf = src.astype(np.float64)
    for dy_, wy in ((0, ry), (1, 1.0 - ry)):
        for dx_, wx in ((0, rx), (1, 1.0 - rx)):
            cx = ix + dx_
            cy = iy + dy_
            ok = (cx >= 0) & (cx < fw) & (cy >= 0) & (cy < fh)
            wgt = wx * wy * ok
            vals = srcf[np.clip(cy - oy, 0, h - 1), np.clip(cx - ox, 0, w - 1)]
            acc += np.where(ok, vals * wgt, 0.0)
            div += wgt
    valid = div > 0
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.where(valid, acc / np.where(div == 0, 1.0, div), 0.0)
    return out, valid


def _cubic_weights(d: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """GWKCubicComputeWeights (gdalwarpkernel.cpp:3235-3244)."""
    half = 0.5 * d
    three = 3.0 * d
    half2 = half * d
    c0 = half * (-1 + d * (2 - d))
    c1 = 1 + half2 * (-5 + three)
    c2 = half * (1 + d * (4 - three))
    c3 = half2 * (-1 + d)
    return c0, c1, c2, c3


def warp_cubic(src: np.ndarray, sx: np.ndarray, sy: np.ndarray):
    """GWKCubicResample4Sample: 4x4 cubic convolution at
    iSrc = int(srcX - 0.5), delta = srcX - 0.5 - iSrc; pixels whose
    4x4 window leaves the source fall back to bilinear
    (gdalwarpkernel.cpp:3282-3301)."""
    h, w = src.shape
    ix = (sx - 0.5).astype(np.int64)
    iy = (sy - 0.5).astype(np.int64)
    interior = (ix - 1 >= 0) & (ix + 2 < w) & (iy - 1 >= 0) & (iy + 2 < h)

    out, valid = warp_bilinear(src, sx, sy)  # border (and fallback) path
    if interior.any():
        sxi = sx[interior]
        syi = sy[interior]
        ixi = ix[interior]
        iyi = iy[interior]
        dx = sxi - 0.5 - ixi
        dy = syi - 0.5 - iyi
        wx = _cubic_weights(dx)
        wy = _cubic_weights(dy)
        srcf = src.astype(np.float64)
        rows = np.zeros((4, sxi.size))
        for r in range(4):
            acc = np.zeros(sxi.size)
            for c in range(4):
                acc += wx[c] * srcf[iyi + r - 1, ixi + c - 1]
            rows[r] = acc
        vals = sum(wy[r] * rows[r] for r in range(4))
        out[interior] = vals
        valid = valid | interior
    return out, valid


def warp_average(src: np.ndarray, sxa, sya, sxb, syb, bounds=None):
    """GRA_Average (GWKAverageOrMode): per dst pixel, the unweighted
    mean of the src pixels inside the transformed footprint
    [min(corner x), max(corner x)] x [same for y], windowed by the
    reference's rule (gdalwarpkernel.cpp:6992-7006):
      iMin = max(floor(min + 1e-10), 0)
      iMax = min(ceil(max - 1e-10), size); if iMin == iMax: iMax += 1
    Vectorized with an integral image (no per-pixel loops)."""
    h, w = src.shape
    # bounds: the TRUE raster rectangle in window-local coords (the
    # assembled window may pad beyond the raster; GDAL clamps the
    # footprint to [0, nSrcSize] of the real raster)
    bx0, by0, bx1, by1 = bounds if bounds is not None else (0.0, 0.0, float(w), float(h))
    EPS = 1e-10
    xmin = np.minimum(sxa, sxb)
    xmax = np.maximum(sxa, sxb)
    ymin = np.minimum(sya, syb)
    ymax = np.maximum(sya, syb)
    ok = (xmax > bx0 - EPS) & (xmin < bx1 + EPS) & (ymax > by0 - EPS) & (ymin < by1 + EPS)
    ix0 = np.maximum(np.floor(xmin + EPS), bx0).astype(np.int64)
    ix1 = np.minimum(np.ceil(xmax - EPS), bx1).astype(np.int64)
    ix1 = np.where((ix0 == ix1) & (ix1 < bx1), ix1 + 1, ix1)
    iy0 = np.maximum(np.floor(ymin + EPS), by0).astype(np.int64)
    iy1 = np.minimum(np.ceil(ymax - EPS), by1).astype(np.int64)
    iy1 = np.where((iy0 == iy1) & (iy1 < by1), iy1 + 1, iy1)
    ok &= (ix1 > ix0) & (iy1 > iy0)
    ix0c, ix1c = np.clip(ix0, 0, w), np.clip(ix1, 0, w)
    iy0c, iy1c = np.clip(iy0, 0, h), np.clip(iy1, 0, h)
    c = np.pad(np.cumsum(np.cumsum(src.astype(np.float64), axis=0), axis=1), ((1, 0), (1, 0)))
    s = c[iy1c, ix1c] - c[iy0c, ix1c] - c[iy1c, ix0c] + c[iy0c, ix0c]
    n = np.maximum((iy1c - iy0c) * (ix1c - ix0c), 1)
    return np.where(ok, s / n, 0.0), ok


def _cubic_spline_weight(v: np.ndarray) -> np.ndarray:
    """CubicSplineKernel (alg/gdalresamplingkernels.h:45-61): cubic
    B-spline via truncated powers, support (-2, 2)."""
    xm1 = v - 1.0
    xp1 = v + 1.0
    xp2 = v + 2.0
    a = np.where(xp2 > 0, xp2 * xp2 * xp2, 0.0)
    b = np.where(xp1 > 0, xp1 * xp1 * xp1, 0.0)
    c = np.where(v > 0, v * v * v, 0.0)
    d = np.where(xm1 > 0, xm1 * xm1 * xm1, 0.0)
    w = (a - 4.0 * b + 6.0 * c - 4.0 * d) / 6.0
    return np.where(v > 2.0, 0.0, w)


def _lanczos_weight(v: np.ndarray) -> np.ndarray:
    """GWKLanczosSinc (gdalwarpkernel.cpp:3677): sinc(x)*sinc(x/3),
    radius 3."""
    x = np.asarray(v, dtype=np.float64)
    out = np.ones_like(x)
    nz = x != 0.0
    pix = np.pi * x[nz]
    out[nz] = np.sin(pix) * np.sin(pix / 3.0) / (pix * pix / 3.0)
    return np.where(np.abs(x) >= 3.0, 0.0, out)


def _make_filter_kernel(weight_fn, radius: int):
    """Generic separable point-filter resampler (GWKResample,
    gdalwarpkernel.cpp:4029-4160, scale >= 1 path): iSrc =
    floor(src - 0.5), delta = src - 0.5 - iSrc; taps j in
    [((r+1)%2) - r, r] clamped to the raster; weight w(j - delta);
    result = sum(w*v) / sum(w) over in-bounds taps."""
    filt_init = ((radius + 1) % 2) - radius

    def kernel(src: np.ndarray, sx: np.ndarray, sy: np.ndarray):
        h, w = src.shape
        ix = np.floor(sx - 0.5).astype(np.int64)
        iy = np.floor(sy - 0.5).astype(np.int64)
        dx = sx - 0.5 - ix
        dy = sy - 0.5 - iy
        srcf = src.astype(np.float64)
        acc = np.zeros(sx.shape)
        wsum = np.zeros(sx.shape)
        for j in range(filt_init, radius + 1):
            wy = weight_fn(j - dy)
            cy = iy + j
            oky = (cy >= 0) & (cy < h)
            cyc = np.clip(cy, 0, h - 1)
            for i in range(filt_init, radius + 1):
                wx = weight_fn(i - dx)
                cx = ix + i
                ok = oky & (cx >= 0) & (cx < w)
                wt = np.where(ok, wy * wx, 0.0)
                acc += wt * srcf[cyc, np.clip(cx, 0, w - 1)]
                wsum += wt
        valid = wsum >= 1e-6  # dfAccumulatorWeight guard (:4157)
        with np.errstate(invalid="ignore", divide="ignore"):
            out = np.where(valid, acc / np.where(wsum == 0, 1.0, wsum), 0.0)
        return out, valid

    return kernel


warp_cubicspline = _make_filter_kernel(_cubic_spline_weight, 2)
warp_lanczos = _make_filter_kernel(_lanczos_weight, 3)


def _footprint_windows(src_shape, sxa, sya, sxb, syb, bounds):
    """The GWKAverageOrMode integer window rule
    (gdalwarpkernel.cpp:6992-7006) shared by every area statistic:
    iMin = max(floor(min + 1e-10), 0), iMax = min(ceil(max - 1e-10),
    size), bumped to at least one pixel."""
    h, w = src_shape
    bx0, by0, bx1, by1 = bounds if bounds is not None else (0.0, 0.0, float(w), float(h))
    EPS = 1e-10
    xmin = np.minimum(sxa, sxb)
    xmax = np.maximum(sxa, sxb)
    ymin = np.minimum(sya, syb)
    ymax = np.maximum(sya, syb)
    ok = (xmax > bx0 - EPS) & (xmin < bx1 + EPS) & (ymax > by0 - EPS) & (ymin < by1 + EPS)
    ix0 = np.maximum(np.floor(xmin + EPS), bx0).astype(np.int64)
    ix1 = np.minimum(np.ceil(xmax - EPS), bx1).astype(np.int64)
    ix1 = np.where((ix0 == ix1) & (ix1 < bx1), ix1 + 1, ix1)
    iy0 = np.maximum(np.floor(ymin + EPS), by0).astype(np.int64)
    iy1 = np.minimum(np.ceil(ymax - EPS), by1).astype(np.int64)
    iy1 = np.where((iy0 == iy1) & (iy1 < by1), iy1 + 1, iy1)
    ok &= (ix1 > ix0) & (iy1 > iy0)
    return (
        np.clip(ix0, 0, w), np.clip(ix1, 0, w), np.clip(iy0, 0, h), np.clip(iy1, 0, h), ok,
    )


def _mode_first(arr: np.ndarray) -> np.ndarray:
    """(n, k) value rows -> per-row mode with the reference's FIRST tie
    strategy (gdalwarper.h:121-126, gdalwarpkernel.cpp:8141-8161): the
    winner is the value that first REACHES the final maximum count in
    row-major scan order. Vectorized O(n*k^2)."""
    n, k = arr.shape
    eq = arr[:, :, None] == arr[:, None, :]  # (n, j, l): arr[j] == arr[l]
    counts = eq.sum(axis=2)  # total count of arr[:, j]'s value
    maxc = counts.max(axis=1)
    tril = np.tril(np.ones((k, k), dtype=bool))
    occ = (eq & tril).sum(axis=2)  # occurrence index of arr[:, j] at j
    reach = (counts == maxc[:, None]) & (occ == maxc[:, None])
    first_j = reach.argmax(axis=1)
    return arr[np.arange(n), first_j]


def _mode_tie(arr: np.ndarray, tie: str) -> np.ndarray:
    """MODE_TIES=MIN/MAX (gdalwarper.h GWKTS_Min/Max;
    gdalwarpkernel.cpp:7190-7203): among the values sharing the final
    maximum count, pick the smallest (MIN) / largest (MAX) — the
    incremental tie-compare in the reference converges to exactly
    that."""
    counts = (arr[:, :, None] == arr[:, None, :]).sum(axis=2)
    cand = counts == counts.max(axis=1, keepdims=True)
    masked = np.where(cand, arr, np.inf if tie == "min" else -np.inf)
    return masked.min(axis=1) if tie == "min" else masked.max(axis=1)


def make_window_stat_kernel(stat: str, mode_ties: str = "first"):
    """Area-footprint statistic resamplers (GWKAverageOrModeThread
    dispatch, gdalwarpkernel.cpp:7613-7692): min/max, mode (FIRST
    ties by default; MODE_TIES=MIN/MAX via mode_ties),
    med/q1/q3 (sorted value at ceil(q*n - 1), :8339), rms.
    Windows are grouped by (height, width) shape — per distinct shape
    one numpy sliding-window gather, no per-pixel Python.

    vmask: optional (h, w) bool source-validity mask (src_nodata /
    UNIFIED_SRC_NODATA; the reference skips samples whose
    panUnifiedSrcValid bit is unset, gdalwarpkernel.cpp:6864+). The
    statistic runs over the valid window samples only; a window with
    zero valid samples leaves the dst pixel invalid."""
    quant = {"med": 0.5, "q1": 0.25, "q3": 0.75}.get(stat)

    def kernel(src: np.ndarray, sxa, sya, sxb, syb, bounds=None, vmask=None):
        ix0, ix1, iy0, iy1, ok = _footprint_windows(src.shape, sxa, sya, sxb, syb, bounds)
        out = np.zeros(sxa.shape)
        flat_ok = np.flatnonzero(ok)
        if flat_ok.size == 0:
            return out, ok
        fx0, fx1 = ix0.ravel()[flat_ok], ix1.ravel()[flat_ok]
        fy0, fy1 = iy0.ravel()[flat_ok], iy1.ravel()[flat_ok]
        kw_ = fx1 - fx0
        kh_ = fy1 - fy0
        res = np.zeros(flat_ok.size)
        res_ok = np.ones(flat_ok.size, dtype=bool)
        srcf = src.astype(np.float64)
        for (hh, ww_) in set(zip(kh_.tolist(), kw_.tolist())):
            sel = (kh_ == hh) & (kw_ == ww_)
            win = np.lib.stride_tricks.sliding_window_view(srcf, (hh, ww_))
            arr = win[fy0[sel], fx0[sel]].reshape(-1, hh * ww_)
            vm = None
            if vmask is not None:
                vwin = np.lib.stride_tricks.sliding_window_view(vmask, (hh, ww_))
                vm = vwin[fy0[sel], fx0[sel]].reshape(-1, hh * ww_)
                nvalid = vm.sum(axis=1)
                res_ok[sel] = nvalid > 0
            if stat == "min":
                a = arr if vm is None else np.where(vm, arr, np.inf)
                res[sel] = np.where(np.isfinite(m := a.min(axis=1)), m, 0.0)
            elif stat == "max":
                a = arr if vm is None else np.where(vm, arr, -np.inf)
                res[sel] = np.where(np.isfinite(m := a.max(axis=1)), m, 0.0)
            elif stat == "rms":
                if vm is None:
                    res[sel] = np.sqrt(np.mean(arr * arr, axis=1))
                else:
                    with np.errstate(invalid="ignore", divide="ignore"):
                        ms = np.where(vm, arr * arr, 0.0).sum(axis=1) / np.maximum(nvalid, 1)
                    res[sel] = np.sqrt(ms)
            elif stat == "mode":
                # raw values, not int-truncated: GDAL's integer-bin
                # histogram path applies to integer band types only;
                # float rasters keep distinct float values.
                # Invalid samples become NaN: NaN != NaN, so they
                # count 0 and can never win (and all-NaN rows are
                # already marked invalid via res_ok).
                a = arr if vm is None else np.where(vm, arr, np.nan)
                if mode_ties == "first":
                    res[sel] = np.nan_to_num(_mode_first(a))
                else:
                    res[sel] = np.nan_to_num(_mode_tie(a, mode_ties))
            else:  # med / q1 / q3
                if vm is None:
                    s = np.sort(arr, axis=1)
                    idx = int(np.ceil(quant * arr.shape[1] - 1))
                    res[sel] = s[:, max(idx, 0)]
                else:
                    # sort invalid to the tail; per-row index over the
                    # VALID count only (the reference collects valid
                    # samples then indexes ceil(q*n - 1))
                    s = np.sort(np.where(vm, arr, np.inf), axis=1)
                    idx = np.maximum(np.ceil(quant * nvalid - 1).astype(np.int64), 0)
                    got = s[np.arange(s.shape[0]), np.minimum(idx, s.shape[1] - 1)]
                    res[sel] = np.where(np.isfinite(got), got, 0.0)
        out.ravel()[flat_ok] = res
        if vmask is not None:
            final_ok = ok.copy()
            final_ok.ravel()[flat_ok] &= res_ok
            return out.reshape(sxa.shape), final_ok
        return out.reshape(sxa.shape), ok

    return kernel


def warp_sum(src: np.ndarray, sxa, sya, sxb, syb, bounds=None):
    """GRA_Sum (GWKSumPreservingThread, gdalwarpkernel.cpp:8680,
    affine-no-rotation case): each source pixel's value is distributed
    over dst pixels by fractional area overlap, so the global sum is
    preserved. Separable closed form: the area-weighted box sum over
    the fractional footprint equals the 2D cumulative integral of the
    piecewise-constant pixel field sampled (bilinearly — it IS
    bilinear between grid points) at the four footprint corners."""
    h, w = src.shape
    bx0, by0, bx1, by1 = bounds if bounds is not None else (0.0, 0.0, float(w), float(h))
    xmin = np.clip(np.minimum(sxa, sxb), bx0, bx1)
    xmax = np.clip(np.maximum(sxa, sxb), bx0, bx1)
    ymin = np.clip(np.minimum(sya, syb), by0, by1)
    ymax = np.clip(np.maximum(sya, syb), by0, by1)
    ok = (xmax > xmin) & (ymax > ymin)
    c = np.pad(np.cumsum(np.cumsum(src.astype(np.float64), axis=0), axis=1), ((1, 0), (1, 0)))

    def S(x, y):
        # bilinear sample of the cumulative integral at fractional coords
        xi = np.clip(np.floor(x).astype(np.int64), 0, w - 1)
        yi = np.clip(np.floor(y).astype(np.int64), 0, h - 1)
        fx = x - xi
        fy = y - yi
        c00 = c[yi, xi]
        c01 = c[yi, xi + 1]
        c10 = c[yi + 1, xi]
        c11 = c[yi + 1, xi + 1]
        return (
            c00 * (1 - fx) * (1 - fy)
            + c01 * fx * (1 - fy)
            + c10 * (1 - fx) * fy
            + c11 * fx * fy
        )

    total = S(xmax, ymax) - S(xmin, ymax) - S(xmax, ymin) + S(xmin, ymin)
    return np.where(ok, total, 0.0), ok


def parse_excluded_values(value, nbands: int):
    """EXCLUDED_VALUES warp-option parser (gdalwarper.cpp:1243-1254
    option doc; gdalwarpkernel.cpp:1491-1513 CSLTokenizeString2 on
    "(,)"): "R,G,B" = one tuple, "(R1,G1,B1),(R2,G2,B2)" = several.
    Each tuple must have exactly nbands values. Accepts a pre-parsed
    sequence of tuples/scalars too. Returns list[tuple[float, ...]]."""
    if value is None:
        return None
    if isinstance(value, str):
        toks = [t for t in re.split(r"[(),]", value) if t.strip() != ""]
        vals = [float(t) for t in toks]
        if len(vals) % nbands != 0:
            raise ValueError(
                "EXCLUDED_VALUES should contain one or several tuples of "
                f"{nbands} values"
            )
        return [tuple(vals[i : i + nbands]) for i in range(0, len(vals), nbands)]
    out = []
    for item in value:
        tup = (float(item),) if np.isscalar(item) else tuple(float(v) for v in item)
        if len(tup) != nbands:
            raise ValueError(
                "EXCLUDED_VALUES should contain one or several tuples of "
                f"{nbands} values"
            )
        out.append(tup)
    return out


def warp_average_excluded(
    band_wins,
    vmask,
    excluded,
    sxa,
    sya,
    sxb,
    syb,
    bounds=None,
    excl_pct: float = 0.5,
    nodata_pct: float = 1.0,
):
    """GRA_Average with EXCLUDED_VALUES / EXCLUDED_VALUES_PCT_THRESHOLD
    / NODATA_VALUES_PCT_THRESHOLD (gdalwarper.cpp:1243-1261 option
    docs; gdalwarpkernel.cpp:7787-7931 joint-band average path):
    window samples whose all-band tuple matches an excluded tuple are
    VALID (count toward the window total) but do not contribute to the
    mean; a sample is assigned to the FIRST matching tuple. Per dst
    pixel, with W = total window samples, I = invalid (nodata),
    E = excluded, R = regular:
      - I > 0 and I >= nodata_pct * W  -> dst invalid
      - else E > 0 and E >= excl_pct * W -> dst takes the
        most-represented excluded tuple (strictly-greater scan, so
        first tuple wins ties)
      - else R > 0 -> dst = mean of the regular samples
      - else -> dst invalid.
    All counts via integral images over the shared footprint-window
    rule — no per-pixel loops. Returns (per-band value arrays, dst
    validity array)."""
    h, w = band_wins[0].shape
    if not excluded:
        # NODATA_VALUES_PCT_THRESHOLD alone: a never-matching tuple
        excluded = [(np.nan,) * len(band_wins)]
    ix0, ix1, iy0, iy1, ok = _footprint_windows((h, w), sxa, sya, sxb, syb, bounds)

    def box(a):
        c = np.pad(
            np.cumsum(np.cumsum(a.astype(np.float64), axis=0), axis=1), ((1, 0), (1, 0))
        )
        return c[iy1, ix1] - c[iy0, ix1] - c[iy1, ix0] + c[iy0, ix0]

    total = ((iy1 - iy0) * (ix1 - ix0)).astype(np.float64)
    vm = np.ones((h, w), dtype=bool) if vmask is None else vmask
    n_invalid = total - box(vm)
    assigned = np.zeros((h, w), dtype=bool)
    excl_masks = []
    for tup in excluded:
        m = vm & ~assigned
        for b, v in enumerate(tup):
            m &= band_wins[b] == v
        excl_masks.append(m)
        assigned |= m
    n_excl_per = np.stack([box(m) for m in excl_masks])  # (T, ...)
    n_excl = n_excl_per.sum(axis=0)
    reg_mask = vm & ~assigned
    n_reg = box(reg_mask)
    # same double expressions as the reference's >= comparisons
    invalid_hit = (n_invalid > 0) & (n_invalid >= nodata_pct * total)
    excl_hit = ~invalid_hit & (n_excl > 0) & (n_excl >= excl_pct * total)
    reg_hit = ~invalid_hit & ~excl_hit & (n_reg > 0)
    best = n_excl_per.argmax(axis=0)  # argmax = first max = the '>' scan
    dst_valid = ok & (excl_hit | reg_hit)
    outs = []
    for b in range(len(band_wins)):
        s_reg = box(np.where(reg_mask, band_wins[b], 0.0))
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = np.where(n_reg > 0, s_reg / np.maximum(n_reg, 1.0), 0.0)
        evals = np.array([t[b] for t in excluded], dtype=np.float64)
        v = np.where(excl_hit, evals[best], mean)
        outs.append(np.where(dst_valid, v, 0.0))
    return outs, dst_valid


WARP_KERNELS = {
    "near": warp_nearest,
    "bilinear": warp_bilinear,
    "cubic": warp_cubic,
    "cubicspline": warp_cubicspline,
    "lanczos": warp_lanczos,
}
AREA_KERNELS = {
    "average": warp_average,
    "sum": warp_sum,
    **{s: make_window_stat_kernel(s) for s in ("min", "max", "mode", "med", "q1", "q3", "rms")},
    # MODE_TIES=MIN/MAX warp option (gdalwarper.cpp:1524, GDAL >= 3.11)
    "mode_min": make_window_stat_kernel("mode", mode_ties="min"),
    "mode_max": make_window_stat_kernel("mode", mode_ties="max"),
}
# area kernels that take a vmask= validity mask (per-sample skip)
# rather than the algebraic kernel(v*m)/kernel(m) reweighting
_WINDOW_STATS = {"min", "max", "mode", "mode_min", "mode_max", "med", "q1", "q3", "rms"}


# ---------------------------------------------------------------------------
# distributed tiling

TILE_OUT_SCHEMA = StructType(
    [
        StructField("z", IntegerType()),
        StructField("tx", IntegerType()),
        StructField("ty", IntegerType()),
        StructField("band", IntegerType()),
        StructField("dtype", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def _dst_pixel_src_coords(
    tms: WebMercatorQuad, z: int, tx: int, ty: int, pipeline: Pipeline, src_spec: RasterSpec, offset: float = 0.5
):
    """src pixel coords (sx, sy) of every dst pixel of the tile, at
    the given sub-pixel offset (0.5 = centers for point kernels;
    0.0 / 1.0 = the corner pair the area kernels transform,
    GWKAverageOrModeComputeSourceCoords padfX/padfX2)."""
    res = tms.resolution(z)
    ox, oy = tms.tile_origin(z, tx, ty)
    xs = ox + (np.arange(tms.tile_size) + offset) * res
    ys = oy - (np.arange(tms.tile_size) + offset) * res
    X, Y = np.meshgrid(xs, ys)
    wx, wy = pipeline.inverse(X.ravel(), Y.ravel())
    sx, sy = src_spec.world_to_pixel(wx, wy)
    return sx.reshape(X.shape), sy.reshape(X.shape)


def approx_scanline_coords(
    tms: WebMercatorQuad,
    z: int,
    tx: int,
    ty: int,
    pipeline: Pipeline,
    src_spec: RasterSpec,
    max_error: float,
    offset: float = 0.5,
):
    """Error-bounded approximation of the dst-pixel -> src-pixel
    transform — a faithful replica of GDALCreateApproxTransformer
    (gdaltransformer.cpp:3979; GDALApproxTransform:4384 /
    ...Internal:4114): per dst scanline, transform Start/Middle/End
    exactly; if the linear interpolation at the middle is within
    max_error (Manhattan, src-pixel units) every point of the segment
    takes the endpoint slope (including the middle — the reference
    overwrites it too); otherwise subdivide into [start, middle-1] and
    [middle, end] halves, pre-transforming each half's own middle and
    half1's end exactly (the reference's 3-point xMiddle batch), with
    halves of <= 5 points transformed exactly point-by-point (the
    bUseBaseTransformForHalf guards — the y-equality/x-distinctness
    arms are vacuous on a scanline). Bit-identical subdivision and
    interpolation arithmetic -> identical nearest-neighbor picks
    wherever the base transform agrees.

    All rows' SME triples go through ONE vectorized base call; only
    rejected rows recurse.

    Returns (sx, sy) src pixel coords, same contract as
    _dst_pixel_src_coords. Opt-in: warp callers default to the exact
    path (max_error 0) to keep nearest assignments bit-identical to
    the exact transformer."""
    ts = tms.tile_size
    res = tms.resolution(z)
    ox, oy = tms.tile_origin(z, tx, ty)
    xs = ox + (np.arange(ts) + offset) * res
    ys = oy - (np.arange(ts) + offset) * res
    h = w = ts

    def base(X, Y):
        wx, wy = pipeline.inverse(np.asarray(X, dtype=np.float64), np.asarray(Y, dtype=np.float64))
        return src_spec.world_to_pixel(wx, wy)

    out_sx = np.empty((h, w))
    out_sy = np.empty((h, w))
    mid = (w - 1) // 2
    sme_cols = np.array([0, mid, w - 1])
    bx, by = base(np.tile(xs[sme_cols], h), np.repeat(ys, 3))
    bx = bx.reshape(h, 3)
    by = by.reshape(h, 3)
    span = xs[-1] - xs[0]
    dX = (bx[:, 2] - bx[:, 0]) / span
    dY = (by[:, 2] - by[:, 0]) / span
    xm = xs[mid] - xs[0]
    err = np.abs(bx[:, 0] + dX * xm - bx[:, 1]) + np.abs(by[:, 0] + dY * xm - by[:, 1])
    ok = err <= max_error
    if ok.any():
        dist = (xs - xs[0])[None, :]
        out_sx[ok] = bx[ok, 0:1] + dX[ok, None] * dist
        out_sy[ok] = by[ok, 0:1] + dY[ok, None] * dist

    def exact(row, i0, i1):
        # base-transform points i0..i1 inclusive (empty range ok)
        if i1 < i0:
            return
        ex, ey = base(xs[i0 : i1 + 1], np.full(i1 - i0 + 1, ys[row]))
        out_sx[row, i0 : i1 + 1] = ex
        out_sy[row, i0 : i1 + 1] = ey

    def segment(row, i0, i1, t0, tm, t1):
        # GDALApproxTransformInternal over points i0..i1: t0/tm/t1 are
        # the EXACT transforms of x[i0], x[i0+(n-1)//2], x[i1]
        n = i1 - i0 + 1
        m = i0 + (n - 1) // 2
        ddx = (t1[0] - t0[0]) / (xs[i1] - xs[i0])
        ddy = (t1[1] - t0[1]) / (xs[i1] - xs[i0])
        e = abs(t0[0] + ddx * (xs[m] - xs[i0]) - tm[0]) + abs(
            t0[1] + ddy * (xs[m] - xs[i0]) - tm[1]
        )
        if e <= max_error:
            d = xs[i0 : i1 + 1] - xs[i0]
            out_sx[row, i0 : i1 + 1] = t0[0] + ddx * d
            out_sy[row, i0 : i1 + 1] = t0[1] + ddy * d
            return
        nm = (n - 1) // 2  # local middle = half1 point count
        ia = i0 + (nm - 1) // 2       # half1's middle
        ib = i0 + nm - 1              # half1's end
        ic = m + (n - nm - 1) // 2    # half2's middle
        half1_exact = nm <= 5
        half2_exact = (n - nm) <= 5
        if not half1_exact and not half2_exact:
            ex, ey = base(xs[[ia, ib, ic]], np.full(3, ys[row]))
            segment(row, i0, ib, t0, (ex[0], ey[0]), (ex[1], ey[1]))
            segment(row, m, i1, tm, (ex[2], ey[2]), t1)
        elif not half1_exact:
            ex, ey = base(xs[[ia, ib]], np.full(2, ys[row]))
            segment(row, i0, ib, t0, (ex[0], ey[0]), (ex[1], ey[1]))
            exact(row, m + 1, i1 - 1)
            out_sx[row, m], out_sy[row, m] = tm
            out_sx[row, i1], out_sy[row, i1] = t1
        elif not half2_exact:
            ex, ey = base(xs[[ic]], np.full(1, ys[row]))
            exact(row, i0 + 1, ib)
            out_sx[row, i0], out_sy[row, i0] = t0
            segment(row, m, i1, tm, (ex[0], ey[0]), t1)
        else:
            exact(row, i0 + 1, ib)
            exact(row, m + 1, i1 - 1)
            out_sx[row, i0], out_sy[row, i0] = t0
            out_sx[row, m], out_sy[row, m] = tm
            out_sx[row, i1], out_sy[row, i1] = t1

    for row in np.flatnonzero(~ok):
        segment(
            row, 0, w - 1,
            (bx[row, 0], by[row, 0]), (bx[row, 1], by[row, 1]),
            (bx[row, 2], by[row, 2]),
        )
    return out_sx, out_sy


def _edge_samples(w: float, h: float, n_steps: int) -> tuple[np.ndarray, np.ndarray]:
    """The reference's 4-edge lattice (gdaltransformer.cpp:508-523):
    (n_steps+1) samples along top, bottom, left, right, in that order
    (sample 0 = top-left corner, last = bottom-right corner)."""
    r = np.arange(n_steps + 1, dtype=np.float64) / n_steps
    r[-1] = 1.0
    px = np.concatenate([r * w, r * w, np.zeros(n_steps + 1), np.full(n_steps + 1, w)])
    py = np.concatenate([np.zeros(n_steps + 1), np.full(n_steps + 1, h), r * h, r * h])
    return px, py


def suggested_warp_output(
    src_spec: RasterSpec,
    pipeline: Pipeline,
    round_up: bool = False,
) -> tuple[tuple[float, float, float, float, float, float], int, int, tuple[float, float, float, float]]:
    """GDALSuggestedWarpOutput2 (alg/gdaltransformer.cpp:342-1215):
    walk the source edges with ~min(dim)/50 steps clamped to [20,100]
    samples per edge, transform to the dst CRS, fall back to a full
    interior lattice when any edge point fails or does not revert to
    within one step, size the square output pixel so the transformed
    corner diagonal spans as many pixels as the source diagonal, and
    nudge the right/bottom pixel size by the reference's ratio ladder
    when an entire border lands outside the revertable area.

    Returns (geotransform, pixels, lines, extent=(minx, miny, maxx,
    maxy)). Deviations from the reference (documented): no
    antimeridian sign-discontinuity dichotomy and no pole insertion —
    the formula projections here are continuous over their fixture
    domains; failures are NaN/inf outputs rather than transformer
    error flags."""
    w, h = src_spec.width, src_spec.height
    n_steps = int(min(w, h) / 50.0 + 0.5)
    n_steps = min(max(n_steps, 20), 100)

    def fwd(px: np.ndarray, py: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        wx, wy = src_spec.pixel_to_world(px, py)
        return pipeline.forward(wx, wy)

    def rev(X: np.ndarray, Y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        wx, wy = pipeline.inverse(X, Y)
        return src_spec.world_to_pixel(wx, wy)

    px, py = _edge_samples(w, h, n_steps)
    X, Y = fwd(px, py)
    ok = np.isfinite(X) & np.isfinite(Y)
    failed = not ok.all()
    if not failed:
        # revertability check (gdaltransformer.cpp:612-668): inverse
        # then compare to the source sample within one step length
        bx, by = rev(X, Y)
        bad = (
            ~np.isfinite(bx)
            | ~np.isfinite(by)
            | (np.abs(bx - px) > w / n_steps)
            | (np.abs(by - py) > h / n_steps)
        )
        failed = bool(bad.any())
    if failed:
        # detailed interior lattice (gdaltransformer.cpp:674-700)
        r = np.arange(n_steps + 1, dtype=np.float64) / n_steps
        r[-1] = 1.0
        gx, gy = np.meshgrid(r * w, r * h)
        px, py = gx.ravel(), gy.ravel()
        X, Y = fwd(px, py)
        ok = np.isfinite(X) & np.isfinite(Y)
    if ok.sum() < 10:
        raise ValueError("too many points failed to transform; cannot suggest output bounds")
    minx, maxx = float(X[ok].min()), float(X[ok].max())
    miny, maxy = float(Y[ok].min()), float(Y[ok].max())

    # corner-diagonal pixel size (gdaltransformer.cpp:1072-1100)
    dx = dy = 0.0
    if ok[0] and ok[-1]:
        dx = float(X[-1] - X[0])
        dy = float(Y[-1] - Y[0])
    if dx == 0.0 or dy == 0.0:
        dx, dy = maxx - minx, maxy - miny
    pixel_size = math.hypot(dx, dy) / math.hypot(w, h)
    fpixels = (maxx - minx) / pixel_size
    flines = (maxy - miny) / pixel_size
    if round_up:
        pixels = int(math.ceil(fpixels - 1e-5))
        lines = int(math.ceil(flines - 1e-5))
    else:
        pixels = int(fpixels + 0.5)
        lines = int(flines + 0.5)
    psx = psy = pixel_size

    def _border_all_bad(bX: np.ndarray, bY: np.ndarray, try_psx: float, try_psy: float) -> bool:
        # MustAdjustForRight/BottomBorder (gdaltransformer.cpp:189-245):
        # round-trip dst->src->dst over 21 border samples; adjust only
        # when EVERY sample fails to land back within one pixel
        sx, sy = rev(bX, bY)
        fX, fY = fwd(sx, sy)
        bad = (
            ~np.isfinite(fX)
            | ~np.isfinite(fY)
            | (np.abs(fX - bX) > try_psx)
            | (np.abs(fY - bY) > try_psy)
        )
        return bool(bad.all())

    t = np.linspace(0.0, 1.0, 21)
    for ratio in (0.0, 0.001, 0.01, 0.1, 1.0):
        try_psx = psx - psx * ratio / pixels
        right_x = np.full(21, minx + pixels * try_psx)
        right_y = maxy - psy * t * lines
        if not _border_all_bad(right_x, right_y, try_psx, psy):
            psx = try_psx
            break
    for ratio in (0.0, 0.001, 0.01, 0.1, 1.0):
        try_psy = psy - psy * ratio / lines
        bot_x = minx + psx * t * pixels
        bot_y = np.full(21, maxy - lines * try_psy)
        if not _border_all_bad(bot_x, bot_y, psx, try_psy):
            psy = try_psy
            break

    gt = (minx, psx, 0.0, maxy, 0.0, -psy)
    extent = (minx, maxy - lines * psy, minx + pixels * psx, maxy)
    return gt, pixels, lines, extent


def raster_tile(
    src_tiles: DataFrame,
    src_spec: RasterSpec,
    src_pipeline: Pipeline,
    min_zoom: int,
    max_zoom: int,
    resampling: str = "near",
    overview_resampling: str = "average",
    tms: WebMercatorQuad | None = None,
    done_keys: DataFrame | None = None,
    cutline=None,
    cutline_blend_dist: float = 0.0,
    cutline_all_touched: bool = False,
    approx_error: float = 0.0,
    src_nodata: float | None = None,
    dst_nodata: float = 0.0,
    excluded_values=None,
    excluded_values_pct_threshold: float = 50.0,
    nodata_values_pct_threshold: float = 100.0,
) -> DataFrame:
    """gdal raster tile: src tile table -> (z, tx, ty, band, payload)
    rows for zooms [min_zoom, max_zoom], plus an alpha band
    (band = nbands+1, 255 where source coverage exists).

    done_keys (z, tx, ty): --resume semantics — already-produced base
    tiles are anti-joined out before any work happens
    (gdalalg_raster_tile.cpp:675,1506). Overviews are rebuilt.

    cutline: optional WKT (multi)polygon in SOURCE pixel coordinates
    (the CUTLINE warp option, alg/gdalwarper.cpp:1132; masker
    semantics alg/gdalcutline.cpp — see operators/cutline.py). Source
    validity/density outside the cutline is 0; with
    cutline_blend_dist > 0 a ramped density near the boundary. The
    density is handled per SAMPLE exactly as the reference's
    GWKResample / GWKBilinearResample4Sample: source samples at
    density <= SRC_DENSITY_THRESHOLD (1e-9) are skipped and the
    remaining kernel weights renormalize (value = sum(w*v)/sum(w) over
    retained samples — values are NOT premultiplied by density); the
    dst density = sum(w*d)/sum(w) over the same samples feeds the
    alpha band as round(255 * density), and a dst pixel below the
    0.0001 density floor is not set (GWKSetPixelValue,
    gdalwarpkernel.cpp:1804-1806). Area resamplers treat the cutline
    as a validity test per GWKGetPixelValue (contributing samples
    carry full value, dst density 1.0).

    approx_error: 0 (default) = exact per-pixel inverse transform
    (nearest assignments bit-identical to the reference). > 0 enables
    the error-bounded scanline approximator (approx_scanline_coords;
    the reference's gdalwarp default is 0.125 px) for point-kernel
    resamplings — the big constant-factor win at scale where the
    inverse projection is the warp hot loop.

    src_nodata: gdalwarp -srcnodata (UNIFIED_SRC_NODATA=YES shape,
    alg/gdalwarpkernel.cpp GWKResample valid-sample reweighting):
    source pixels equal to the value are excluded. For the linear
    kernels (near/bilinear/cubic/cubicspline/lanczos/average) the
    exact reweighted result is computed as kernel(v*m)/kernel(m) —
    algebraically identical to the reference's sum(w*v*valid)/
    sum(w*valid). sum sums the valid samples only. A dst pixel with
    zero valid weight gets dst_nodata (-dstnodata; default 0 =
    INIT_DEST=0) and alpha 0. Window-statistic resamplers
    (mode/min/max/med/q1/q3/rms) skip invalid samples per the
    reference's GWKAverageOrMode validity test (gdalwarpkernel.cpp:
    6864+): the statistic runs over valid window samples only.

    excluded_values / excluded_values_pct_threshold /
    nodata_values_pct_threshold: the EXCLUDED_VALUES family of warp
    options (gdalwarper.cpp:1243-1267; average only) — see
    warp_average_excluded. When active, bands are processed jointly
    (per-sample all-band tuples), and for the joint path a sample is
    invalid when ANY band matches src_nodata (the reference's
    bAllValid loop, gdalwarpkernel.cpp:7829-7848).
    """
    tms = tms or WebMercatorQuad()
    spark = src_tiles.sparkSession
    ts = tms.tile_size
    sts = src_spec.tile_size
    nbands = src_spec.nbands
    alpha_band = nbands + 1
    kernel = WARP_KERNELS.get(resampling)
    area_kernel = AREA_KERNELS.get(resampling)
    if kernel is None and area_kernel is None:
        raise ValueError(f"unknown resampling {resampling}")
    window_stat = resampling in _WINDOW_STATS
    excluded = parse_excluded_values(excluded_values, nbands)
    if excluded is not None and resampling != "average":
        # "Only taken into account by Average currently" (gdalwarper.cpp:1252)
        raise ValueError("EXCLUDED_VALUES is only supported with resampling='average'")
    excl_pct = float(excluded_values_pct_threshold) / 100.0
    nodata_pct = float(nodata_values_pct_threshold) / 100.0
    joint_average = resampling == "average" and (
        excluded is not None or nodata_pct < 1.0 - 1e-10
    )
    if cutline is not None:
        from gdal_spark.operators.cutline import parse_cutline

        cutline = parse_cutline(cutline)

    # source extent -> base-zoom dst tile range (driver-side planning,
    # the GDALSuggestedWarpOutput role: walk the source edges at the
    # reference sampling density so curved transforms that bulge
    # beyond the corner bbox still land in the tile range)
    n_steps = min(max(int(min(src_spec.width, src_spec.height) / 50.0 + 0.5), 20), 100)
    cx, cy = _edge_samples(float(src_spec.width), float(src_spec.height), n_steps)
    wxc, wyc = src_spec.pixel_to_world(cx, cy)
    dxc, dyc = src_pipeline.forward(wxc, wyc)
    fin = np.isfinite(dxc) & np.isfinite(dyc)
    extent = (dxc[fin].min(), dyc[fin].min(), dxc[fin].max(), dyc[fin].max())
    mintx, minty, maxtx, maxty = tms.tile_indices(extent, max_zoom)

    dst_keys = (
        spark.range(mintx, maxtx + 1)
        .select(F.col("id").cast("int").alias("tx"))
        .crossJoin(spark.range(minty, maxty + 1).select(F.col("id").cast("int").alias("ty")))
        .withColumn("z", F.lit(max_zoom).cast("int"))
    )
    if done_keys is not None:
        dst_keys = dst_keys.join(done_keys, ["z", "tx", "ty"], "left_anti")

    # -- source-window explode (ComputeSourceWindow analog) --
    pair_schema = StructType(
        [
            StructField("z", IntegerType()),
            StructField("tx", IntegerType()),
            StructField("ty", IntegerType()),
            StructField("sty", IntegerType()),
            StructField("stx", IntegerType()),
        ]
    )

    def _src_windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # 21 samples along each tile edge (gdaltransformer.cpp:342
        # SuggestedWarpOutput sampling density)
        edge = np.linspace(0, ts, 21)
        ex = np.concatenate([edge, edge, np.zeros(21), np.full(21, ts)])  # (84,)
        ey = np.concatenate([np.zeros(21), np.full(21, ts), edge, edge])
        pad = 2  # kernel support + rounding guard
        for pdf in batches:
            if not len(pdf):
                continue
            # one batched inverse transform for ALL dst tiles: (N, 84)
            # edge samples flattened (the round-1 per-tile iterrows loop
            # called the projection N times)
            z = pdf["z"].to_numpy(np.int64)
            txs = pdf["tx"].to_numpy(np.int64)
            tys = pdf["ty"].to_numpy(np.int64)
            res = np.array([tms.resolution(int(v)) for v in z])
            tlx, tly = tms.top_left
            ox = tlx + txs * ts * res
            oy = tly - tys * ts * res
            X = (ox[:, None] + ex[None, :] * res[:, None]).ravel()
            Y = (oy[:, None] - ey[None, :] * res[:, None]).ravel()
            wx, wy = src_pipeline.inverse(X, Y)
            sx, sy = src_spec.world_to_pixel(wx, wy)
            sx = sx.reshape(len(pdf), -1)
            sy = sy.reshape(len(pdf), -1)
            tx0 = np.maximum(np.floor((sx.min(axis=1) - pad) / sts), 0).astype(np.int64)
            tx1 = np.minimum(
                np.floor((sx.max(axis=1) + pad) / sts), src_spec.ntiles_x - 1
            ).astype(np.int64)
            ty0 = np.maximum(np.floor((sy.min(axis=1) - pad) / sts), 0).astype(np.int64)
            ty1 = np.minimum(
                np.floor((sy.max(axis=1) + pad) / sts), src_spec.ntiles_y - 1
            ).astype(np.int64)
            ok = (tx1 >= tx0) & (ty1 >= ty0)
            rows = {"z": [], "tx": [], "ty": [], "sty": [], "stx": []}
            for k in np.flatnonzero(ok):
                for styy in range(ty0[k], ty1[k] + 1):
                    for stxx in range(tx0[k], tx1[k] + 1):
                        rows["z"].append(int(z[k]))
                        rows["tx"].append(int(txs[k]))
                        rows["ty"].append(int(tys[k]))
                        rows["sty"].append(styy)
                        rows["stx"].append(stxx)
            yield pd.DataFrame(rows)

    pairs = dst_keys.mapInPandas(_src_windows, pair_schema)
    src = src_tiles.select(
        F.col("band").alias("sband"),
        F.col("ty").alias("sty"),
        F.col("tx").alias("stx"),
        F.col("h").alias("sh"),
        F.col("w").alias("sw"),
        F.col("dtype").alias("sdtype"),
        F.col("payload").alias("spayload"),
    )
    joined = pairs.join(src, ["sty", "stx"], "inner")

    def _warp(key, pdf):
        z, txx, tyy = int(key[0]), int(key[1]), int(key[2])
        if approx_error > 0.0:
            sx, sy = approx_scanline_coords(tms, z, txx, tyy, src_pipeline, src_spec, approx_error)
        else:
            sx, sy = _dst_pixel_src_coords(tms, z, txx, tyy, src_pipeline, src_spec)
        # assemble the needed source window from the joined src tiles
        ty0 = int(pdf["sty"].min())
        tx0 = int(pdf["stx"].min())
        wy0, wx0 = ty0 * sts, tx0 * sts
        # crop to the true raster extent: a window padded past the
        # right/bottom raster edge would let point kernels sample the
        # zero padding with full weight instead of triggering border
        # degradation (GWKBilinearResample4Sample treats beyond-edge
        # samples as absent, renormalizing the rest)
        wh = min(
            int((pdf["sty"].max() - ty0) * sts + pdf["sh"].max()),
            src_spec.height - wy0,
        )
        ww = min(
            int((pdf["stx"].max() - tx0) * sts + pdf["sw"].max()),
            src_spec.width - wx0,
        )
        # cutline density over the source window (pafUnifiedSrcDensity
        # role — gdalcutline.cpp masker); shared across bands. Samples
        # at density <= SRC_DENSITY_THRESHOLD are skipped per-sample
        # by every kernel below (GWKResample / Bilinear4Sample /
        # GWKGetPixelValue), with the retained weights renormalized —
        # the reference's density handling, not a value multiply.
        cl = None
        keep_cl = None
        if cutline is not None:
            from gdal_spark.operators.cutline import cutline_validity

            cl = cutline_validity(
                cutline, wx0, wy0, wh, ww, cutline_blend_dist, cutline_all_touched
            ).astype(np.float64)
            keep_cl = cl > 1e-9  # SRC_DENSITY_THRESHOLD_DOUBLE (gdalwarpkernel.cpp:80)
        out_rows = []
        alpha = None
        dst_dens = None  # renormalized dst density (alpha source), point kernels

        # the source tiles' columns under the codec's names (the dst
        # key moves aside), so a TileError names the source tile
        src_names = {"sband": "band", "sty": "ty", "stx": "tx", "sh": "h", "sw": "w",
                     "sdtype": "dtype", "spayload": "payload"}
        tile_cols = [src_names.get(c, "dst_" + c) for c in pdf.columns]

        def _assemble_band(band):
            sel = pdf[pdf["sband"] == band]
            sel.columns = tile_cols
            oy, ox = sel["ty"].to_numpy() * sts - wy0, sel["tx"].to_numpy() * sts - wx0
            return tilecodec.paste(np.zeros((wh, ww)), sel, oy, ox)

        if joint_average:
            # EXCLUDED_VALUES / NODATA_VALUES_PCT_THRESHOLD: all bands
            # processed jointly (gdalwarpkernel.cpp:7787 special path)
            band_wins = [_assemble_band(b) for b in range(1, nbands + 1)]
            vmask = None
            if src_nodata is not None:
                vmask = np.ones((wh, ww), dtype=bool)
                for bw in band_wins:
                    vmask &= bw != src_nodata
            if keep_cl is not None:
                # cutline folds into validity for area resamplers
                # (GWKGetPixelValue density test; dst density 1.0)
                vmask = keep_cl if vmask is None else (vmask & keep_cl)
            jsxa, jsya = _dst_pixel_src_coords(tms, z, txx, tyy, src_pipeline, src_spec, offset=0.0)
            jsxb, jsyb = _dst_pixel_src_coords(tms, z, txx, tyy, src_pipeline, src_spec, offset=1.0)
            rb = (-wx0, -wy0, src_spec.width - wx0, src_spec.height - wy0)
            outs, dvalid = warp_average_excluded(
                band_wins, vmask, excluded or [],
                jsxa - wx0, jsya - wy0, jsxb - wx0, jsyb - wy0,
                bounds=rb, excl_pct=excl_pct, nodata_pct=nodata_pct,
            )
            for band in range(1, nbands + 1):
                vals = outs[band - 1]
                payload = copy_word(np.where(dvalid, vals, dst_nodata), src_spec.dtype)
                out_rows.append(tilecodec.web_row(z, txx, tyy, band, payload))
            alpha = dvalid
        for band in [] if joint_average else range(1, nbands + 1):
            win = _assemble_band(band)
            # window-local src pixel coords; pixels mapping into the full
            # src raster but outside this window cannot occur by
            # construction (window covers the tile's source footprint)
            nmask = None
            if src_nodata is not None:
                nmask = win != src_nodata
            # per-sample retention mask: nodata AND cutline density
            # threshold (panUnifiedSrcValid + pafUnifiedSrcDensity skip)
            keep = nmask
            if keep_cl is not None:
                keep = keep_cl if keep is None else (keep & keep_cl)
            if area_kernel is not None:
                sxa, sya = _dst_pixel_src_coords(tms, z, txx, tyy, src_pipeline, src_spec, offset=0.0)
                sxb, syb = _dst_pixel_src_coords(tms, z, txx, tyy, src_pipeline, src_spec, offset=1.0)
                rb = (-wx0, -wy0, src_spec.width - wx0, src_spec.height - wy0)
                if window_stat and keep is not None:
                    # per-sample validity skip (GWKAverageOrMode)
                    vals, gvalid = area_kernel(
                        win, sxa - wx0, sya - wy0, sxb - wx0, syb - wy0,
                        bounds=rb, vmask=keep,
                    )
                else:
                    winm = win if keep is None else win * keep
                    vals, valid = area_kernel(winm, sxa - wx0, sya - wy0, sxb - wx0, syb - wy0, bounds=rb)
                    gvalid = valid
                    if keep is not None:
                        mdens, _ = warp_average(
                            keep.astype(np.float64),
                            sxa - wx0, sya - wy0, sxb - wx0, syb - wy0, bounds=rb,
                        )
                        if resampling == "average":
                            with np.errstate(invalid="ignore", divide="ignore"):
                                vals = np.where(mdens > 0.0, vals / np.maximum(mdens, 1e-300), 0.0)
                        gvalid = gvalid & (mdens > 0.0)
            else:
                winm = win if keep is None else win * keep
                vals, valid = kernel(winm, sx - wx0, sy - wy0)
                # clip validity to the true raster bounds (window may pad)
                gvalid = valid & (sx >= 0) & (sy >= 0) & (sx + 1e-10 <= src_spec.width) & (sy + 1e-10 <= src_spec.height)
                if keep is not None:
                    # retained-weight renormalization: kernel(v*keep) /
                    # kernel(keep) == GWKResample's skip-and-renormalize
                    # (sum w*v over retained / sum w over retained)
                    mval, _ = kernel(keep.astype(np.float64), sx - wx0, sy - wy0)
                    with np.errstate(invalid="ignore", divide="ignore"):
                        vals = np.where(np.abs(mval) > 1e-10, vals / np.where(mval == 0.0, 1.0, mval), 0.0)
                    gvalid = gvalid & (np.abs(mval) > 1e-10)
                if cl is not None:
                    # renormalized dst density (GWKResample:
                    # dfAccumulatorDensity / dfAccumulatorWeight over the
                    # SAME retained samples); a dst pixel below the
                    # 0.0001 density floor is not set
                    # (GWKSetPixelValue, gdalwarpkernel.cpp:1804-1806)
                    dnum, _ = kernel(np.where(keep, cl, 0.0), sx - wx0, sy - wy0)
                    with np.errstate(invalid="ignore", divide="ignore"):
                        dd = np.where(np.abs(mval) > 1e-10, dnum / np.where(mval == 0.0, 1.0, mval), 0.0)
                    gvalid = gvalid & (dd >= 0.0001)
                    dd = np.where(gvalid, dd, 0.0)
                    dst_dens = dd if dst_dens is None else np.maximum(dst_dens, dd)
            payload = copy_word(np.where(gvalid, vals, dst_nodata), src_spec.dtype)
            out_rows.append(tilecodec.web_row(z, txx, tyy, band, payload))
            alpha = gvalid if alpha is None else (alpha | gvalid)
        if dst_dens is not None:
            # cutline + point kernel: alpha carries the renormalized
            # density ramp (values stay unpremultiplied)
            alpha_payload = np.where(alpha, np.floor(255.0 * dst_dens + 0.5), 0).astype(np.uint8)
        else:
            # no cutline, or area resamplers (dfBandDensity = 1.0)
            alpha_payload = alpha.astype(np.uint8) * 255
        out_rows.append(tilecodec.web_row(z, txx, tyy, alpha_band, alpha_payload))
        return pd.DataFrame(out_rows)

    base = joined.groupBy("z", "tx", "ty").applyInPandas(_warp, TILE_OUT_SCHEMA)
    if min_zoom >= max_zoom:
        return base

    # -- overview pyramid: z-1 from 4 children of z --
    levels = [base]
    current = base
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        current = overview_level(current, overview_resampling, tile_size=ts)
        levels.append(current)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def _overview_mode_2x2(t: np.ndarray) -> np.ndarray:
    """GDALResampleChunk_Mode for the 2x downsample case
    (gcore/overview.cpp:2283+): the winner is the first value to REACH
    the maximum count in row-major scan order (strict-> updates only)
    — pair priority (a==b), (a==c), (b==c), (a==d), (b==d), (c==d),
    else a, for the block [[a, b], [c, d]]."""
    a = t[0::2, 0::2]
    b = t[0::2, 1::2]
    c = t[1::2, 0::2]
    d = t[1::2, 1::2]
    return np.select(
        [a == b, a == c, b == c, a == d, b == d, c == d],
        [a, a, b, a, b, c],
        default=a,
    ).astype(t.dtype)


def _overview_rms_2x2(t: np.ndarray) -> np.ndarray:
    """RMS 2x downsample: ComputeIntegerRMS_4values for Byte
    (overview.cpp:315-331: (ss+1)/4, float32 sqrt, rms*(rms+1) < s1
    correction) and UInt16 (:334-349: ss*0.25 double, +0.25 in the
    correction); floats take the plain sqrt(mean of squares)."""
    x = t.astype(np.float64) if not np.issubdtype(t.dtype, np.integer) else t.astype(np.int64)
    ss = (
        x[0::2, 0::2] * x[0::2, 0::2]
        + x[0::2, 1::2] * x[0::2, 1::2]
        + x[1::2, 0::2] * x[1::2, 0::2]
        + x[1::2, 1::2] * x[1::2, 1::2]
    )
    if t.dtype == np.uint8:
        s1 = (ss + 1) // 4
        r = np.sqrt(s1.astype(np.float32)).astype(np.int64)
        r = r + (r * (r + 1) < s1)
        return r.astype(np.uint8)
    if t.dtype == np.uint16:
        sdw = ss.astype(np.float64) * 0.25
        r = np.sqrt(sdw).astype(np.int64)
        r = r + (r * (r + 1) < (sdw + 0.25).astype(np.int64))
        return r.astype(np.uint16)
    if np.issubdtype(t.dtype, np.integer):
        sdw = ss.astype(np.float64) / 4.0
        r = np.sqrt(sdw).astype(np.int64)
        r = r + ((2 * r * (r + 1) + 1).astype(np.float64) < 2 * sdw)
        return r.astype(t.dtype)
    return np.sqrt(ss / 4.0).astype(t.dtype)


def overview_level(tiles: DataFrame, resampling: str = "average", tile_size: int = 256) -> DataFrame:
    """One pyramid level up: parent (z-1, tx//2, ty//2) from <=4
    children, each child 2x-downsampled into its quadrant.
    NEAREST / AVERAGE: raster.downsample2x (integer (sum+2)/4, floats
    sum/4); the alpha band averages too (GDAL averages alpha like
    data).
    MODE / RMS: see _overview_mode_2x2 / _overview_rms_2x2 (gdaladdo
    -r mode / rms). GAUSS (1-px cross-parent halo) lives in
    overview_gauss below."""
    child = tiles.select(
        (F.col("z") - 1).alias("z"),
        (F.col("tx") / 2).cast("int").alias("tx"),
        (F.col("ty") / 2).cast("int").alias("ty"),
        (F.col("tx") % 2).cast("int").alias("qx"),
        (F.col("ty") % 2).cast("int").alias("qy"),
        "band",
        "dtype",
        "payload",
    )
    half = tile_size // 2

    def _merge(key, pdf):
        z, txx, tyy, band = (int(key[0]), int(key[1]), int(key[2]), int(key[3]))
        out = np.zeros((tile_size, tile_size), dtype=pdf["dtype"].iloc[0])
        for t, qy, qx in zip(tilecodec.decode_batch(pdf, tile_size), pdf["qy"].tolist(), pdf["qx"].tolist()):
            if resampling == "mode":
                small = _overview_mode_2x2(t)
            elif resampling == "rms":
                small = _overview_rms_2x2(t)
            else:
                small = downsample2x(t, resampling == "near")
            out[qy * half : qy * half + half, qx * half : qx * half + half] = small
        return pd.DataFrame([tilecodec.web_row(z, txx, tyy, band, out)])

    return child.groupBy("z", "tx", "ty", "band").applyInPandas(_merge, TILE_OUT_SCHEMA)


def overview_gauss(tiles: DataFrame, tile_size: int = 256) -> DataFrame:
    """gdaladdo -r gauss, 2x case (gcore/overview.cpp
    GDALResampleChunk_Gauss): dst(i,j) = weighted mean of the 3x3
    source window rows/cols [2i, 2i+3) under the separable kernel
    [1,2,1]x[1,2,1], clipped at the raster's bottom/right edge with
    the weight sum renormalizing (:nSrcYOff2 clamp + nCount); the
    working buffer is Float64 and the band write converts via
    GDALCopyWord (copy_word).

    The window leaks 1 px past each parent's 2*tile_size source block,
    so every child on a parent's TOP/LEFT rim also ships its top row /
    left column / corner pixel to the parent above / left / diagonal —
    a perimeter-only halo exchange inside the same groupBy (no second
    shuffle). A parent with no halo row on a side treats that side as
    the raster edge (exactly the reference's chunk clamp); sparse
    pyramids therefore clip at missing neighbors, documented."""
    ts = tile_size

    def _halo_rows(r):
        """rows: (z-1, ptx, pty, band, dtype, role, qx, qy, payload)."""
        t = tilecodec.decode_row(r, ts)
        z, tx, ty, band = int(r.z) - 1, int(r.tx), int(r.ty), int(r.band)
        out = [
            {"z": z, "tx": tx // 2, "ty": ty // 2, "band": band, "dtype": r.dtype,
             "role": 0, "qx": tx % 2, "qy": ty % 2, "payload": r.payload}
        ]
        if ty % 2 == 0 and ty > 0:
            out.append({"z": z, "tx": tx // 2, "ty": ty // 2 - 1, "band": band,
                        "dtype": r.dtype, "role": 1, "qx": tx % 2, "qy": 0,
                        "payload": tilecodec.encode(t[0, :])})
        if tx % 2 == 0 and tx > 0:
            out.append({"z": z, "tx": tx // 2 - 1, "ty": ty // 2, "band": band,
                        "dtype": r.dtype, "role": 2, "qx": 0, "qy": ty % 2,
                        "payload": tilecodec.encode(t[:, 0])})
        if ty % 2 == 0 and ty > 0 and tx % 2 == 0 and tx > 0:
            out.append({"z": z, "tx": tx // 2 - 1, "ty": ty // 2 - 1, "band": band,
                        "dtype": r.dtype, "role": 3, "qx": 0, "qy": 0,
                        "payload": tilecodec.encode(t[0:1, 0])})
        return out

    def _explode(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                rows.extend(_halo_rows(r))
            yield pd.DataFrame(
                rows,
                columns=["z", "tx", "ty", "band", "dtype", "role", "qx", "qy", "payload"],
            )

    child = tiles.mapInPandas(
        _explode,
        "z int, tx int, ty int, band int, dtype string, role int, qx int, qy int, payload binary",
    )

    def _merge(key, pdf):
        z, txx, tyy, band = (int(key[0]), int(key[1]), int(key[2]), int(key[3]))
        dt = pdf["dtype"].iloc[0]
        has_b = (pdf["role"] == 1).any()
        has_r = (pdf["role"] == 2).any()
        ar = 2 * ts + (1 if has_b else 0)
        ac = 2 * ts + (1 if has_r else 0)
        block = np.zeros((ar, ac), dtype=np.float64)
        for role, qy, qx, d, p in zip(pdf["role"].tolist(), pdf["qy"].tolist(), pdf["qx"].tolist(),
                                      pdf["dtype"], pdf["payload"]):
            key = (z, txx, tyy, band)
            if role == 0:
                block[qy * ts : qy * ts + ts, qx * ts : qx * ts + ts] = tilecodec.decode(p, d, (ts, ts), key)
            elif role == 1:
                block[2 * ts, qx * ts : qx * ts + ts] = tilecodec.decode(p, d, (ts,), key)
            elif role == 2:
                block[qy * ts : qy * ts + ts, 2 * ts] = tilecodec.decode(p, d, (ts,), key)
            elif role == 3 and has_b and has_r:
                block[2 * ts, 2 * ts] = tilecodec.decode(p, d, (1,), key)[0]
        # separable 1-2-1: rows then cols, with bottom/right clipping
        rs = np.zeros((ar, ts), dtype=np.float64)
        cx = np.full(ts, 4.0)
        for j in range(ts):
            rs[:, j] = block[:, 2 * j] + 2.0 * block[:, 2 * j + 1]
            if 2 * j + 2 < ac:
                rs[:, j] += block[:, 2 * j + 2]
            else:
                cx[j] = 3.0
        out = np.zeros((ts, ts), dtype=np.float64)
        cy = np.full(ts, 4.0)
        for i in range(ts):
            out[i] = rs[2 * i] + 2.0 * rs[2 * i + 1]
            if 2 * i + 2 < ar:
                out[i] += rs[2 * i + 2]
            else:
                cy[i] = 3.0
        from gdal_spark.operators.raster import copy_word

        res = copy_word(out / (cy[:, None] * cx[None, :]), dt)
        return pd.DataFrame([tilecodec.web_row(z, txx, tyy, band, res)])

    return child.groupBy("z", "tx", "ty", "band").applyInPandas(_merge, TILE_OUT_SCHEMA)
