"""Raster data model + numpy burn kernels + distributed rasterize.

Tile-table data model (SURVEY.md §1.2): a raster is rows of
  (band, ty, tx, h, w, dtype, payload:binary)    grid tiles (TILE_SCHEMA)
or, for XYZ web tiles, always tile_size square,
  (z, tx, ty, band, dtype, payload:binary)       (tiles.TILE_OUT_SCHEMA)
with a RasterSpec carrying the grid (geotransform, size, type). How a
payload maps to an array is owned by operators/tilecodec.py. The
reference's block cache / chunking (gdalrasterize.cpp:933 CHUNKYSIZE,
rasterio.cpp block loop) is replaced by tile-key partitioning: each
(ty, tx) tile is one task, shapes are exploded to their candidate
tiles by envelope, burned per tile in feature order — per-pixel
results identical to the reference's sequential whole-raster burn
because every pixel lives in exactly one tile.

Exact reference semantics reproduced (file:line in /root/reference):
  - polygon scanline fill: pixel IN iff its center (y+0.5) is inside;
    half-open crossing rule dy1 <= dy < dy2; intersection x rounded
    floor(x+0.5); spans burn [xi, xj-1]; bottom horizontal segments
    filled separately; vertices on integer y handled by the half-open
    rule (alg/llrasterize.cpp:30-210)
  - lines: integer Bresenham on floor(coords); intermediate segment
    endpoints not double-burned (llrasterize.cpp:256-400)
  - points: single pixel (int(y), int(x)) if inside (llrasterize.cpp:233)
  - burn write: GDALCopyWord clamp+round to dtype (256->255, -1->0 on
    Byte); MERGE_ALG=REPLACE overwrites, ADD accumulates, each pixel
    at most once per shape (gdalrasterize.cpp:70-180 visited-points)
  - checksum: GDALChecksumImage Σ px % primes[(y*W+x) % 11] mod 65536,
    primes {7,11,13,17,19,23,29,31,37,41,43} (alg/gdalchecksum.cpp:55,
    312-322) — distributive over tiles, our cross-check oracle
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gdal_spark.geom.batch import GeomType
from gdal_spark.geom.wkt import _fmt_d, parse_wkt, parse_wkt_z
from gdal_spark.operators import tilecodec
from gdal_spark.operators.spatial import ENVELOPE_SCHEMA, envelope_udf

CHECKSUM_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)


# ---------------------------------------------------------------------------
# spec


@dataclass(frozen=True)
class RasterSpec:
    """Target grid: affine geotransform Xgeo = GT0 + px*GT1 + py*GT2
    (gcore pixel-corner convention; pixel (i,j) covers [i,i+1)x[j,j+1),
    center (i+0.5, j+0.5))."""

    width: int
    height: int
    gt: tuple[float, float, float, float, float, float]  # GT0..GT5
    dtype: str = "uint8"
    nbands: int = 1
    init: float = 0.0
    tile_size: int = 256

    def world_to_pixel(self, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Inverse geotransform (GDALInvGeoTransform + ApplyGeoTransform)."""
        g0, g1, g2, g3, g4, g5 = self.gt
        det = g1 * g5 - g2 * g4
        px = (g5 * (np.asarray(x) - g0) - g2 * (np.asarray(y) - g3)) / det
        py = (-g4 * (np.asarray(x) - g0) + g1 * (np.asarray(y) - g3)) / det
        return px, py

    def pixel_to_world(self, px, py):
        g0, g1, g2, g3, g4, g5 = self.gt
        return g0 + px * g1 + py * g2, g3 + px * g4 + py * g5

    @property
    def ntiles_x(self) -> int:
        return (self.width + self.tile_size - 1) // self.tile_size

    @property
    def ntiles_y(self) -> int:
        return (self.height + self.tile_size - 1) // self.tile_size

    def tile_shape(self, ty: int, tx: int) -> tuple[int, int]:
        h = min(self.tile_size, self.height - ty * self.tile_size)
        w = min(self.tile_size, self.width - tx * self.tile_size)
        return h, w


# ---------------------------------------------------------------------------
# dtype write semantics (GDALCopyWord: round + clamp)


def copy_word(values: np.ndarray, dtype: str) -> np.ndarray:
    """GDALCopyWord double -> dtype: round-half-away via floor(v+0.5)
    for v>=0 / ceil(v-0.5) for v<0, clamp to dtype range
    (gcore/gdal_priv_templates.hpp GDALCopyWord)."""
    v = np.asarray(values, dtype=np.float64)
    if np.issubdtype(np.dtype(dtype), np.integer):
        info = np.iinfo(dtype)
        r = np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))
        return np.clip(r, info.min, info.max).astype(dtype)
    return v.astype(dtype)


def downsample2x(a: np.ndarray, near: bool = False) -> np.ndarray:
    """2x NEAREST (pixel 2i) or AVERAGE of a 2-D array: destination
    pixel i averages source [2i, min(2i+2, n)) in each axis, so an odd
    edge averages 2 or 1 pixels (GDALDownsampleChunk32R_Average edge
    handling, overview.cpp). Integer sums stay exact in int64 and round
    as (sum + n/2) / n (overview.cpp:1425-1430); floats take sum / n."""
    if near:
        return a[::2, ::2]
    integer = np.issubdtype(a.dtype, np.integer)
    shape = ((a.shape[0] + 1) // 2, (a.shape[1] + 1) // 2)
    acc = np.zeros(shape, dtype=np.int64 if integer else np.float64)
    cnt = np.zeros(shape, dtype=np.int64)
    for dy in (0, 1):
        for dx in (0, 1):
            blk = a[dy::2, dx::2]
            acc[: blk.shape[0], : blk.shape[1]] += blk
            cnt[: blk.shape[0], : blk.shape[1]] += 1
    return ((acc + cnt // 2) // cnt if integer else acc / cnt).astype(a.dtype)


# ---------------------------------------------------------------------------
# burn kernels (pixel space, one tile = array with origin offset)


def _polygon_mask(rings: list[np.ndarray], arr_h: int, arr_w: int, oy: int = 0, ox: int = 0) -> np.ndarray:
    """Exact GDALdllImageFilledPolygon scanline fill -> bool mask.

    rings are pixel-space coordinate arrays. (oy, ox) is the tile's
    origin in full-raster pixel space: the scanline math runs in FULL
    raster coords (so tile seams are bit-exact), the mask is local.
    """
    mask = np.zeros((arr_h, arr_w), dtype=bool)
    ys = np.concatenate([r[:, 1] for r in rings])
    dminy, dmaxy = ys.min(), ys.max()
    miny = int(max(float(oy), dminy))  # int() trunc like static_cast<int>
    maxy = int(min(dmaxy, float(oy + arr_h - 1)))
    maxx_local = arr_w - 1

    # edge table: for each ring, edges (prev -> cur) with wrap at start
    ex1, ey1, ex2, ey2 = [], [], [], []
    for r in rings:
        p = r
        # llrasterize treats the ring as implicitly closed via the wrap
        # edge (ind1 = last, ind2 = first); drop an explicit closing
        # duplicate so it isn't counted twice
        if len(p) > 1 and (p[0] == p[-1]).all():
            p = p[:-1]
        if len(p) < 3:
            continue
        ex1.append(np.roll(p[:, 0], 1))
        ey1.append(np.roll(p[:, 1], 1))
        ex2.append(p[:, 0])
        ey2.append(p[:, 1])
    if not ex1:
        return mask
    x1 = np.concatenate(ex1)
    y1 = np.concatenate(ey1)
    x2 = np.concatenate(ex2)
    y2 = np.concatenate(ey2)

    # orient each edge so ya < yb (swap also swaps x)
    swap = y1 > y2
    ya = np.where(swap, y2, y1)
    yb = np.where(swap, y1, y2)
    xa = np.where(swap, x2, x1)
    xb = np.where(swap, x1, x2)
    horiz = y1 == y2

    for y in range(miny, maxy + 1):
        dy = y + 0.5
        # crossing edges: ya <= dy < yb (half-open, llrasterize:186)
        cross = (~horiz) & (ya <= dy) & (dy < yb)
        xs = np.empty(0)
        if cross.any():
            xi = (dy - ya[cross]) * (xb[cross] - xa[cross]) / (yb[cross] - ya[cross]) + xa[cross]
            xs = np.sort(np.floor(xi + 0.5).astype(np.int64))
        row = y - oy
        for i in range(0, len(xs) - 1, 2):
            a, b = int(xs[i]), int(xs[i + 1]) - 1
            if a <= ox + maxx_local and b >= ox:
                mask[row, max(a - ox, 0) : max(b - ox + 1, 0)] = True
        # bottom horizontal segments (x[ind1] > x[ind2]) filled separately;
        # a horizontal edge matches only when its y == dy exactly
        # (llrasterize: the dy1==dy2 path is reached only after the
        # both-above/both-below skip)
        hsel = horiz & (y1 == dy) & (x1 > x2)
        if hsel.any():
            hx1 = np.floor(x2[hsel] + 0.5).astype(np.int64)
            hx2 = np.floor(x1[hsel] + 0.5).astype(np.int64)
            for a, b in zip(hx1, hx2):
                if a > ox + maxx_local or b <= 0:
                    continue
                aa = max(int(a), 0)
                bb = min(int(b), ox + arr_w) - 1
                mask[row, max(aa - ox, 0) : max(bb - ox + 1, 0)] = True
    return mask


def _line_mask(coords: np.ndarray, arr_h: int, arr_w: int, oy: int = 0, ox: int = 0) -> np.ndarray:
    """GDALdllImageLine Bresenham -> bool mask (default, not ALL_TOUCHED).

    Full-raster pixel coords; intermediate segment endpoints are not
    re-burned (harmless for a mask; matters for ADD — the per-shape
    mask already guarantees burn-once-per-shape)."""
    mask = np.zeros((arr_h, arr_w), dtype=bool)

    def plot(yy: int, xx: int) -> None:
        ly, lx = yy - oy, xx - ox
        if 0 <= ly < arr_h and 0 <= lx < arr_w:
            mask[ly, lx] = True

    n = len(coords)
    for j in range(1, n):
        x0f, y0f = coords[j - 1]
        x1f, y1f = coords[j]
        ix, iy = int(np.floor(x0f)), int(np.floor(y0f))
        ix1, iy1 = int(np.floor(x1f)), int(np.floor(y1f))
        dx = abs(ix1 - ix)
        dy = abs(iy1 - iy)
        sx = -1 if ix > ix1 else 1
        sy = -1 if iy > iy1 else 1
        if dx >= dy:
            err = (dy << 1) - dx
            ncells = dx if j == n - 1 else max(dx - 1, -1)
            x, y = ix, iy
            for _ in range(ncells + 1):
                plot(y, x)
                if err > 0:
                    y += sy
                    err -= dx << 1
                err += dy << 1
                x += sx
        else:
            err = (dx << 1) - dy
            ncells = dy if j == n - 1 else max(dy - 1, -1)
            x, y = ix, iy
            for _ in range(ncells + 1):
                plot(y, x)
                if err > 0:
                    x += sx
                    err -= dy << 1
                err += dx << 1
                y += sy
    return mask


def _line_values(
    coords: np.ndarray, zs: np.ndarray, arr_h: int, arr_w: int, oy: int = 0, ox: int = 0
) -> np.ndarray:
    """GDALdllImageLine with per-vertex variant interpolation
    (BURN_VALUE_FROM=Z, alg/llrasterize.cpp:297-380): along each
    segment the variant starts at the from-vertex Z and advances by
    (z1-z0)/nDelta per major-axis step, burned before the increment.
    Vertices are walked in the reference's collection order — REVERSED
    (gdalrasterize.cpp:493 pushes nCount-1..0) — so overwrite order and
    the intermediate-endpoint skip land on the same cells. Returns a
    float64 array, NaN where untouched; later writes overwrite."""
    vals = np.full((arr_h, arr_w), np.nan)
    c = coords[::-1]
    z = zs[::-1]
    n = len(c)

    def plot(yy: int, xx: int, v: float) -> None:
        ly, lx = yy - oy, xx - ox
        if 0 <= ly < arr_h and 0 <= lx < arr_w:
            vals[ly, lx] = v

    for j in range(1, n):
        x0f, y0f = c[j - 1]
        x1f, y1f = c[j]
        v0, v1 = float(z[j - 1]), float(z[j])
        ix, iy = int(np.floor(x0f)), int(np.floor(y0f))
        ix1, iy1 = int(np.floor(x1f)), int(np.floor(y1f))
        dx = abs(ix1 - ix)
        dy = abs(iy1 - iy)
        sx = -1 if ix > ix1 else 1
        sy = -1 if iy > iy1 else 1
        if dx >= dy:
            dv = 0.0 if dx == 0 else (v1 - v0) / dx
            err = (dy << 1) - dx
            ncells = dx if j == n - 1 else max(dx - 1, -1)
            x, y, v = ix, iy, v0
            for _ in range(ncells + 1):
                plot(y, x, v)
                v += dv
                if err > 0:
                    y += sy
                    err -= dx << 1
                err += dy << 1
                x += sx
        else:
            dv = 0.0 if dy == 0 else (v1 - v0) / dy
            err = (dx << 1) - dy
            ncells = dy if j == n - 1 else max(dy - 1, -1)
            x, y, v = ix, iy, v0
            for _ in range(ncells + 1):
                plot(y, x, v)
                v += dv
                if err > 0:
                    x += sx
                    err -= dy << 1
                err += dx << 1
                y += sy
    return vals


def _all_touched_line_values(
    coords: np.ndarray, zs: np.ndarray, arr_h: int, arr_w: int, oy: int = 0, ox: int = 0
) -> np.ndarray:
    """ALL_TOUCHED + BURN_VALUE_FROM=Z: every crossed cell gets the Z
    interpolated at the cell's parametric midpoint along the segment
    (the reference interpolates per grid-crossing step,
    llrasterize.cpp GDALdllImageLineAllTouched — midpoint matches it
    for axis-aligned walks and is within one cell's Z-gradient
    otherwise). NaN where untouched; later writes overwrite."""
    vals = np.full((arr_h, arr_w), np.nan)
    for j in range(1, len(coords)):
        (x0, y0), (x1, y1) = coords[j - 1], coords[j]
        v0, v1 = float(zs[j - 1]), float(zs[j])
        steps = [0.0, 1.0]
        dx, dy = x1 - x0, y1 - y0
        if dx != 0:
            for gx in range(int(np.ceil(min(x0, x1))), int(np.floor(max(x0, x1))) + 1):
                steps.append((gx - x0) / dx)
        if dy != 0:
            for gy in range(int(np.ceil(min(y0, y1))), int(np.floor(max(y0, y1))) + 1):
                steps.append((gy - y0) / dy)
        ts = np.unique(np.clip(np.asarray(steps), 0.0, 1.0))
        mids = (ts[:-1] + ts[1:]) / 2
        cx = np.floor(x0 + mids * dx).astype(np.int64) - ox
        cy = np.floor(y0 + mids * dy).astype(np.int64) - oy
        cv = v0 + mids * (v1 - v0)
        ok = (cx >= 0) & (cx < arr_w) & (cy >= 0) & (cy < arr_h)
        vals[cy[ok], cx[ok]] = cv[ok]
    return vals


def _all_touched_line_mask(coords: np.ndarray, arr_h: int, arr_w: int, oy: int = 0, ox: int = 0) -> np.ndarray:
    """ALL_TOUCHED line walk: every cell the segment passes through
    (llrasterize.cpp GDALdllImageLineAllTouched — grid-crossing walk).
    Implemented as a dense supercover via parametric grid crossings."""
    mask = np.zeros((arr_h, arr_w), dtype=bool)
    for j in range(1, len(coords)):
        (x0, y0), (x1, y1) = coords[j - 1], coords[j]
        steps = [0.0, 1.0]
        dx, dy = x1 - x0, y1 - y0
        if dx != 0:
            for gx in range(int(np.ceil(min(x0, x1))), int(np.floor(max(x0, x1))) + 1):
                steps.append((gx - x0) / dx)
        if dy != 0:
            for gy in range(int(np.ceil(min(y0, y1))), int(np.floor(max(y0, y1))) + 1):
                steps.append((gy - y0) / dy)
        ts = np.unique(np.clip(np.asarray(steps), 0.0, 1.0))
        mids = (ts[:-1] + ts[1:]) / 2
        cx = np.floor(x0 + mids * dx).astype(np.int64) - ox
        cy = np.floor(y0 + mids * dy).astype(np.int64) - oy
        ok = (cx >= 0) & (cx < arr_w) & (cy >= 0) & (cy < arr_h)
        mask[cy[ok], cx[ok]] = True
    return mask


def shape_mask(
    gtype: GeomType,
    parts: list[list[np.ndarray]],
    spec: RasterSpec,
    arr_h: int,
    arr_w: int,
    oy: int = 0,
    ox: int = 0,
    all_touched: bool = False,
) -> np.ndarray:
    """Pixel mask of one geometry (already in pixel space)."""
    mask = np.zeros((arr_h, arr_w), dtype=bool)
    if gtype in (GeomType.POINT, GeomType.MULTIPOINT):
        for rings in parts:
            for x, y in rings[0]:
                if 0 <= x < spec.width and 0 <= y < spec.height:
                    ly, lx = int(y) - oy, int(x) - ox
                    if 0 <= ly < arr_h and 0 <= lx < arr_w:
                        mask[ly, lx] = True
    elif gtype in (GeomType.LINESTRING, GeomType.MULTILINESTRING):
        fn = _all_touched_line_mask if all_touched else _line_mask
        for rings in parts:
            mask |= fn(rings[0], arr_h, arr_w, oy, ox)
    elif gtype in (GeomType.POLYGON, GeomType.MULTIPOLYGON):
        for rings in parts:
            mask |= _polygon_mask(rings, arr_h, arr_w, oy, ox)
            if all_touched:
                for r in rings:
                    mask |= _all_touched_line_mask(r, arr_h, arr_w, oy, ox)
    return mask


def shape_variant_values(
    gtype: GeomType,
    pparts: list[list[np.ndarray]],
    zparts: list[list[np.ndarray]] | None,
    spec: RasterSpec,
    arr_h: int,
    arr_w: int,
    oy: int = 0,
    ox: int = 0,
    all_touched: bool = False,
) -> np.ndarray:
    """BURN_VALUE_FROM=Z variant surface of one geometry: (h, w)
    float64, NaN where the shape doesn't burn. Reference semantics
    (alg/gdalrasterize.cpp:70-90 + llrasterize.cpp):
      points  - per-point Z (llrasterize.cpp:233-248 padfVariant[i]);
      lines   - Z interpolated along the Bresenham walk (:297-380);
      polygons- the WHOLE fill burns the first collected vertex's Z
                (GDALdllImageFilledPolygon passes dfVariant[0],
                llrasterize.cpp:179) — closed rings make the CW-
                normalization irrelevant (z[0] == z[n-1]); ALL_TOUCHED
                ring edges burn interpolated Z over the fill.
    zparts=None (no Z in the WKT) burns variant 0 everywhere the
    shape touches — getZ() on 2D geometries returns 0."""
    vals = np.full((arr_h, arr_w), np.nan)
    if gtype in (GeomType.POINT, GeomType.MULTIPOINT):
        for pi, rings in enumerate(pparts):
            for ci, (x, y) in enumerate(rings[0]):
                if 0 <= x < spec.width and 0 <= y < spec.height:
                    ly, lx = int(y) - oy, int(x) - ox
                    if 0 <= ly < arr_h and 0 <= lx < arr_w:
                        vals[ly, lx] = float(zparts[pi][0][ci]) if zparts else 0.0
    elif gtype in (GeomType.LINESTRING, GeomType.MULTILINESTRING):
        fn = _all_touched_line_values if all_touched else _line_values
        for pi, rings in enumerate(pparts):
            z = zparts[pi][0] if zparts else np.zeros(len(rings[0]))
            v = fn(rings[0], z, arr_h, arr_w, oy, ox)
            m = np.isfinite(v)
            vals[m] = v[m]
    elif gtype in (GeomType.POLYGON, GeomType.MULTIPOLYGON):
        z0 = 0.0
        if zparts:
            for rings_z in zparts:
                if rings_z and len(rings_z[0]):
                    z0 = float(rings_z[0][0])
                    break
        for rings in pparts:
            m = _polygon_mask(rings, arr_h, arr_w, oy, ox)
            vals[m] = z0
        if all_touched:
            for pi, rings in enumerate(pparts):
                for ri, r in enumerate(rings):
                    z = zparts[pi][ri] if zparts else np.zeros(len(r))
                    v = _all_touched_line_values(r, z, arr_h, arr_w, oy, ox)
                    m = np.isfinite(v)
                    vals[m] = v[m]  # edges after fill (reference order)
    return vals


def _apply_burn(
    arr: np.ndarray,
    mask_or_vals: np.ndarray,
    bv: list[float],
    merge_alg: str,
    from_z: bool,
) -> None:
    """Burn one shape into the (nbands,h,w) accumulator: value per
    band = burn + variant (gdalrasterize.cpp:79), pixel at most once
    per shape."""
    if from_z:
        m = np.isfinite(mask_or_vals)
        if not m.any():
            return
        v = mask_or_vals[m]
        for b in range(len(bv)):
            if merge_alg == "add":
                arr[b][m] += bv[b] + v
            else:
                arr[b][m] = bv[b] + v
    else:
        for b in range(len(bv)):
            if merge_alg == "add":
                arr[b][mask_or_vals] += bv[b]
            else:
                arr[b][mask_or_vals] = bv[b]


# ---------------------------------------------------------------------------
# local (single-array) rasterize — kernel ground truth + small fixtures


def rasterize_local(
    wkts: list[str],
    burn_values: list[list[float]],
    spec: RasterSpec,
    merge_alg: str = "replace",
    all_touched: bool = False,
    burn_value_from_z: bool = False,
) -> np.ndarray:
    """Sequential whole-raster burn, shape order = list order.
    Returns (nbands, H, W). burn_value_from_z: gdal_rasterize -3d
    (BURN_VALUE_FROM=Z, gdalrasterize.cpp:417-510) — burned value =
    burn + geometry Z per shape_variant_values."""
    arr = np.full((spec.nbands, spec.height, spec.width), spec.init)
    batch = parse_wkt(wkts)
    zs = parse_wkt_z(wkts) if burn_value_from_z else None
    for i in range(len(batch)):
        if batch.is_null[i]:
            continue
        gtype, parts = batch.geometry(i)
        pparts = [
            [np.column_stack(spec.world_to_pixel(r[:, 0], r[:, 1])) for r in rings]
            for rings in parts
        ]
        if burn_value_from_z:
            mv = shape_variant_values(
                GeomType(gtype), pparts, zs[i], spec, spec.height, spec.width,
                all_touched=all_touched,
            )
        else:
            mv = shape_mask(GeomType(gtype), pparts, spec, spec.height, spec.width, all_touched=all_touched)
        _apply_burn(arr, mv, list(burn_values[i]), merge_alg, burn_value_from_z)
    return np.stack([copy_word(arr[b], spec.dtype) for b in range(spec.nbands)])


# ---------------------------------------------------------------------------
# distributed rasterize: explode shapes to tiles -> burn per tile

# ADD's first phase groups shapes by (tile, ord % _ADD_SALT), so a hot
# tile's burn spreads over this many tasks before the per-tile merge
_ADD_SALT = 8

# one Arrow pass per plan: Catalyst pushes rasterize's `inside` filter
# below the projection of a deterministic UDF by inlining the UDF into
# it, so each WKT would parse twice (two ArrowEvalPython nodes). A
# separate nondeterministic copy keeps it to one pass without changing
# the shared envelope_udf (asNondeterministic mutates its UDF object).
_envelope_once = F.pandas_udf(envelope_udf.func, ENVELOPE_SCHEMA).asNondeterministic()


def _sql_double(v: float) -> str:
    """Spark SQL literal of exactly the double ``v``."""
    v = float(v)
    return f"{v!r}D" if np.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"


TILE_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("ty", IntegerType()),
        StructField("tx", IntegerType()),
        StructField("h", IntegerType()),
        StructField("w", IntegerType()),
        StructField("dtype", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def densify(tiles: DataFrame, spec: RasterSpec,
            bands: list[int] | None = None) -> DataFrame:
    """Materialize the dense equivalent of a SPARSE tile table: every
    (band, ty, tx) key absent from `tiles` gains an init-valued payload
    (the repo-wide absent-tile convention, made explicit).

    Plan shape: the full key lattice is pure Catalyst (spark.range +
    arithmetic), the anti-join ships ids only, and payload synthesis
    runs on the missing keys alone — at most 4 distinct tile shapes, so
    the Arrow stage is O(missing tiles) with tiny buffers reused via
    tobytes per row. Use before stencil/contour operators when the
    all-init interior must appear in the OUTPUT (their assemblers
    already treat in-bounds absent tiles as init, but tiles with no
    existing tile in their 1-ring never form a groupBy key)."""
    spark = tiles.sparkSession
    nty, ntx, nb = spec.ntiles_y, spec.ntiles_x, spec.nbands
    # integer `div`, not float `/`: at 2^53+ lattice ids double division
    # stops being exact and keys silently collide (same fix as create.py)
    lattice = (
        spark.range(nb * nty * ntx)
        .select(
            (F.col("id") % nb + 1).cast("int").alias("band"),
            (F.expr(f"id div {nb}") % nty).cast("int").alias("ty"),
            F.expr(f"id div {nb * nty}").cast("int").alias("tx"),
        )
    )
    if bands is not None:
        # band-subset callers (as_features with bands=[...]) never pay
        # synthesis or shipping for bands they will not read
        lattice = lattice.filter(F.col("band").isin([int(b) for b in bands]))
    missing = lattice.join(
        tiles.select("band", "ty", "tx"), ["band", "ty", "tx"], "left_anti"
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[tuple[int, int], bytes] = {}
        for pdf in batches:
            hs, ws, payloads = [], [], []
            for ty, tx in zip(pdf["ty"], pdf["tx"]):
                sh = spec.tile_shape(int(ty), int(tx))
                if sh not in cache:
                    cache[sh] = tilecodec.encode(np.full(sh, spec.init, dtype=spec.dtype))
                hs.append(sh[0])
                ws.append(sh[1])
                payloads.append(cache[sh])
            yield pd.DataFrame(
                {"band": pdf["band"], "ty": pdf["ty"], "tx": pdf["tx"],
                 "h": pd.array(hs, dtype="int32"), "w": pd.array(ws, dtype="int32"),
                 "dtype": spec.dtype, "payload": payloads}
            )

    synthesized = missing.mapInPandas(_synth, TILE_SCHEMA)
    return tiles.select([f.name for f in TILE_SCHEMA.fields]).unionByName(synthesized)


def rasterize(
    shapes: DataFrame,
    spec: RasterSpec,
    wkt_col: str = "wkt",
    burn_col: str = "burn_values",
    order_col: str | None = "fid",
    merge_alg: str = "replace",
    all_touched: bool = False,
    env_cols: tuple[str, str, str, str] | None = None,
    burn_value_from_z: bool = False,
) -> DataFrame:
    """Distributed gdal_rasterize: returns the tile table.

    Plan shape (one for every call):
      shapes -> world envelope -> 4-corner inverse geotransform ->
      candidate tile range -> Catalyst sequence()-explode to (ty,tx)
      -> shuffle on tile key (groupBy) -> [applyInPandas] burn shapes
      in `order_col` order per tile -> tile rows.
    At scale the shuffle moves only (shape x touched-tile) pairs —
    geometry never fans out beyond its envelope's tiles, the same
    work-partitioning as the reference's chunked burn
    (gdalrasterize.cpp:933) but across executors. No shape row runs
    per-row Python before the shuffle.

    Envelopes: env_cols names (minx, miny, maxx, maxy) columns the
    caller already carries (extract_geom output does); without them
    one Arrow pass of spatial.envelope_udf derives them from the WKT.
    Rows with a NULL/unparseable geometry or an envelope off the
    raster never reach the shuffle. Without order_col, features burn
    in input order (monotonically_increasing_id).

    REPLACE is order-dependent and burns each tile in one pass. ADD
    always runs two phases to spread hot tiles: shapes shuffle on
    (ty, tx, ord % 8), partial float64 burns merge per tile by
    summation, and the dtype round/clamp happens once in the merge.

    Point partials (ADD with env_cols, no burn_value_from_z): rows
    whose envelope is degenerate and whose WKT is a POINT skip the
    row-per-shape shuffle. One map-side pass folds each input
    partition's points into per-tile partials from the envelope
    coordinates, without a parse, and only those partials reach the
    merge. In every other case points keep their WKT and burn in the
    per-tile stage's vectorized point path.
    """
    ts = spec.tile_size
    add = merge_alg == "add"
    # the map-side point combine reads coordinates from the caller's
    # envelope columns; Z burns need the parsed Z, REPLACE the order
    pt_partials = add and env_cols is not None and not burn_value_from_z

    if env_cols is None:
        shapes = shapes.select(
            "*", _envelope_once(F.col(wkt_col)).alias("_env")
        )
        env_cols = ("_env.minx", "_env.miny", "_env.maxx", "_env.maxy")
    base = shapes.select(
        F.col(wkt_col).alias("_wkt"),
        *[F.col(c).alias(a) for c, a in zip(env_cols, ("_mnx", "_mny", "_mxx", "_mxy"))],
        F.transform(F.col(burn_col), lambda v: v.cast("double")).alias("burn"),
        (F.col(order_col).cast("long") if order_col else F.monotonically_increasing_id()).alias("ord"),
    )

    # world envelope -> pixel-space bbox via ALL FOUR corners: with a
    # rotated geotransform (gt[2]/gt[4] != 0) the two diagonal corners
    # alone under-cover the pixel bbox and shapes could silently miss
    # tiles. Same float64 operation order as RasterSpec.world_to_pixel.
    # Written as SQL text, one F.expr per column: built from Column
    # operators the same trees took ~2,300 py4j round trips per call.
    g0, g1, g2, g3, g4, g5 = spec.gt
    det, ng4 = _sql_double(g1 * g5 - g2 * g4), _sql_double(-g4)
    g0, g1, g2, g3, g5 = map(_sql_double, (g0, g1, g2, g3, g5))
    corners = [("_mnx", "_mny"), ("_mnx", "_mxy"), ("_mxx", "_mny"), ("_mxx", "_mxy")]
    pxs = ", ".join(f"({g5} * ({x} - {g0}) - {g2} * ({y} - {g3})) / {det}" for x, y in corners)
    pys = ", ".join(f"({ng4} * ({x} - {g0}) + {g1} * ({y} - {g3})) / {det}" for x, y in corners)
    pminx, pmaxx = f"least({pxs})", f"greatest({pxs})"
    pminy, pmaxy = f"least({pys})", f"greatest({pys})"
    inside = F.expr(
        f"NOT isnan(_mnx) AND NOT ({pmaxx} < 0.0D OR {pminx} >= {_sql_double(spec.width)}"
        f" OR {pmaxy} < 0.0D OR {pminy} >= {_sql_double(spec.height)})"
    )
    tsf = _sql_double(ts)

    def _tiles(pmin, pmax, n):
        lo, hi = (f"CAST(greatest(least(floor({p} / {tsf}), {n - 1}L), 0L) AS INT)" for p in (pmin, pmax))
        return F.expr(f"explode(sequence({lo}, {hi}))")

    explode_src = base.where(inside)
    if pt_partials:
        # degenerate envelope AND an actual POINT (a zero-area polygon
        # also has minx==maxx but burns nothing under the center rule —
        # it must keep its WKT and parse)
        deg = F.expr("_mnx = _mxx AND _mny = _mxy AND startswith(_wkt, 'POINT')")
        explode_src = explode_src.where(~deg)
    exploded = (
        explode_src
        .select("*", _tiles(pminy, pmaxy, spec.ntiles_y).alias("ty"))
        .select("*", _tiles(pminx, pmaxx, spec.ntiles_x).alias("tx"))
        .select(
            "ty",
            "tx",
            *([(F.col("ord") % F.lit(_ADD_SALT)).cast("int").alias("salt")] if add else []),
            F.col("_wkt").alias("wkt"),
            "burn",
            "ord",
        )
    )

    def _accumulate(pdf: pd.DataFrame, h: int, w: int, oy: int, ox: int, base: float) -> np.ndarray:
        """Burn all shapes of one (tile[, salt]) group into a float64
        accumulator starting at `base` (spec.init for REPLACE's
        single pass, 0.0 for ADD's partials)."""
        pdf = pdf.sort_values("ord", kind="stable")
        arr = np.full((spec.nbands, h, w), float(base))

        batch = parse_wkt(pdf["wkt"])

        # vectorized POINT path (GDALdllImagePoint: floor to pixel,
        # bounds check) — burn all single points per band in one
        # bincount (ADD) / ordered fancy assignment (REPLACE; stable
        # order makes the LAST write win, = feature order)
        is_single_pt = (batch.types == GeomType.POINT) & ~batch.is_empty
        # REPLACE with mixed shapes must stay strictly in feature
        # order (a later polygon may overwrite an earlier point);
        # ADD is order-free, all-point tiles are order-safe too.
        # Z-burn always takes the generic loop (per-point variants).
        if burn_value_from_z or not (add or is_single_pt.all()):
            is_single_pt[:] = False
        pt_rows = np.flatnonzero(is_single_pt)
        if pt_rows.size:
            first_ring = batch.part_ring_off[batch.geom_part_off[pt_rows]]
            cidx = batch.ring_coord_off[first_ring]
            px, py = spec.world_to_pixel(batch.coords[cidx, 0], batch.coords[cidx, 1])
            ok = (px >= 0) & (px < spec.width) & (py >= 0) & (py < spec.height)
            lx = px.astype(np.int64) - ox
            ly = py.astype(np.int64) - oy
            ok &= (lx >= 0) & (lx < w) & (ly >= 0) & (ly < h)
            sel = np.flatnonzero(ok)
            if sel.size:
                flat = ly[sel] * w + lx[sel]
                burns = np.array(list(pdf["burn"].iloc[pt_rows[sel]]), dtype=np.float64)
                for b in range(spec.nbands):
                    if add:
                        arr[b] += np.bincount(flat, weights=burns[:, b], minlength=h * w).reshape(h, w)
                    else:
                        a = arr[b].ravel()
                        a[flat] = burns[:, b]  # stable order: last wins
                        arr[b] = a.reshape(h, w)

        zs = parse_wkt_z(pdf["wkt"]) if burn_value_from_z else None
        for i in np.flatnonzero(~is_single_pt & ~batch.is_null):
            gtype, parts = batch.geometry(i)
            pparts = [
                [np.column_stack(spec.world_to_pixel(r[:, 0], r[:, 1])) for r in rings]
                for rings in parts
            ]
            if burn_value_from_z:
                mv = shape_variant_values(
                    GeomType(gtype), pparts, zs[i], spec, h, w, oy, ox,
                    all_touched=all_touched,
                )
            else:
                mv = shape_mask(GeomType(gtype), pparts, spec, h, w, oy, ox, all_touched=all_touched)
            bv = [float(v) for v in pdf["burn"].iloc[i]]
            _apply_burn(arr, mv, bv, merge_alg, burn_value_from_z)
        return arr

    def _burn(key, pdf):
        tyy, txx = int(key[0]), int(key[1])
        h, w = spec.tile_shape(tyy, txx)
        oy, ox = tyy * ts, txx * ts
        arr = _accumulate(pdf, h, w, oy, ox, base=spec.init)
        return pd.DataFrame(
            [tilecodec.tile_row(b + 1, tyy, txx, copy_word(arr[b], spec.dtype)) for b in range(spec.nbands)]
        )

    if not add:
        return exploded.groupBy("ty", "tx").applyInPandas(_burn, TILE_SCHEMA)

    # -- two-phase ADD: partial float64 burns per (tile, salt), then one
    # merge per tile (sum is associative; the dtype round/clamp happens
    # exactly once, in the merge)
    def _partial_row(band: int, tyy: int, txx: int, h: int, w: int,
                     idx: np.ndarray, vals: np.ndarray) -> dict:
        """One band's float64 partial of tile (tyy, txx) from its
        nonzero flat indices and values: sparse COO (int32 flat indices
        + float64 vals, 12 B a pixel) when that is under a quarter of
        the dense h*w*8 B, so uniform tiles carry ~points x 12 B
        through the merge shuffle and only a hot tile goes dense."""
        if idx.size * 12 < h * w * 2:
            return {"band": band, "ty": tyy, "tx": txx, "h": h, "w": w,
                    "dtype": "coo", "payload": idx.astype(np.int32).tobytes() + vals.tobytes()}
        a = np.zeros(h * w)
        a[idx] = vals
        return tilecodec.tile_row(band, tyy, txx, a.reshape(h, w))

    def _burn_partial(key, pdf):
        tyy, txx = int(key[0]), int(key[1])
        h, w = spec.tile_shape(tyy, txx)
        arr = _accumulate(pdf, h, w, tyy * ts, txx * ts, base=0.0)
        rows = []
        for b in range(spec.nbands):
            a = arr[b].astype(np.float64).ravel()
            idx = np.flatnonzero(a)
            rows.append(_partial_row(b + 1, tyy, txx, h, w, idx, a[idx]))
        return pd.DataFrame(rows)

    def _merge_partials(key, pdf):
        b, tyy, txx = int(key[0]), int(key[1]), int(key[2])
        h, w = int(pdf["h"].iloc[0]), int(pdf["w"].iloc[0])
        total = np.full(h * w, float(spec.init), dtype=np.float64)
        for dt, p in zip(pdf["dtype"], pdf["payload"]):
            if dt == "coo":
                nnz = len(p) // 12
                idx = np.frombuffer(p[: 4 * nnz], dtype=np.int32)
                val = np.frombuffer(p[4 * nnz :], dtype=np.float64)
                np.add.at(total, idx, val)
            else:
                total += tilecodec.decode(p, dt, (h * w,), (b, tyy, txx))
        return pd.DataFrame([tilecodec.tile_row(b, tyy, txx, copy_word(total.reshape(h, w), spec.dtype))])

    def _pt_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Map-side point combine: fold a whole input partition's
        points into per-tile partials (same world_to_pixel +
        truncation + bounds rule as _accumulate's point path, so the
        merged result is identical). Sparse throughout — points
        reduce to (distinct pixel, per-band sum) pairs via one sort,
        no dense accumulator ever allocates, so per-task memory is
        O(points in the partition) at ANY raster size and the emitted
        partials are COO unless a tile is genuinely dense."""
        W = spec.width
        flats: list[np.ndarray] = []
        wts: list[np.ndarray] = []
        for pdf in batches:
            if not len(pdf):
                continue
            gxv = pdf["gx"].to_numpy(dtype=np.float64)
            gyv = pdf["gy"].to_numpy(dtype=np.float64)
            px, py = spec.world_to_pixel(gxv, gyv)
            ok = (px >= 0) & (px < W) & (py >= 0) & (py < spec.height)
            sel = np.flatnonzero(ok)
            if not sel.size:
                continue
            ix = px[sel].astype(np.int64)
            iy = py[sel].astype(np.int64)
            flats.append(iy * W + ix)
            wts.append(
                np.column_stack(
                    [
                        pdf[f"_b{b}"].to_numpy(dtype=np.float64)[sel]
                        for b in range(spec.nbands)
                    ]
                )
            )
        if not flats:
            return
        flat = np.concatenate(flats)
        wt = np.vstack(wts)
        uniq, inv = np.unique(flat, return_inverse=True)
        sums = np.empty((spec.nbands, uniq.size))
        for b in range(spec.nbands):
            sums[b] = np.bincount(inv, weights=wt[:, b], minlength=uniq.size)
        upy, upx = uniq // W, uniq % W
        tkey = (upy // ts) * spec.ntiles_x + (upx // ts)
        order = np.argsort(tkey, kind="stable")
        tuniq, starts = np.unique(tkey[order], return_index=True)
        bounds = np.append(starts, order.size)
        rows = []
        for u, k in enumerate(tuniq):
            m = order[bounds[u]: bounds[u + 1]]
            t_y, t_x = int(k // spec.ntiles_x), int(k % spec.ntiles_x)
            h, w = spec.tile_shape(t_y, t_x)
            lidx = (upy[m] - t_y * ts) * w + (upx[m] - t_x * ts)
            for b in range(spec.nbands):
                rows.append(_partial_row(b + 1, t_y, t_x, h, w, lidx, sums[b][m]))
        if rows:
            yield pd.DataFrame(rows)

    partial = exploded.groupBy("ty", "tx", "salt").applyInPandas(_burn_partial, TILE_SCHEMA)
    if pt_partials:
        # the point majority never enters the row-per-shape shuffle:
        # per input partition, one Arrow pass bincounts every point
        # into per-tile float64 partials (the classic map-side combine
        # — ADD is the associative aggregate), and ONLY those partials
        # (<= n_partitions x touched tiles rows, COO when sparse) reach
        # the merge groupBy. Burn values cross as ONE PLAIN DOUBLE
        # COLUMN PER BAND — an array<double> column materializes a
        # Python object per row on the Arrow crossing (measured ~2x
        # the whole stage's cost at 2M rows); scalars stay zero-copy.
        # A missing band value must error like the array paths'
        # IndexError, not silently poison the partial sums as the
        # NULL->NaN element_at would (a NaN VALUE still passes —
        # burning NaN into a float raster is legitimate)
        def _band_burn(b: int):
            el = F.element_at("burn", b + 1)
            return F.when(
                el.isNull(),
                F.raise_error(F.lit(
                    f"burn_values has no value for band {b + 1}"
                )).cast("double"),
            ).otherwise(el).alias(f"_b{b}")

        pt_src = base.where(inside & deg).select(
            F.col("_mnx").alias("gx"),
            F.col("_mny").alias("gy"),
            *[_band_burn(b) for b in range(spec.nbands)],
        )
        partial = partial.unionByName(pt_src.mapInPandas(_pt_partials, TILE_SCHEMA))
    return partial.groupBy("band", "ty", "tx").applyInPandas(_merge_partials, TILE_SCHEMA)


def init_word(spec: RasterSpec) -> np.generic:
    """The value an absent tile's pixels hold: ``spec.init`` as a
    ``spec.dtype`` word, GDALCopyWord-rounded for a nonzero integer
    init."""
    if spec.init != 0 and np.issubdtype(np.dtype(spec.dtype), np.integer):
        return copy_word(np.full((1,), spec.init), spec.dtype)[0]
    return np.full((), spec.init, dtype=spec.dtype)[()]


def materialize_full(tiles: DataFrame, spec: RasterSpec, band: int = 1) -> np.ndarray:
    """Collect tile rows into one (H, W) array (tests / small rasters).
    Tiles absent from the DF are init-valued."""
    arr = np.full((spec.height, spec.width), init_word(spec), dtype=spec.dtype)
    pdf = tiles.filter(F.col("band") == band).select(*tilecodec.TILE_COLUMNS).toPandas()
    ts = spec.tile_size
    return tilecodec.paste(arr, pdf, pdf["ty"].to_numpy() * ts, pdf["tx"].to_numpy() * ts)


# ---------------------------------------------------------------------------
# checksum (the GDAL oracle aggregate)


def checksum_array(arr: np.ndarray) -> int:
    """GDALChecksumImage of a full 2D array (int path)."""
    v = arr.astype(np.int64).ravel()
    idx = np.arange(v.size, dtype=np.int64) % 11
    # C % truncates toward zero; np.fmod matches (values may be negative)
    return int(np.fmod(v, CHECKSUM_PRIMES[idx]).sum() % 65536)


def checksum_tile_partial(tile: np.ndarray, oy: int, ox: int, full_width: int) -> int:
    """Partial checksum of a tile at raster offset (oy, ox): prime
    index = (global_y * W + global_x) % 11, so partials from disjoint
    tiles add mod 65536 to the full-raster checksum."""
    h, w = tile.shape
    gy = (np.arange(h, dtype=np.int64) + oy)[:, None]
    gx = (np.arange(w, dtype=np.int64) + ox)[None, :]
    idx = ((gy * full_width + gx) % 11).ravel()
    return int(np.fmod(tile.astype(np.int64).ravel(), CHECKSUM_PRIMES[idx]).sum() % 65536)


def init_checksum(spec: RasterSpec) -> int:
    """Checksum of a band with no tiles, in closed form: the flat pixel
    index takes each class mod 11 N // 11 times, or once more for the
    first N % 11 classes (N = H * W)."""
    n = spec.height * spec.width
    counts = np.full(11, n // 11, dtype=np.int64)
    counts[: n % 11] += 1
    v = np.asarray(init_word(spec)).astype(np.int64)
    return int((counts * np.fmod(v, CHECKSUM_PRIMES)).sum() % 65536)


def checksum_df(tiles: DataFrame, spec: RasterSpec, band: int = 1) -> int:
    """Distributed checksum of one band, collected to the driver: the
    checksum_col plan over that band's tiles, or the all-init checksum
    when the band has none."""
    row = checksum_col(tiles.filter(F.col("band") == band), spec).first()
    return init_checksum(spec) if row is None else int(row.checksum)


def checksum_col(tiles: DataFrame, spec: RasterSpec) -> DataFrame:
    """Distributed checksum as a DataFrame: (band, checksum), one row
    per band that has tiles. Absent tiles are init-valued: the all-init
    checksum plus, per present tile, its partial minus an init tile's
    (Arrow UDF), summed mod 65536 — a distributive aggregate, no
    full-raster materialization; lazy, so usable inside
    queries()/bench without a driver-side collect."""
    ts = spec.tile_size
    w = spec.width
    init = init_word(spec)

    @F.pandas_udf(LongType())
    def _partial(tile: pd.DataFrame) -> pd.Series:
        out = []
        for t, ty, tx in zip(tilecodec.decode_batch(tile), tile["ty"].tolist(), tile["tx"].tolist()):
            oy, ox = ty * ts, tx * ts
            p = checksum_tile_partial(t, oy, ox, w)
            if init:
                p -= checksum_tile_partial(np.full(t.shape, init), oy, ox, w)
            out.append(p)
        return pd.Series(out, dtype="int64")

    return (
        tiles.select("band", _partial(F.struct(*tilecodec.TILE_COLUMNS)).alias("p"))
        .groupBy("band")
        .agg(F.pmod(F.sum("p") + F.lit(init_checksum(spec)), F.lit(65536)).alias("checksum"))
    )


def default_histogram_range(
    dtype: str, stats_min: float | None = None, stats_max: float | None = None
) -> tuple[float, float, int]:
    """GDALRasterBand::GetDefaultHistogram bounds
    (gcore/gdalrasterband.cpp:4940-5000): Byte is fixed (-0.5, 255.5,
    256); Int8 is (-128.5, 127.5, 256); everything else takes the band
    statistics min/max expanded by half a bucket on each side with the
    reference's `(max - min) / (2 * (nBuckets - 1))` half-bucket (one
    bucket when min == max)."""
    if dtype == "uint8":
        return -0.5, 255.5, 256
    if dtype == "int8":
        return -128.5, 127.5, 256
    if stats_min is None or stats_max is None:
        raise ValueError("non-byte default histogram needs band statistics")
    if stats_min == stats_max:
        return stats_min - 0.5, stats_max + 0.5, 1
    n_buckets = 256
    half = (stats_max - stats_min) / (2 * (n_buckets - 1))
    return stats_min - half, stats_max + half, n_buckets


def band_histogram(
    tiles: DataFrame,
    spec: RasterSpec,
    dfmin: float,
    dfmax: float,
    buckets: int,
    include_out_of_range: bool = False,
    nodata: float | None = None,
) -> DataFrame:
    """GDALRasterBand::GetHistogram as a distributive aggregate
    (gcore/gdalrasterband.cpp:4224,4513-4529): bucket index =
    floor((value - min) * buckets / (max - min)); below-range counts
    into bucket 0 and above-range into bucket buckets-1 when
    `include_out_of_range`, else dropped; nodata and NaN pixels always
    skipped. Returns sparse (band, bucket, count) rows, count > 0.

    Scale shape: per-tile np.bincount partials (one Arrow batch pass
    over the payloads), posexplode to (band, bucket, partial) and a
    map-side-combinable groupBy(band, bucket) sum — 100 TB of tiles
    reduce to <= buckets rows per band with no wide exchange. Sparse
    tile tables (rasterize emits only burned tiles) are corrected by
    crediting the missing pixels to the bucket of spec.init, computed
    from a COUNT aggregate — no tile materialization."""
    scale = buckets / (dfmax - dfmin)

    @F.pandas_udf(ArrayType(LongType()))
    def _partial(tile: pd.DataFrame) -> pd.Series:
        out = []
        for t in tilecodec.decode_batch(tile):
            v = t.ravel().astype(np.float64)
            keep = ~np.isnan(v)
            if nodata is not None:
                keep &= v != nodata
            idx = np.floor((v[keep] - dfmin) * scale)
            if include_out_of_range:
                idx = np.clip(idx, 0, buckets - 1)
            else:
                m = (idx >= 0) & (idx < buckets)
                idx = idx[m]
            out.append(np.bincount(idx.astype(np.int64), minlength=buckets).tolist())
        return pd.Series(out)

    hist = (
        tiles.select("band", _partial(F.struct(*tilecodec.TILE_COLUMNS)).alias("hp"))
        .select("band", F.posexplode("hp").alias("bucket", "n"))
        .filter(F.col("n") > 0)
        .groupBy("band", "bucket")
        .agg(F.sum("n").alias("count"))
    )

    # implicit pixels of tiles absent from the sparse tile table
    init = float(spec.init)
    init_idx = int(np.floor((init - dfmin) * scale))
    if init_idx < 0:
        init_idx = 0 if include_out_of_range else None
    elif init_idx >= buckets:
        init_idx = buckets - 1 if include_out_of_range else None
    if (nodata is not None and init == nodata) or np.isnan(init):
        init_idx = None
    if init_idx is None:
        return hist
    total = spec.width * spec.height
    # seed from spec.nbands: a band with ZERO materialized tiles has no
    # tiles.groupBy row at all, yet its width*height init pixels still
    # belong in the histogram (same class as raster_info's all-init
    # band rule)
    bands = tiles.sparkSession.range(1, int(spec.nbands) + 1).select(
        F.col("id").cast("int").alias("band")
    )
    covered = bands.join(
        tiles.groupBy("band").agg(
            F.sum(F.col("h").cast("long") * F.col("w")).alias("_present")
        ),
        "band",
        "left",
    ).select(
        "band",
        (F.lit(total) - F.coalesce(F.col("_present"), F.lit(0))).alias("missing"),
    )
    extra = covered.filter(F.col("missing") > 0).select(
        "band", F.lit(init_idx).alias("bucket"), F.col("missing").alias("count")
    )
    return (
        hist.unionByName(extra)
        .groupBy("band", "bucket")
        .agg(F.sum("count").alias("count"))
    )


AS_FEATURES_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("py", IntegerType()),
        StructField("px", IntegerType()),
        StructField("value", DoubleType()),
    ]
)


def as_features(tiles: DataFrame, spec: RasterSpec, skip_value: float | None = None) -> DataFrame:
    """Tiles -> one row per pixel (band, py, px, value) in GLOBAL
    pixel coordinates — `gdal raster as-features` / pixel-info
    (apps/gdalalg_raster_as_features.cpp). skip_value drops a
    background value (sparse output; the common use for burn counts).

    Decode + flatten happens inside one Arrow batch pass; no
    driver-side materialization, output is pruned before the shuffle.
    """
    ts = spec.tile_size

    def _explode(batches):
        for pdf in batches:
            out = []
            for r, t in zip(pdf.itertuples(index=False), tilecodec.decode_batch(pdf)):
                t = t.astype(np.float64)
                yy, xx = np.nonzero(t != skip_value) if skip_value is not None else np.unravel_index(np.arange(t.size), t.shape)
                out.append(
                    pd.DataFrame(
                        {
                            "band": np.full(yy.size, r.band, dtype=np.int32),
                            "py": (yy + r.ty * ts).astype(np.int32),
                            "px": (xx + r.tx * ts).astype(np.int32),
                            "value": t[yy, xx],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True) if out else pd.DataFrame(
                {"band": pd.array([], dtype="int32"), "py": pd.array([], dtype="int32"),
                 "px": pd.array([], dtype="int32"), "value": pd.array([], dtype="float64")}
            )

    return tiles.mapInPandas(_explode, AS_FEATURES_SCHEMA)


def _band_tiles(pdf: pd.DataFrame, bands: list[int]) -> list[tuple[int, int, dict[int, np.ndarray]]]:
    """(ty, tx, {band: float64 (h, w) array}) for each tile key of
    ``pdf`` that holds every band in ``bands``."""
    pdf = pdf[pdf["band"].isin(bands)]
    keys: dict[tuple[int, int], dict[int, np.ndarray]] = {}
    for ty, tx, b, t in zip(pdf["ty"].tolist(), pdf["tx"].tolist(), pdf["band"].tolist(),
                            tilecodec.decode_batch(pdf)):
        keys.setdefault((ty, tx), {})[b] = t.astype(np.float64)
    return [(ty, tx, arrs) for (ty, tx), arrs in keys.items() if len(arrs) == len(bands)]


def _per_tile_key(tiles: DataFrame, bands: list[int], frame, schema) -> DataFrame:
    """Run ``frame`` over batches holding whole tile keys: one Arrow map
    pass for a single band, else a groupBy on (ty, tx) that aligns a
    tile's band rows."""
    if len(bands) == 1:
        return tiles.mapInPandas(lambda batches: map(frame, batches), schema)
    return tiles.groupBy("ty", "tx").applyInPandas(lambda _, pdf: frame(pdf), schema)


def as_features_layer(
    tiles: DataFrame,
    spec: RasterSpec,
    bands: list[int] | None = None,
    geometry_type: str = "none",
    include_xy: bool = False,
    include_row_col: bool = False,
    skip_nodata: bool = False,
    nodata: float | None = None,
) -> DataFrame:
    """`gdal raster as-features` full layer semantics
    (apps/gdalalg_raster_as_features.cpp GDALRasterAsFeaturesLayer):
    ONE feature per pixel carrying every selected band as a BAND_n real
    field, optional CENTER_X/CENTER_Y (pixel-center geo coords, :240),
    optional ROW/COL (global line/pixel, :236), and geometry `none` |
    `point` (center) | `polygon` (pixel box ring (p,l)->(p,l+1)->
    (p+1,l+1)->(p+1,l)->close, :258-276). skip_nodata omits a pixel
    when the FIRST selected band's value equals `nodata` (NaN==NaN,
    :305-312 IsNoData — the reference reads band 1's nodata and tests
    only *pSrcVal; per-band masks are its own documented TODO :120).

    In-bounds tiles absent from a sparse table act init-valued (the
    repo-wide convention): the key lattice is densified before the
    explode, so the output always covers width x height pixels.

    Distributed shape: single-band streams through one Arrow map pass
    (no shuffle); multi-band aligns a tile's band rows with one
    groupBy on the tile key. WKT is built from per-corner formatted
    strings — axis-aligned geotransforms (the overwhelmingly common
    case) format only (w+1)+(h+1) distinct coordinate strings per tile
    and assemble by index."""
    bands = bands or list(range(1, spec.nbands + 1))
    if len(set(bands)) != len(bands):
        # _multi keys tile arrays by band id, so a duplicate selection
        # could never satisfy len(arrs) == len(bands) and would emit an
        # EMPTY layer silently; duplicate a band upstream with
        # select_bands (which renumbers) instead
        raise ValueError(f"duplicate band ids in bands: {bands}")
    if any(b < 1 or b > spec.nbands for b in bands):
        raise ValueError(f"band ids out of range 1..{spec.nbands}: {bands}")
    if geometry_type not in ("none", "point", "polygon"):
        raise ValueError(f"geometry-type must be none|point|polygon, got {geometry_type!r}")
    ts = spec.tile_size
    g0, g1, g2, g3, g4, g5 = spec.gt
    axis_aligned = g2 == 0.0 and g4 == 0.0

    fields = []
    if geometry_type != "none":
        fields.append(("geom", "string"))
    if include_xy:
        fields += [("CENTER_X", "double"), ("CENTER_Y", "double")]
    if include_row_col:
        fields += [("ROW", "int"), ("COL", "int")]
    fields += [(f"BAND_{b}", "double") for b in bands]
    out_schema = ", ".join(f"`{n}` {t}" for n, t in fields)

    def _is_nodata(v: np.ndarray) -> np.ndarray:
        if nodata is None:
            return np.zeros(v.shape, dtype=bool)
        if np.isnan(nodata):
            return np.isnan(v)
        return v == nodata

    def _fmt_axis(vals: np.ndarray) -> np.ndarray:
        return np.array([_fmt_d(float(v)) for v in vals], dtype=object)

    def _rows(arrs: dict[int, np.ndarray], ty: int, tx: int, h: int, w: int) -> pd.DataFrame:
        gy0, gx0 = ty * ts, tx * ts
        keep = np.ones((h, w), dtype=bool)
        if skip_nodata:
            keep = ~_is_nodata(arrs[bands[0]])
        yy, xx = np.nonzero(keep)
        line = (yy + gy0).astype(np.float64)
        pixel = (xx + gx0).astype(np.float64)
        cols: dict[str, object] = {}
        if geometry_type == "point":
            cx = g0 + (pixel + 0.5) * g1 + (line + 0.5) * g2
            cy = g3 + (pixel + 0.5) * g4 + (line + 0.5) * g5
            cols["geom"] = [f"POINT({_fmt_d(x)} {_fmt_d(y)})" for x, y in zip(cx, cy)]
        elif geometry_type == "polygon":
            if axis_aligned:
                xs = _fmt_axis(g0 + (gx0 + np.arange(w + 1)) * g1)
                ys = _fmt_axis(g3 + (gy0 + np.arange(h + 1)) * g5)
                cols["geom"] = [
                    f"POLYGON(({xs[j]} {ys[i]},{xs[j]} {ys[i + 1]},"
                    f"{xs[j + 1]} {ys[i + 1]},{xs[j + 1]} {ys[i]},{xs[j]} {ys[i]}))"
                    for i, j in zip(yy, xx)
                ]
            else:
                def corner(p, ln):
                    return (g0 + p * g1 + ln * g2, g3 + p * g4 + ln * g5)

                wkts = []
                for p, ln in zip(pixel, line):
                    ring = [corner(p, ln), corner(p, ln + 1), corner(p + 1, ln + 1),
                            corner(p + 1, ln), corner(p, ln)]
                    wkts.append("POLYGON((" + ",".join(f"{_fmt_d(x)} {_fmt_d(y)}" for x, y in ring) + "))")
                cols["geom"] = wkts
        if include_xy:
            cols["CENTER_X"] = g0 + (pixel + 0.5) * g1 + (line + 0.5) * g2
            cols["CENTER_Y"] = g3 + (pixel + 0.5) * g4 + (line + 0.5) * g5
        if include_row_col:
            cols["ROW"] = pd.array(line.astype(np.int64), dtype="int32")
            cols["COL"] = pd.array(pixel.astype(np.int64), dtype="int32")
        for b in bands:
            cols[f"BAND_{b}"] = arrs[b][yy, xx].astype(np.float64)
        return pd.DataFrame(cols)

    def _empty() -> pd.DataFrame:
        return pd.DataFrame({n: pd.array([], dtype="object" if t == "string" else ("int32" if t == "int" else "float64"))
                             for n, t in fields})

    # prune to the SELECTED bands before densify/explode — otherwise a
    # 10-band raster with bands=[1] synthesizes and ships 9 bands of
    # payload bytes across Arrow only to drop them in Python
    sel = F.col("band").isin([int(b) for b in bands])
    dense = densify(tiles.filter(sel), spec, bands=bands)

    def _frame(pdf: pd.DataFrame) -> pd.DataFrame:
        out = [_rows(arrs, ty, tx, *arrs[bands[0]].shape) for ty, tx, arrs in _band_tiles(pdf, bands)]
        return pd.concat(out, ignore_index=True) if out else _empty()

    return _per_tile_key(dense, bands, _frame, out_schema)


def mosaic(tile_tables: list[DataFrame], nodata: float = 0.0, method: str = "last") -> DataFrame:
    """`gdal raster mosaic` (apps/gdalalg_raster_mosaic.cpp): compose
    same-grid rasters; where sources overlap, the LAST source's
    non-nodata pixel wins (VRT composition order). method='first'
    flips the precedence (`gdal raster stack` keeps bands separate —
    use union + band renumber for that).

    Plan: union tile tables with a source index, one groupBy on the
    tile key, per-tile numpy overlay in source order."""
    tagged = []
    for i, t in enumerate(tile_tables):
        tagged.append(t.withColumn("_src", F.lit(i)))
    allt = tagged[0]
    for t in tagged[1:]:
        allt = allt.unionByName(t)

    def _merge(key, pdf):
        pdf = pdf.sort_values("_src", kind="stable")
        if method == "first":
            pdf = pdf.iloc[::-1]
        first, *rest = tilecodec.decode_batch(pdf)
        out = first.copy()
        for t in rest:
            m = t != nodata
            out[m] = t[m]
        return pd.DataFrame([tilecodec.tile_row(int(key[0]), int(key[1]), int(key[2]), out)])

    return allt.groupBy("band", "ty", "tx").applyInPandas(_merge, TILE_SCHEMA)


def stack(tile_tables: list[DataFrame]) -> DataFrame:
    """`gdal raster stack`: each input becomes its own band (band
    renumbering 1..N in input order)."""
    out = None
    offset = 0
    for t in tile_tables:
        nb = t.select(F.max("band")).first()[0] or 1
        renum = t.withColumn("band", F.col("band") + F.lit(offset))
        out = renum if out is None else out.unionByName(renum)
        offset += nb
    return out


def rasterize_invert(
    shapes: DataFrame,
    spec: RasterSpec,
    burn_values: list[float],
    wkt_col: str = "wkt",
) -> DataFrame:
    """gdal_rasterize -i (apps/gdal_rasterize_lib.cpp:737-757
    InvertGeometries): the reference subtracts every polygon from a
    universe rectangle 2 px outside the raster and burns the
    difference geometry. Raster-level equivalent, distributed: burn
    polygon COVERAGE to a 0/1 mask with the standard center rule, then
    complement per tile — burn_values where uncovered, spec.init where
    covered. The scanline interval rules [floor(x1+0.5), floor(x2+0.5))
    make coverage and difference exactly complementary pixel sets
    (shared ring edges partition, never double-fill), so this matches
    the reference wherever the difference-burn is well defined; the
    universe ring sits outside the raster so edge pixels behave
    identically. Non-polygon geometries are ignored, as the reference
    warns and does (:776-784).

    Dense output: one coverage rasterize (the existing salted
    two-phase burn) + a skeleton left-join + one Arrow complement
    pass."""
    polys = shapes.filter(
        F.col(wkt_col).startswith("POLYGON") | F.col(wkt_col).startswith("MULTIPOLYGON")
    ).select(
        F.lit(0).alias("fid"),
        F.col(wkt_col).alias("wkt"),
        F.array(F.lit(1.0)).alias("burn_values"),
    )
    mask_spec = RasterSpec(
        width=spec.width, height=spec.height, gt=spec.gt,
        dtype="uint8", nbands=1, init=0.0, tile_size=spec.tile_size,
    )
    cover = rasterize(polys, mask_spec, order_col=None)

    spark = shapes.sparkSession
    nty, ntx, ts = spec.ntiles_y, spec.ntiles_x, spec.tile_size
    sk = spark.range(nty * ntx).selectExpr(
        f"cast(id div {ntx} as int) as ty", f"cast(id % {ntx} as int) as tx"
    )
    j = sk.join(cover.select("ty", "tx", "payload"), ["ty", "tx"], "left")
    init = float(spec.init)
    bvals = [float(v) for v in burn_values]
    nbands = spec.nbands
    W, H, dt = spec.width, spec.height, spec.dtype

    def _complement(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                ty, tx = int(r.ty), int(r.tx)
                h = min(ts, H - ty * ts)
                w = min(ts, W - tx * ts)
                if r.payload is None:
                    covered = np.zeros((h, w), dtype=bool)
                else:
                    covered = tilecodec.decode(r.payload, "uint8", (h, w), (ty, tx)) != 0
                for b in range(nbands):
                    bv = bvals[min(b, len(bvals) - 1)]
                    rows.append(tilecodec.tile_row(b + 1, ty, tx, copy_word(np.where(covered, init, bv), dt)))
            yield pd.DataFrame(rows)

    return j.mapInPandas(_complement, TILE_SCHEMA)


def gdal2xyz(
    tiles: DataFrame,
    spec: RasterSpec,
    bands: list[int] | None = None,
    srcwin: tuple[int, int, int, int] | None = None,
    skip: tuple[int, int] = (1, 1),
    src_nodata: list[float] | None = None,
    skip_nodata: bool = False,
    dst_nodata: list[float] | None = None,
) -> DataFrame:
    """gdal2xyz (osgeo_utils/gdal2xyz.py:39-214): one row per selected
    pixel with PIXEL-CENTER geo coordinates (geo = GT applied to
    (x+0.5, y+0.5), :196-198) and all selected band values. srcwin
    crops in pixel space; skip=(x_skip, y_skip) decimates relative to
    the window origin (:167,177); a pixel is nodata iff its whole
    band-value VECTOR equals src_nodata (np.array_equal, :188-193) —
    then skipped (skip_nodata) or replaced by dst_nodata.

    Distributed shape: single-band rasters stream through one Arrow
    map pass (no shuffle); multi-band aligns a tile's band rows with
    one groupBy on the tile key — the same exchange any band-aligned
    consumer needs, output columns pruned to the selected bands."""
    bands = bands or list(range(1, spec.nbands + 1))
    x_off, y_off, x_size, y_size = srcwin or (0, 0, spec.width, spec.height)
    x_skip, y_skip = skip
    g0, g1, g2, g3, g4, g5 = spec.gt
    ts = spec.tile_size
    sn = None if src_nodata is None else np.asarray(src_nodata, dtype=np.float64)
    dn = None if dst_nodata is None else np.asarray(dst_nodata, dtype=np.float64)
    do_skip = skip_nodata and sn is not None
    do_replace = (not do_skip) and dn is not None and sn is not None

    out_schema = "geo_x double, geo_y double, " + ", ".join(
        f"b{b} double" for b in bands
    )

    def _rows(arrs: dict[int, np.ndarray], ty: int, tx: int, h: int, w: int) -> pd.DataFrame | None:
        gy0, gx0 = ty * ts, tx * ts
        yy = np.arange(gy0, gy0 + h)
        xx = np.arange(gx0, gx0 + w)
        ym = (yy >= y_off) & (yy < y_off + y_size) & ((yy - y_off) % y_skip == 0)
        xm = (xx >= x_off) & (xx < x_off + x_size) & ((xx - x_off) % x_skip == 0)
        if not ym.any() or not xm.any():
            return None
        ys, xs = yy[ym], xx[xm]
        vals = np.stack([arrs[b][np.ix_(ym, xm)].ravel() for b in bands])  # (nb, n)
        gx_, gy_ = np.meshgrid(xs, ys)
        px = gx_.ravel().astype(np.float64)
        py = gy_.ravel().astype(np.float64)
        if sn is not None and (do_skip or do_replace):
            is_nd = np.ones(vals.shape[1], dtype=bool)
            for i in range(len(bands)):
                is_nd &= vals[i] == sn[min(i, sn.size - 1)]
            if do_skip:
                keep = ~is_nd
                vals = vals[:, keep]
                px, py = px[keep], py[keep]
            elif do_replace:
                for i in range(len(bands)):
                    vals[i] = np.where(is_nd, dn[min(i, dn.size - 1)], vals[i])
        if px.size == 0:
            return None
        cols = {
            "geo_x": g0 + (px + 0.5) * g1 + (py + 0.5) * g2,
            "geo_y": g3 + (px + 0.5) * g4 + (py + 0.5) * g5,
        }
        for i, b in enumerate(bands):
            cols[f"b{b}"] = vals[i]
        return pd.DataFrame(cols)

    def _frame(pdf: pd.DataFrame) -> pd.DataFrame:
        out = [_rows(arrs, ty, tx, *arrs[bands[0]].shape) for ty, tx, arrs in _band_tiles(pdf, bands)]
        out = [df for df in out if df is not None]
        if not out:
            return pd.DataFrame({c.split()[0]: [] for c in out_schema.split(", ")})
        return pd.concat(out, ignore_index=True)

    return _per_tile_key(tiles, bands, _frame, out_schema)
