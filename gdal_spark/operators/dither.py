"""Median-cut palette computation + RGB->PCT dithering.

Reference: GDALComputeMedianCutPCT (/root/reference/alg/
gdalmediancut.cpp — Heckbert 1982 via the libtiff tiffmedian.c
lineage) and GDALDitherRGB2PCT (/root/reference/alg/gdaldither.cpp).

Semantics reproduced:
  - histogram at nBits per channel (default 5, colors >> (8-nBits));
    with nBits=8 and <= nColors distinct colors the palette is the
    distinct colors in row-major first-seen order
    (gdalmediancut.cpp:529-554)
  - median cut: repeatedly split the largest-population box (ties:
    first in the used list; only boxes with extent) along its longest
    axis (RED preferred on ties, then GREEN — :856-864) at the
    cumulative-count median (i == first bumped to first+1, :1065),
    shrink both halves to occupied bounds; palette entry =
    ((min + max) << shift) / 2 per channel (:613-618)
  - dither: Floyd-Steinberg-like integer error diffusion with GDAL's
    exact weights (gdaldither.cpp:590-625): err/6 to down-left and
    down-right, err - 5*(err/6) down, 2*(err/6) carried right
    (C truncating division), values clamped to [0,255] when errors
    apply; nearest palette color by L1 distance, first index wins ties
    (FindNearestColor)

Distributed shape: the histogram is a Catalyst groupBy over exploded
pixels (shuffle of <= 2^(3*nBits) cells); the median-cut loop runs on
the driver over that tiny histogram (<= 32768 rows — same in-memory
contract as the reference). Nearest-color mapping WITHOUT dithering is
per-tile parallel (pct_map_tiles); error-diffusion dithering is
scanline-sequential BY DEFINITION (each pixel depends on its left and
upper neighbors' errors), so dither_tiles processes the raster in one
task — exactly the reference's execution model — and is intended for
per-image use inside a fleet of independent rasters (one task each),
not for one continental mosaic.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec, TILE_SCHEMA, materialize_full


# ---------------------------------------------------------------------------
# median cut


class _Box:
    __slots__ = ("rmin", "rmax", "gmin", "gmax", "bmin", "bmax", "total")

    def __init__(self, rmin, rmax, gmin, gmax, bmin, bmax, total):
        self.rmin, self.rmax = rmin, rmax
        self.gmin, self.gmax = gmin, gmax
        self.bmin, self.bmax = bmin, bmax
        self.total = total


def _shrink(box: _Box, hist: np.ndarray) -> None:
    sub = hist[box.rmin : box.rmax + 1, box.gmin : box.gmax + 1, box.bmin : box.bmax + 1]
    occ = np.nonzero(sub)
    if len(occ[0]) == 0:
        return
    box.rmin, box.rmax = box.rmin + int(occ[0].min()), box.rmin + int(occ[0].max())
    # recompute g/b over the shrunk r range like the reference's
    # per-axis scans (order: r, then g, then b over surviving ranges)
    sub = hist[box.rmin : box.rmax + 1, box.gmin : box.gmax + 1, box.bmin : box.bmax + 1]
    occ = np.nonzero(sub.any(axis=(0, 2)))[0]
    box.gmin, box.gmax = box.gmin + int(occ.min()), box.gmin + int(occ.max())
    sub = hist[box.rmin : box.rmax + 1, box.gmin : box.gmax + 1, box.bmin : box.bmax + 1]
    occ = np.nonzero(sub.any(axis=(0, 1)))[0]
    box.bmin, box.bmax = box.bmin + int(occ.min()), box.bmin + int(occ.max())


def median_cut_boxes(hist: np.ndarray, n_colors: int) -> list[_Box]:
    """The splitting loop over a dense (L, L, L) histogram."""
    box = _Box(0, hist.shape[0] - 1, 0, hist.shape[1] - 1, 0, hist.shape[2] - 1, int(hist.sum()))
    _shrink(box, hist)
    used = [box]
    for _ in range(n_colors - 1):
        # largest-total box that still has extent (largest_box)
        cand = [b for b in used if b.rmax > b.rmin or b.gmax > b.gmin or b.bmax > b.bmin]
        if not cand:
            break
        ptr = max(cand, key=lambda b: b.total)
        # longest axis: RED wins ties over GREEN over BLUE (:856)
        dr, dg, db = ptr.rmax - ptr.rmin, ptr.gmax - ptr.gmin, ptr.bmax - ptr.bmin
        if dr >= dg and dr >= db:
            axis, first, last = 0, ptr.rmin, ptr.rmax
            marg = hist[ptr.rmin : ptr.rmax + 1, ptr.gmin : ptr.gmax + 1, ptr.bmin : ptr.bmax + 1].sum(axis=(1, 2))
        elif dg >= db:
            axis, first, last = 1, ptr.gmin, ptr.gmax
            marg = hist[ptr.rmin : ptr.rmax + 1, ptr.gmin : ptr.gmax + 1, ptr.bmin : ptr.bmax + 1].sum(axis=(0, 2))
        else:
            axis, first, last = 2, ptr.bmin, ptr.bmax
            marg = hist[ptr.rmin : ptr.rmax + 1, ptr.gmin : ptr.gmax + 1, ptr.bmin : ptr.bmax + 1].sum(axis=(0, 1))
        # median: first i with cumsum >= total/2 (loop :1061), min first+1
        half = ptr.total // 2
        csum = np.cumsum(marg)
        # the reference loop exits at the first i with cumsum >= half
        i = first + int(np.searchsorted(csum, half, side="left"))
        if i == first:
            i += 1
        new_cb = _Box(ptr.rmin, ptr.rmax, ptr.gmin, ptr.gmax, ptr.bmin, ptr.bmax, 0)
        lo = i - first
        new_cb.total = int(csum[lo - 1])
        ptr.total = int(csum[-1] - csum[lo - 1])
        if axis == 0:
            new_cb.rmax, ptr.rmin = i - 1, i
        elif axis == 1:
            new_cb.gmax, ptr.gmin = i - 1, i
        else:
            new_cb.bmax, ptr.bmin = i - 1, i
        _shrink(new_cb, hist)
        _shrink(ptr, hist)
        used.insert(0, new_cb)  # new box goes to the list head (:1076)
    return used


def color_histogram(
    rgb_tiles: DataFrame, bits: int = 5, bands: tuple[int, int, int] = (1, 2, 3)
) -> DataFrame:
    """(r, g, b, cnt) at `bits` per channel — a pure Catalyst
    aggregation over exploded tile pixels (the distributed half of
    GDALComputeMedianCutPCT)."""
    shift = 8 - bits

    def _explode(key, pdf):
        chans = dict(zip(pdf["band"].tolist(), tilecodec.decode_batch(pdf)))
        if not all(b in chans for b in bands):
            return pd.DataFrame({"r": pd.array([], dtype="int64"), "g": pd.array([], dtype="int64"), "b": pd.array([], dtype="int64")})
        return pd.DataFrame(
            {
                "r": (chans[bands[0]].astype(np.int64) >> shift).ravel(),
                "g": (chans[bands[1]].astype(np.int64) >> shift).ravel(),
                "b": (chans[bands[2]].astype(np.int64) >> shift).ravel(),
            }
        )

    px = rgb_tiles.groupBy("ty", "tx").applyInPandas(_explode, "r long, g long, b long")
    return px.groupBy("r", "g", "b").agg(F.count(F.lit(1)).alias("cnt"))


def compute_median_cut_pct(
    rgb_tiles: DataFrame,
    n_colors: int,
    bits: int = 5,
    bands: tuple[int, int, int] = (1, 2, 3),
) -> list[tuple[int, int, int]]:
    """Distributed histogram + driver median cut -> [(r, g, b)]."""
    shift = 8 - bits
    levels = 1 << bits
    rows = color_histogram(rgb_tiles, bits, bands).collect()
    if bits == 8:
        # exact-colors early path needs first-seen order, which the
        # groupBy cannot give — only valid when the caller wants the
        # boxes path anyway or uses dither with a full palette; fall
        # through to boxes unless few distinct colors
        if len(rows) <= n_colors:
            # order not observable distributively: sort by (r, g, b)
            # (documented deviation from the reference's scan order)
            return sorted((int(r["r"]), int(r["g"]), int(r["b"])) for r in rows)
    hist = np.zeros((levels, levels, levels), dtype=np.int64)
    for r in rows:
        hist[int(r["r"]), int(r["g"]), int(r["b"])] = int(r["cnt"])
    boxes = median_cut_boxes(hist, n_colors)
    return [
        (
            ((b.rmin + b.rmax) << shift) // 2,
            ((b.gmin + b.gmax) << shift) // 2,
            ((b.bmin + b.bmax) << shift) // 2,
        )
        for b in boxes
    ]


# ---------------------------------------------------------------------------
# dithering


def nearest_color_indices(r: np.ndarray, g: np.ndarray, b: np.ndarray, palette) -> np.ndarray:
    """Vectorized FindNearestColor: L1 distance, first index wins."""
    pal = np.asarray(palette, dtype=np.int64)
    d = (
        np.abs(r[..., None].astype(np.int64) - pal[:, 0])
        + np.abs(g[..., None].astype(np.int64) - pal[:, 1])
        + np.abs(b[..., None].astype(np.int64) - pal[:, 2])
    )
    return np.argmin(d, axis=-1).astype(np.uint8)


def dither_rgb_to_pct(r: np.ndarray, g: np.ndarray, b: np.ndarray, palette) -> np.ndarray:
    """Exact GDALDitherRGB2PCT error-diffusion kernel (scalar replica
    of gdaldither.cpp:373-626, bDither path, no nodata)."""
    pal = np.asarray(palette, dtype=np.int64)
    h, w = r.shape
    out = np.zeros((h, w), dtype=np.uint8)
    rr = r.astype(np.int64).copy()
    gg = g.astype(np.int64).copy()
    bb = b.astype(np.int64).copy()
    pan = np.zeros((w + 2, 3), dtype=np.int64)  # next-line errors, +1 offset
    for y in range(h):
        # apply previous line's error, clamped
        rline = np.clip(rr[y] + pan[1 : w + 1, 0], 0, 255)
        gline = np.clip(gg[y] + pan[1 : w + 1, 1], 0, 255)
        bline = np.clip(bb[y] + pan[1 : w + 1, 2], 0, 255)
        pan[:] = 0
        last = [0, 0, 0]
        for x in range(w):
            rv = int(min(255, max(0, rline[x] + last[0])))
            gv = int(min(255, max(0, gline[x] + last[1])))
            bv = int(min(255, max(0, bline[x] + last[2])))
            idx = int(
                np.argmin(
                    np.abs(rv - pal[:, 0]) + np.abs(gv - pal[:, 1]) + np.abs(bv - pal[:, 2])
                )
            )
            out[y, x] = idx
            for c, v in enumerate((rv, gv, bv)):
                err = v - int(pal[idx, c])
                sixth = int(err / 6)  # C truncation toward zero
                pan[x, c] += sixth  # down-left
                pan[x + 2, c] = sixth  # down-right (SET, :622)
                pan[x + 1, c] += err - 5 * sixth  # down
                last[c] = 2 * sixth  # carried right
        # errors fall off both ends like the reference's +2 slack
    return out


def pct_map_tiles(
    rgb_tiles: DataFrame,
    palette,
    bands: tuple[int, int, int] = (1, 2, 3),
) -> DataFrame:
    """Per-tile parallel nearest-color mapping (the bDither=FALSE path
    of GDALDitherRGB2PCT) -> single-band uint8 index tiles."""

    def _map(key, pdf):
        ty, tx = int(key[0]), int(key[1])
        chans = dict(zip(pdf["band"].tolist(), tilecodec.decode_batch(pdf)))
        r, g, b = (chans[x] for x in bands)
        return pd.DataFrame([tilecodec.tile_row(1, ty, tx, nearest_color_indices(r, g, b, palette))])

    return rgb_tiles.groupBy("ty", "tx").applyInPandas(_map, TILE_SCHEMA)


def dither_tiles(
    rgb_tiles: DataFrame,
    spec: RasterSpec,
    palette,
    bands: tuple[int, int, int] = (1, 2, 3),
) -> DataFrame:
    """Full-raster error-diffusion dither: one task assembles the
    image and runs the exact sequential kernel (dithering is
    scanline-sequential by definition — see module docstring)."""
    spark = rgb_tiles.sparkSession
    r = materialize_full(rgb_tiles, spec, band=bands[0])
    g = materialize_full(rgb_tiles, spec, band=bands[1])
    b = materialize_full(rgb_tiles, spec, band=bands[2])
    idx = dither_rgb_to_pct(r.astype(np.int64), g.astype(np.int64), b.astype(np.int64), palette)
    return spark.createDataFrame(pd.DataFrame(tilecodec.cut(idx, spec.tile_size, 1)), TILE_SCHEMA)


def pct2rgb(
    tiles: DataFrame,
    spec: RasterSpec,
    table: list[tuple[int, ...]],
    out_bands: int = 3,
    band: int = 1,
) -> DataFrame:
    """pct2rgb (osgeo_utils/pct2rgb.py:70-126): expand a paletted band
    through its color table into 3 (RGB) or 4 (RGBA) bands with
    np.take — lookup defaults are the identity ramp with alpha 255
    (:78-84), overridden by the table entries (:86-90).

    One Arrow map pass per tile, no shuffle; the (<=256-entry) table
    rides the closure. The inverse of rgb2pct (compute_median_cut_pct
    + dither_tiles)."""
    if out_bands not in (3, 4):
        raise ValueError("out_bands must be 3 or 4")
    ct_size = max(256, len(table))
    lookup = [np.arange(ct_size, dtype=np.int64) for _ in range(3)]
    lookup.append(np.full(ct_size, 255, dtype=np.int64))
    for i, entry in enumerate(table):
        for c in range(len(entry)):
            lookup[c][i] = int(entry[c])
        if len(entry) < 4:
            lookup[3][i] = 255

    def _expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if int(r.band) != band:
                    continue
                idx = tilecodec.decode_row(r).astype(np.int64)
                for b in range(out_bands):
                    rows.append(tilecodec.tile_row(b + 1, int(r.ty), int(r.tx), np.take(lookup[b], idx), "uint8"))
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(_expand, TILE_SCHEMA)
