"""FillNodata (GDALFillNodata, alg/rasterfill.cpp): interpolate nodata
areas from the nearest valid pixel in each of four quadrants.

Reference algorithm reproduced exactly (file:line in /root/reference):
  1. top-down pass: per column, the most recent valid row index+value,
     invalidated once further than max_search_dist above
     (rasterfill.cpp:660-690 `iY <= dfMaxSearchDist + panLastY[iX]`)
  2. bottom-up pass: same from below (:700-760)
  3. per nodata pixel, step columns outward 0..max_search_dist and
     keep the strictly-nearest candidate per quadrant TL/BL/TR/BR
     (QUAD_CHECK :326-345; left steps include the pixel's own column,
     right steps start at 1, :812-845)
  4. value = inverse-distance blend over quadrants with
     dist <= max_search_dist (:884-906), or the nearest quadrant value
     with NODATA_NEAREST (:853-880)
  5. optional 3x3 smoothing passes applied only to interpolated
     pixels, averaging over valid neighbors (GDALFilterLine :38-124)

Distributed shape: the same single-shuffle halo exchange as the focal
operators — each tile receives max_search_dist(+smoothing) wide strips
from its 8 neighbors, fills its interior, and emits only the interior.
Out-of-raster halo stays invalid (unlike the focal edge-replication
rule: fill must not invent data beyond the raster). Requires
halo <= tile_size (one-ring exchange), i.e. max_search_dist +
smoothing_iterations <= spec.tile_size.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from gdal_spark.operators import tilecodec
from gdal_spark.operators.focal import TILE_F64_SCHEMA, _halo_explode, halo_window
from gdal_spark.operators.raster import RasterSpec


def _column_scan(mask: np.ndarray, data: np.ndarray, maxdist: float, top_down: bool):
    """Per-column most-recent-valid (row index, value) arrays for every
    row, with the reference's distance invalidation."""
    h, w = mask.shape
    ys = np.full((h, w), -1, dtype=np.int64)
    vals = np.zeros((h, w))
    last_y = np.full(w, -(10 ** 9), dtype=np.int64)
    last_v = np.zeros(w)
    rows = range(h) if top_down else range(h - 1, -1, -1)
    for y in rows:
        m = mask[y]
        last_y = np.where(m, y, last_y)
        last_v = np.where(m, data[y], last_v)
        dist = (y - last_y) if top_down else (last_y - y)
        ok = dist <= maxdist
        ys[y] = np.where(ok, last_y, -1)
        vals[y] = np.where(ok, last_v, 0.0)
    return ys, vals


def fill_nodata_array(
    data: np.ndarray,
    mask: np.ndarray,
    max_search_dist: float = 100.0,
    nearest: bool = False,
    smoothing_iterations: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Whole-array GDALFillNodata. mask True = valid. Returns
    (filled float64 array, final validity mask)."""
    data = np.asarray(data, dtype=np.float64)
    mask = np.asarray(mask, dtype=bool)
    h, w = data.shape
    td_y, td_v = _column_scan(mask, data, max_search_dist, top_down=True)
    bu_y, bu_v = _column_scan(mask, data, max_search_dist, top_down=False)

    out = data.copy()
    filled = np.zeros((h, w), dtype=bool)
    nsteps = int(math.floor(max_search_dist))
    xs = np.arange(w)
    big = max_search_dist + 1.0
    for y in range(h):
        todo = ~mask[y]
        if not todo.any():
            continue
        qd = np.full((4, w), big)  # TL, BL, TR, BR
        qv = np.zeros((4, w))
        for step in range(nsteps + 1):
            lx = np.maximum(0, xs - step)
            rx = np.minimum(w - 1, xs + step)
            for qi, (cx, cy, cv) in enumerate(
                (
                    (lx, td_y[y], td_v[y]),
                    (lx, bu_y[y], bu_v[y]),
                    (rx, td_y[y], td_v[y]),
                    (rx, bu_y[y], bu_v[y]),
                )
            ):
                if qi >= 2 and step == 0:  # right quads skip the center column
                    continue
                cand_y = cy[cx]
                cand_v = cv[cx]
                d2 = (cx - xs).astype(np.float64) ** 2 + (cand_y - y).astype(np.float64) ** 2
                better = (cand_y >= 0) & (d2 < qd[qi] * qd[qi])
                qd[qi] = np.where(better, np.sqrt(d2), qd[qi])
                qv[qi] = np.where(better, cand_v, qv[qi])
        inrange = qd <= max_search_dist
        if nearest:
            best = np.argmin(qd, axis=0)
            bd = qd[best, xs]
            val = qv[best, xs]
            ok = bd <= max_search_dist
        else:
            with np.errstate(divide="ignore"):
                wgt = np.where(inrange, 1.0 / qd, 0.0)
            wsum = wgt.sum(axis=0)
            ok = wsum > 0.0
            with np.errstate(invalid="ignore"):
                val = (qv * wgt).sum(axis=0) / np.where(ok, wsum, 1.0)
        sel = todo & ok
        out[y][sel] = val[sel]
        filled[y] |= sel

    valid = mask | filled
    # 3x3 smoothing over interpolated pixels only (GDALFilterLine)
    for _ in range(int(smoothing_iterations)):
        vz = np.where(valid, out, 0.0)
        vm = valid.astype(np.float64)
        ksum = _box3(vz)
        kcnt = _box3(vm)
        with np.errstate(invalid="ignore", divide="ignore"):
            avg = np.where(kcnt > 0, ksum / np.where(kcnt == 0, 1, kcnt), 0.0)
        out = np.where(filled & (kcnt > 0), avg, out)
    return out, valid


def _box3(a: np.ndarray) -> np.ndarray:
    p = np.pad(a, 1)
    return (
        p[:-2, :-2] + p[:-2, 1:-1] + p[:-2, 2:]
        + p[1:-1, :-2] + p[1:-1, 1:-1] + p[1:-1, 2:]
        + p[2:, :-2] + p[2:, 1:-1] + p[2:, 2:]
    )


def fill_nodata(
    tiles: DataFrame,
    spec: RasterSpec,
    nodata: float,
    max_search_dist: float = 100.0,
    nearest: bool = False,
    smoothing_iterations: int = 0,
) -> DataFrame:
    """Distributed FillNodata over a tile table (band, ty, tx, h, w,
    dtype, payload). Valid = value != nodata. One halo shuffle; each
    task fills its tile interior exactly as the whole-array kernel
    (the halo radius covers the full search + smoothing reach)."""
    halo = int(math.ceil(max_search_dist)) + int(smoothing_iterations)
    if halo > spec.tile_size:
        raise ValueError(
            f"max_search_dist+smoothing ({halo}) exceeds tile_size "
            f"({spec.tile_size}); one-ring halo exchange cannot cover it"
        )
    exploded = _halo_explode(tiles, halo)
    # NaN nodata is a first-class convention: validity uses isnan then
    # (NaN != NaN would otherwise mark every pixel valid silently)

    def _assemble(key, pdf):
        band, tyy, txx = int(key[0]), int(key[1]), int(key[2])
        asm = halo_window(pdf, halo, spec, tyy, txx, nodata)
        if asm is None:
            return pd.DataFrame(
                {
                    "band": pd.array([], dtype="int32"), "ty": pd.array([], dtype="int32"),
                    "tx": pd.array([], dtype="int32"), "h": pd.array([], dtype="int32"),
                    "w": pd.array([], dtype="int32"), "dtype": pd.array([], dtype=object),
                    "payload": pd.array([], dtype=object),
                }
            )
        # out-of-raster cells keep the nodata pad (this operator's edge rule)
        padded, h, w = asm
        vmask = ~np.isnan(padded) if math.isnan(nodata) else (padded != nodata)
        filled, _ = fill_nodata_array(
            padded, vmask, max_search_dist, nearest, smoothing_iterations
        )
        return pd.DataFrame([tilecodec.tile_row(band, tyy, txx, filled[halo : halo + h, halo : halo + w])])

    return exploded.groupBy("band", "ty", "tx").applyInPandas(_assemble, TILE_F64_SCHEMA)
