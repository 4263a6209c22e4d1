"""Proximity raster (alg/gdalproximity.cpp GDALComputeProximity):
per-pixel euclidean distance to the nearest TARGET pixel (targets =
pixels whose value is in target_values; default any non-zero).

The reference runs scanline passes over the whole raster in one
process. The distributed design exploits that the exact euclidean
distance transform is SEPARABLE (Felzenszwalb-Huttenlocher): a 1D
squared-distance transform along every row, then a 1D transform along
every column of the row-pass result, yields the exact 2D EDT.

Each 1D pass needs whole lines — which in a tile table is just a
shuffle key choice:

  phase A: groupBy(ty)  -> assemble full-width row strips (ts x W),
           run the 1D transform along x;
  phase B: groupBy(tx)  -> assemble full-height column strips
           (H x ts) of phase-A output, run the 1D transform along y;
           re-emit tiles.

Two shuffles, zero iteration, exact. Strip memory is
tile_size x max(W, H) x 8B per task (8 MB at 4096^2); for rasters
whose full line exceeds a task, lines split into segments whose
parabola lower-envelopes merge associatively (future work, noted).

Options follow the reference: DISTUNITS=PIXEL output, MAXDIST ->
NODATA replacement (gdalproximity.cpp options).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec, TILE_SCHEMA, copy_word

_INF = 1e30


def _edt_1d(f: np.ndarray) -> np.ndarray:
    """Felzenszwalb-Huttenlocher 1D squared distance transform applied
    to every row of f (vectorized per row loop; O(n) per row)."""
    n = f.shape[-1]
    out = np.empty_like(f)
    for row in range(f.shape[0]):
        d = f[row]
        v = np.zeros(n, dtype=np.int64)
        z = np.empty(n + 1)
        k = 0
        started = d[0] < _INF
        first = 0
        if not started:
            # find first finite parabola
            fin = np.flatnonzero(d < _INF)
            if fin.size == 0:
                out[row] = _INF
                continue
            first = int(fin[0])
        v[0] = first
        z[0] = -_INF
        z[1] = _INF
        for q in range(first + 1, n):
            if d[q] >= _INF:
                continue
            while True:
                p = v[k]
                s = ((d[q] + q * q) - (d[p] + p * p)) / (2.0 * q - 2.0 * p)
                if s <= z[k]:
                    k -= 1
                    if k < 0:
                        k = 0
                        v[0] = q
                        z[0] = -_INF
                        z[1] = _INF
                        break
                else:
                    k += 1
                    v[k] = q
                    z[k] = s
                    z[k + 1] = _INF
                    break
        k2 = 0
        for q in range(n):
            while z[k2 + 1] < q:
                k2 += 1
            p = v[k2]
            out[row, q] = (q - p) * (q - p) + d[p]
    return out


def edt2(seed: np.ndarray) -> np.ndarray:
    """Exact 2D squared EDT (rows pass then columns pass)."""
    a = _edt_1d(seed)
    return np.ascontiguousarray(_edt_1d(np.ascontiguousarray(a.T)).T)


def proximity(
    tiles: DataFrame,
    spec: RasterSpec,
    target_values: list[float] | None = None,
    maxdist: float | None = None,
    nodata: float = 65535.0,
    band: int = 1,
    out_dtype: str = "float64",
    squared: bool = False,
    distunits: str = "PIXEL",
    fixed_buf_val: float | None = None,
    use_input_nodata: bool = False,
    src_nodata: float | None = None,
) -> DataFrame:
    """Distance in pixels to the nearest target. Returns a tile table.
    squared=True emits exact integer-valued squared distances (useful
    for bit-exact cross-engine checks; maxdist still compares the
    euclidean distance).

    The full GDALComputeProximity option set
    (alg/gdalproximity.cpp:64-92,355-393):
      distunits="GEO"   distances (and the MAXDIST threshold) in
                        georeferenced units — multiplier |gt[1]|
                        (:110-127; the reference only warns on
                        non-square pixels and still uses |gt1|)
      fixed_buf_val     every pixel with 0 < dist <= maxdist gets this
                        value instead of its distance; target pixels
                        stay 0 (:385-391 — the >0 guard)
      use_input_nodata  src pixels equal to src_nodata emit the OUTPUT
                        nodata (:168; they still conduct distances —
                        the reference gates only the write-back)"""
    if distunits not in ("PIXEL", "GEO"):
        raise ValueError("DISTUNITS must be PIXEL or GEO (gdalproximity.cpp:131)")
    if distunits == "GEO" and squared:
        raise ValueError("squared distances are a pixel-space debugging aid; no GEO form")
    if use_input_nodata and src_nodata is None:
        raise ValueError("use_input_nodata requires src_nodata")
    distmult = abs(spec.gt[1]) if distunits == "GEO" else 1.0
    # the reference converts MAXDIST into pixel units before the scan
    # (gdalproximity.cpp:144)
    pix_maxdist = None if maxdist is None else maxdist / distmult
    ts = spec.tile_size
    W, H = spec.width, spec.height
    tv = target_values

    # absent-tile-is-init convention: when the INIT value itself is a
    # target, absent sparse tiles are all-target blocks (distance 0
    # conducting outward) — seed them explicitly, since a fully absent
    # row strip never even forms a groupBy key; when init is not a
    # target the _INF strip base below already models absence exactly
    init_val = float(spec.init or 0.0)
    init_is_target = (
        any(init_val == float(v) for v in tv) if tv is not None else init_val != 0
    )
    if init_is_target:
        from gdal_spark.operators.raster import densify

        tiles = densify(tiles, spec, bands=[band])

    # phase A: row strips
    def _xpass(key, pdf):
        tyy = int(key[0])
        sh = min(ts, H - tyy * ts)
        strip = np.full((sh, W), _INF)
        for r in pdf.itertuples(index=False):
            if r.band != band:
                continue
            t = tilecodec.decode_row(r)
            is_target = np.isin(t, tv) if tv is not None else (t != 0)
            strip[:, r.tx * ts : r.tx * ts + r.w] = np.where(is_target, 0.0, _INF)
        return pd.DataFrame(tilecodec.cut(_edt_1d(strip), ts, 1, tyy, 0))

    rowpass = tiles.groupBy("ty").applyInPandas(_xpass, TILE_SCHEMA)
    ypass_in = rowpass
    if use_input_nodata:
        # ship the src band alongside the row-pass strips (band -2
        # marker) so the column task can mask nodata pixels in place —
        # same (tx) exchange, no extra shuffle
        src_rows = tiles.filter(F.col("band") == band).withColumn("band", F.lit(-2))
        ypass_in = rowpass.unionByName(src_rows.select([f.name for f in TILE_SCHEMA.fields]))

    # phase B: column strips of the row-pass result
    def _ypass(key, pdf):
        txx = int(key[0])
        sw = min(ts, W - txx * ts)
        strip = np.full((H, sw), _INF)
        # absent sparse tiles act init-valued (repo-wide convention)
        src_strip = (
            np.full((H, sw), float(spec.init or 0.0)) if use_input_nodata else None
        )
        src = (pdf["band"] == -2).to_numpy()
        oy = pdf["ty"].to_numpy() * ts
        zero = np.zeros(len(pdf), dtype=np.int64)
        tilecodec.paste(strip, pdf[~src], oy[~src], zero)
        if use_input_nodata:
            tilecodec.paste(src_strip, pdf[src], oy[src], zero)
        d2 = _edt_1d(np.ascontiguousarray(strip.T)).T
        d = np.sqrt(np.where(d2 >= _INF, np.inf, d2))
        if pix_maxdist is not None:
            d = np.where(d > pix_maxdist, nodata, d)
        if squared:
            d = np.where(np.isinf(d) | (d == nodata), nodata, np.where(d2 >= _INF, nodata, d2))
        d = np.where(np.isinf(d), nodata, d)
        inrange = (d != nodata) & (d > 0)
        if fixed_buf_val is not None:
            d = np.where(inrange, fixed_buf_val, d)
        elif distmult != 1.0:
            d = np.where(inrange, d * distmult, d)
        if use_input_nodata:
            d = np.where(src_strip == src_nodata, nodata, d)
        return pd.DataFrame(tilecodec.cut(copy_word(d, out_dtype), ts, 1, 0, txx))

    return ypass_in.groupBy("tx").applyInPandas(_ypass, TILE_SCHEMA)
