"""gdal_translate as a distributed tile operator: subwindow crop
(-srcwin), size change (-outsize) with the overview resampling rules,
band selection, linear rescale (-scale) and dtype cast (-ot).

Reference semantics (file:line in /root/reference):
  * nearest index: nSrc = int(0.5 + iDst * ratio), clamped into the
    window (gcore/overview.cpp:126,138 — gdal_translate -outsize goes
    through RasterIOResampled / overview kernels,
    apps/gdal_translate_lib.cpp:1259 via VRT + rasterio.cpp:1036)
  * average: integer accumulation over the window
    [int(0.5+i*r), int(0.5+(i+1)*r)), rounded (sum + n/2) / n
    (overview.cpp AverageOrRMS integer path)
  * -scale THEN cast, GDALCopyWord round+clamp
    (apps/gdal_translate_lib.cpp:676; gcore GDALCopyWord)

Distributed shape: each SOURCE tile computes which destination tiles
it feeds (the inverse index map), ships only the needed sub-rows/cols
to each, and one groupBy per dst tile assembles + resamples. This is
the same source-window join as the warp/tile operator
(gdalwarpoperation.cpp:3037 ComputeSourceWindow), specialized to the
axis-aligned integer mapping."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec, TILE_SCHEMA, copy_word

PIECE_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("dty", IntegerType()),
        StructField("dtx", IntegerType()),
        StructField("sy0", IntegerType()),  # src coords of the piece
        StructField("sx0", IntegerType()),
        StructField("h", IntegerType()),
        StructField("w", IntegerType()),
        StructField("dtype", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def dst_spec_for(src_spec: RasterSpec, srcwin, outsize, out_dtype=None, tile_size=None) -> RasterSpec:
    xoff, yoff, xsize, ysize = srcwin
    outw, outh = outsize
    g0, g1, g2, g3, g4, g5 = src_spec.gt
    return RasterSpec(
        width=outw,
        height=outh,
        gt=(
            g0 + xoff * g1, g1 * xsize / outw, 0.0,
            g3 + yoff * g5, 0.0, g5 * ysize / outh,
        ),
        dtype=out_dtype or src_spec.dtype,
        nbands=src_spec.nbands,
        tile_size=tile_size or src_spec.tile_size,
    )


def _near_map(i: np.ndarray, ratio: float, off: int, size: int) -> np.ndarray:
    """overview.cpp:126: int(0.5 + i*ratio), clamped into the window."""
    return off + np.minimum((0.5 + i * ratio).astype(np.int64), size - 1)


def translate(
    tiles: DataFrame,
    src_spec: RasterSpec,
    srcwin: tuple[int, int, int, int] | None = None,
    outsize: tuple[int, int] | None = None,
    resampling: str = "near",
    bands: list[int] | None = None,
    scale: tuple[float, float] | None = None,  # (mult, add): v*mult + add
    out_dtype: str | None = None,
    dst_tile_size: int | None = None,
    src_nodata: float | None = None,
    excluded_values=None,
    excluded_values_pct_threshold: float = 50.0,
    nodata_values_pct_threshold: float = 100.0,
) -> tuple[DataFrame, RasterSpec]:
    """Returns (dst tile table, dst RasterSpec).

    Beyond near/average, any warp area resampler
    (min/max/mode/med/q1/q3/rms, operators/tiles.py AREA_KERNELS) runs
    over the same integer windows; src_nodata applies the
    GWKAverageOrMode per-sample validity skip, and
    excluded_values(+thresholds) the EXCLUDED_VALUES family for
    average (single-band tuples here). Invalid dst pixels get 0
    (INIT_DEST=0)."""
    xoff, yoff, xsize, ysize = srcwin or (0, 0, src_spec.width, src_spec.height)
    outw, outh = outsize or (xsize, ysize)
    dspec = dst_spec_for(src_spec, (xoff, yoff, xsize, ysize), (outw, outh), out_dtype, dst_tile_size)
    rx, ry = xsize / outw, ysize / outh
    sts, dts = src_spec.tile_size, dspec.tile_size
    ntx = dspec.ntiles_x

    if bands:
        tiles = tiles.filter(F.col("band").isin(bands))

    def _pieces(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                t = tilecodec.decode_row(r)
                # src tile's global pixel range
                sy, sx = r.ty * sts, r.tx * sts
                # dst index ranges whose (window incl. average span)
                # touches this tile: conservative inverse map +-1
                dy0 = max(int((sy - yoff) / ry) - 1, 0)
                dy1 = min(int((sy + r.h - yoff) / ry) + 1, outh - 1)
                dx0 = max(int((sx - xoff) / rx) - 1, 0)
                dx1 = min(int((sx + r.w - xoff) / rx) + 1, outw - 1)
                if dy1 < dy0 or dx1 < dx0:
                    continue
                for dty in range(dy0 // dts, dy1 // dts + 1):
                    for dtx in range(dx0 // dts, dx1 // dts + 1):
                        # exact src window needed by this dst tile
                        di = np.arange(dty * dts, min((dty + 1) * dts, outh))
                        dj = np.arange(dtx * dts, min((dtx + 1) * dts, outw))
                        if resampling == "near":
                            sy_need0 = int(_near_map(di[:1], ry, yoff, ysize)[0])
                            sy_need1 = int(_near_map(di[-1:], ry, yoff, ysize)[0])
                            sx_need0 = int(_near_map(dj[:1], rx, xoff, xsize)[0])
                            sx_need1 = int(_near_map(dj[-1:], rx, xoff, xsize)[0])
                        else:  # average windows
                            sy_need0 = yoff + min(int(0.5 + di[0] * ry), ysize - 1)
                            sy_need1 = yoff + min(int(0.5 + (di[-1] + 1) * ry), ysize) - 1
                            sx_need0 = xoff + min(int(0.5 + dj[0] * rx), xsize - 1)
                            sx_need1 = xoff + min(int(0.5 + (dj[-1] + 1) * rx), xsize) - 1
                        a0, a1 = max(sy_need0, sy), min(sy_need1, sy + r.h - 1)
                        b0, b1 = max(sx_need0, sx), min(sx_need1, sx + r.w - 1)
                        if a1 < a0 or b1 < b0:
                            continue
                        piece = t[a0 - sy : a1 - sy + 1, b0 - sx : b1 - sx + 1]
                        rows.append(
                            {"band": r.band, "dty": dty, "dtx": dtx,
                             "sy0": a0, "sx0": b0, "h": piece.shape[0], "w": piece.shape[1],
                             "dtype": r.dtype, "payload": tilecodec.encode(piece)}
                        )
            yield pd.DataFrame(rows, columns=[f.name for f in PIECE_SCHEMA.fields])

    pieces = tiles.mapInPandas(_pieces, PIECE_SCHEMA)

    def _assemble(key, pdf):
        band, dty, dtx = int(key[0]), int(key[1]), int(key[2])
        h, w = dspec.tile_shape(dty, dtx)
        di = np.arange(dty * dts, dty * dts + h)
        dj = np.arange(dtx * dts, dtx * dts + w)
        # src window bounds of everything received
        sy0 = int(pdf["sy0"].min())
        sx0 = int(pdf["sx0"].min())
        sy1 = int((pdf["sy0"] + pdf["h"]).max())
        sx1 = int((pdf["sx0"] + pdf["w"]).max())
        win = np.zeros((sy1 - sy0, sx1 - sx0), dtype=np.float64)
        tilecodec.paste(win, pdf, pdf["sy0"].to_numpy() - sy0, pdf["sx0"].to_numpy() - sx0)
        if resampling == "near":
            yi = _near_map(di, ry, yoff, ysize) - sy0
            xi = _near_map(dj, rx, xoff, xsize) - sx0
            out = win[yi][:, xi]
        else:  # area-window resamplers over [int(0.5+i*r), int(0.5+(i+1)*r))
            ys0 = np.minimum((0.5 + di * ry).astype(np.int64), ysize - 1) + yoff - sy0
            ys1 = np.maximum(np.minimum((0.5 + (di + 1) * ry).astype(np.int64), ysize) + yoff - sy0, ys0 + 1)
            xs0 = np.minimum((0.5 + dj * rx).astype(np.int64), xsize - 1) + xoff - sx0
            xs1 = np.maximum(np.minimum((0.5 + (dj + 1) * rx).astype(np.int64), xsize) + xoff - sx0, xs0 + 1)
            plain_average = (
                resampling == "average"
                and src_nodata is None
                and excluded_values is None
                and nodata_values_pct_threshold >= 100.0
            )
            if plain_average:
                # integer rounding (sum + n/2)/n on int dtypes
                out = np.empty((h, w), dtype=np.float64)
                c = np.cumsum(np.cumsum(np.pad(win, ((1, 0), (1, 0))), axis=0), axis=1)
                for ii in range(h):
                    s = (
                        c[ys1[ii], xs1] - c[ys0[ii], xs1] - c[ys1[ii], xs0] + c[ys0[ii], xs0]
                    )
                    n = (ys1[ii] - ys0[ii]) * (xs1 - xs0)
                    if np.issubdtype(np.dtype(dspec.dtype), np.integer):
                        out[ii] = (s + n // 2) // n
                    else:
                        out[ii] = s / n
            else:
                # warp area kernels over the same integer windows
                from gdal_spark.operators.tiles import (
                    AREA_KERNELS,
                    _WINDOW_STATS,
                    parse_excluded_values,
                    warp_average_excluded,
                )

                sxa_, sya_ = np.meshgrid(xs0.astype(np.float64), ys0.astype(np.float64))
                sxb_, syb_ = np.meshgrid(xs1.astype(np.float64), ys1.astype(np.float64))
                vmask = (win != src_nodata) if src_nodata is not None else None
                if resampling == "average":
                    excl = parse_excluded_values(excluded_values, 1)
                    outs, dvalid = warp_average_excluded(
                        [win], vmask, excl or [], sxa_, sya_, sxb_, syb_,
                        excl_pct=excluded_values_pct_threshold / 100.0,
                        nodata_pct=nodata_values_pct_threshold / 100.0,
                    )
                    out = np.where(dvalid, outs[0], 0.0)
                elif resampling in _WINDOW_STATS:
                    vals, okm = AREA_KERNELS[resampling](
                        win, sxa_, sya_, sxb_, syb_, vmask=vmask
                    )
                    out = np.where(okm, vals, 0.0)
                else:
                    raise ValueError(f"unsupported translate resampling {resampling!r}")
        if scale:
            out = out * scale[0] + scale[1]
        return pd.DataFrame([tilecodec.tile_row(band, dty, dtx, copy_word(out, dspec.dtype))])

    return pieces.groupBy("band", "dty", "dtx").applyInPandas(_assemble, TILE_SCHEMA), dspec


def color_relief(
    tiles: DataFrame,
    spec: RasterSpec,
    ramp: list[tuple],
    mode: str = "interpolate",
    band: int = 1,
) -> DataFrame:
    """gdaldem color-relief (apps/gdaldem_lib.cpp:1538
    GDALColorReliefGetRGBA): value -> RGBA through a color ramp.

    ramp: [(value, r, g, b[, a])] sorted ascending. Modes:
      interpolate  linear between bracketing entries, channel =
                   clamp(int(0.5 + before + ratio*(after-before)))
      nearest      the closer entry (ties -> upper: the reference's
                   strict `<` comparison)
      exact        entry colors only; non-matching values -> 0,0,0,0
    Values below/above the ramp clamp to the first/last entry
    (interpolate + nearest). Output: 4 band rows (r,g,b,a uint8) per
    input tile — the same tile keys, pure per-tile numpy.
    """
    import numpy as _np
    import pandas as _pd

    vals = _np.array([float(e[0]) for e in ramp])
    cols = _np.array(
        [[int(e[1]), int(e[2]), int(e[3]), int(e[4]) if len(e) > 4 else 255] for e in ramp],
        dtype=_np.int64,
    )

    def _map(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.band != band:
                    continue
                v = tilecodec.decode_row(r).astype(_np.float64)
                # i = first ramp index with vals[i] >= v  (reference
                # bisection post-condition)
                i = _np.searchsorted(vals, v, side="left")
                below = i == 0
                above = i == len(vals)
                mid = ~below & ~above
                out = _np.zeros((4, r.h, r.w), dtype=_np.int64)
                if mode == "exact":
                    hit = _np.zeros(v.shape, dtype=bool)
                    ii = _np.clip(i, 0, len(vals) - 1)
                    hit |= vals[ii] == v
                    il = _np.clip(i - 1, 0, len(vals) - 1)
                    hit_lower = (vals[il] == v) & ~hit
                    for c in range(4):
                        out[c] = _np.where(hit, cols[ii, c], 0)
                        out[c] = _np.where(hit_lower, cols[il, c], out[c])
                else:
                    lo = _np.clip(i - 1, 0, len(vals) - 1)
                    hi = _np.clip(i, 0, len(vals) - 1)
                    exact_lo = mid & (vals[lo] == v)
                    exact_hi = mid & (vals[hi] == v)
                    if mode == "nearest":
                        take_lo = (v - vals[lo]) < (vals[hi] - v)
                        idx = _np.where(take_lo, lo, hi)
                        idx = _np.where(below, 0, _np.where(above, len(vals) - 1, idx))
                        for c in range(4):
                            out[c] = cols[idx, c]
                    else:  # interpolate
                        with _np.errstate(invalid="ignore", divide="ignore"):
                            ratio = _np.where(
                                mid, (v - vals[lo]) / _np.where(vals[hi] == vals[lo], 1, vals[hi] - vals[lo]), 0.0
                            )
                        for c in range(4):
                            interp = _np.clip(
                                (0.5 + cols[lo, c] + ratio * (cols[hi, c] - cols[lo, c])).astype(_np.int64),
                                0, 255,
                            )
                            ch = _np.where(below, cols[0, c], _np.where(above, cols[-1, c], interp))
                            ch = _np.where(exact_lo, cols[lo, c], _np.where(exact_hi, cols[hi, c], ch))
                            out[c] = ch
                rows += [tilecodec.tile_row(c + 1, r.ty, r.tx, out[c], "uint8") for c in range(4)]
            yield _pd.DataFrame(rows, columns=["band", "ty", "tx", "h", "w", "dtype", "payload"])

    return tiles.mapInPandas(_map, TILE_SCHEMA)


def unscale(
    tiles: DataFrame,
    spec: RasterSpec,
    band_scale: float = 1.0,
    band_offset: float = 0.0,
    out_dtype: str = "float32",
) -> tuple[DataFrame, RasterSpec]:
    """`gdal raster unscale` (gdalalg_raster_unscale.cpp -> gdal
    translate -unscale, gdal_translate_lib.cpp:611): convert values to
    their unscaled form v*scale + offset using the band's scale/offset
    metadata, then GDALCopyWord into the working type (Float32 by
    default like the translate -unscale path for non-complex bands).
    Pure composition over translate(scale=...) — one Arrow pass,
    shuffle-free."""
    return translate(tiles, spec, scale=(band_scale, band_offset), out_dtype=out_dtype)


def nodata_to_alpha(
    tiles: DataFrame,
    spec: RasterSpec,
    nodata: float | list[float],
) -> DataFrame:
    """`gdal raster nodata-to-alpha`
    (apps/gdalalg_raster_nodata_to_alpha.cpp): append an alpha band
    derived from the nodata mask — 255 where valid, 0 where nodata —
    and treat the data bands as alpha-carried from then on (the
    -a_nodata none + -b mask + -colorinterp alpha translate chain).
    Multi-band nodata follows GDALNoDataValuesMaskBand: a pixel is
    transparent only when EVERY band equals its nodata value.

    Distributed shape: one groupBy (ty, tx) co-shuffles each tile
    key's band payloads to build the alpha tile (O(raster bytes), the
    minimum possible — the mask is a cross-band function); the data
    bands pass through untouched."""
    nod = [float(v) for v in (nodata if isinstance(nodata, (list, tuple)) else [nodata])]
    nb = spec.nbands
    if len(nod) == 1 and nb > 1:
        nod = nod * nb
    if len(nod) != nb:
        raise ValueError(f"need {nb} nodata values, got {len(nod)}")
    alpha_band = nb + 1

    def _alpha(key, pdf):
        tyy, txx = int(key[0]), int(key[1])
        m = None
        for b, t in zip(pdf["band"].tolist(), tilecodec.decode_batch(pdf)):
            this = t == np.asarray(nod[b - 1], dtype=t.dtype)
            m = this if m is None else (m & this)
        return pd.DataFrame([tilecodec.tile_row(alpha_band, tyy, txx, np.where(m, 0, 255), "uint8")])

    alpha_tiles = tiles.groupBy("ty", "tx").applyInPandas(_alpha, TILE_SCHEMA)
    return tiles.unionByName(alpha_tiles)


def select_bands(tiles: DataFrame, spec: RasterSpec, bands: list[int]) -> tuple[DataFrame, RasterSpec]:
    """`gdal raster select` (apps/gdalalg_raster_select.cpp): subset,
    REORDER and/or DUPLICATE bands — output band i+1 is input
    bands[i]. Pure Catalyst: one broadcast join against the (src, dst)
    band map (a duplicated source band fans out to several dst rows
    sharing one payload; no pixel bytes are copied)."""
    import dataclasses

    for b in bands:
        if not 1 <= b <= spec.nbands:
            raise ValueError(f"band {b} out of range 1..{spec.nbands}")
    spark = tiles.sparkSession
    mapping = spark.createDataFrame(
        [(b, i + 1) for i, b in enumerate(bands)], "band int, _dst int")
    out = (
        tiles.join(F.broadcast(mapping), "band")
        .drop("band")
        .withColumnRenamed("_dst", "band")
        .select("band", "ty", "tx", "h", "w", "dtype", "payload")
    )
    return out, dataclasses.replace(spec, nbands=len(bands))


def resize(tiles: DataFrame, spec: RasterSpec, width: int, height: int,
           resampling: str = "near") -> tuple[DataFrame, RasterSpec]:
    """`gdal raster resize` (apps/gdalalg_raster_resize.cpp): change
    the pixel size, keep the georeferenced extent — exactly translate
    with a full-raster srcwin and outsize (same composition the
    reference uses: GDALTranslate -outsize)."""
    return translate(tiles, spec, outsize=(width, height), resampling=resampling)
