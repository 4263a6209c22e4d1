"""Weighted-Brovey pansharpening (alg/gdalpansharpen.cpp:521-560).

Per pan pixel: upsample every spectral band to the pan grid (warp
point-kernel at pan pixel centers, default cubic like the reference's
GRIORA_Cubic), pseudo_pan = sum(w_i * ms_i); factor = pan/pseudo_pan;
out_i = copy_word(ms_i * factor) (nodata pixels and zero pseudo-pan
propagate nodata, :530-537).

Distributed shape (the ComputeSourceWindow pattern): each pan tile
derives the spectral tile window covering its footprint (+kernel pad),
the needed MS tiles equi-join to the pan tile key, and the Brovey
kernel runs per pan tile — the pan side never shuffles beyond its own
key, the MS side moves only the overlapping window.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec, TILE_SCHEMA, copy_word
from gdal_spark.operators.tiles import WARP_KERNELS


def pansharpen(
    pan_tiles: DataFrame,
    ms_tiles: DataFrame,
    pan_spec: RasterSpec,
    ms_spec: RasterSpec,
    weights: list[float],
    bands: list[int] | None = None,
    resample: str = "cubic",
    nodata: float | None = None,
    max_value: float | None = None,
) -> DataFrame:
    """pan_tiles: single-band tile table on the pan grid; ms_tiles:
    N-band tile table on the (coarser) spectral grid covering the SAME
    world extent. Returns pansharpened tiles on the pan grid, one row
    per (band, ty, tx)."""
    bands = bands or list(range(1, len(weights) + 1))
    kernel = WARP_KERNELS[resample]
    pts = pan_spec.tile_size
    mts = ms_spec.tile_size
    # world-aligned grids: ms pixel coords of a pan pixel center
    rx = ms_spec.width / pan_spec.width
    ry = ms_spec.height / pan_spec.height

    pan = pan_tiles.select(
        F.col("ty"), F.col("tx"), F.lit(-1).alias("piece_band"),
        F.lit(0).alias("mty"), F.lit(0).alias("mtx"),
        F.col("h"), F.col("w"), F.col("dtype"), F.col("payload"),
    )

    pad = 3  # cubic support + rounding

    def _ms_pieces(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                # pan tiles whose source window touches this ms tile
                msx0 = r.tx * mts
                msy0 = r.ty * mts
                # ms pixel range -> pan pixel range (inverse of rx)
                px0 = max(int(np.floor((msx0 - pad) / rx)), 0)
                px1 = min(int(np.ceil((msx0 + r.w + pad) / rx)), pan_spec.width - 1)
                py0 = max(int(np.floor((msy0 - pad) / ry)), 0)
                py1 = min(int(np.ceil((msy0 + r.h + pad) / ry)), pan_spec.height - 1)
                for pty in range(py0 // pts, py1 // pts + 1):
                    for ptx in range(px0 // pts, px1 // pts + 1):
                        rows.append(
                            {"ty": pty, "tx": ptx, "piece_band": r.band,
                             "mty": r.ty, "mtx": r.tx, "h": r.h, "w": r.w,
                             "dtype": r.dtype, "payload": r.payload}
                        )
            yield pd.DataFrame(
                rows, columns=["ty", "tx", "piece_band", "mty", "mtx", "h", "w", "dtype", "payload"]
            )

    piece_schema = StructType(
        [
            StructField("ty", IntegerType()), StructField("tx", IntegerType()),
            StructField("piece_band", IntegerType()),
            StructField("mty", IntegerType()), StructField("mtx", IntegerType()),
        ]
        + [f for f in TILE_SCHEMA.fields if f.name in ("h", "w", "dtype", "payload")]
    )
    ms = ms_tiles.mapInPandas(_ms_pieces, piece_schema)
    both = pan.unionByName(ms)

    wts = np.asarray(weights, dtype=np.float64)
    nd = nodata

    def _brovey(key, pdf):
        tyy, txx = int(key[0]), int(key[1])
        panrow = pdf[pdf.piece_band == -1]
        if not len(panrow):
            return pd.DataFrame(
                {c: pd.array([], dtype="int32") if c in ("band", "ty", "tx", "h", "w")
                 else pd.array([], dtype=object) for c in [f.name for f in TILE_SCHEMA.fields]}
            )
        pr = panrow.iloc[0]
        ph, pw = int(pr["h"]), int(pr["w"])
        panv = tilecodec.decode_row(pr).astype(np.float64)
        # pan pixel centers in ms pixel coords
        jj, ii = np.meshgrid(np.arange(pw), np.arange(ph))
        sx = (txx * pts + jj + 0.5) * rx
        sy = (tyy * pts + ii + 0.5) * ry
        # assemble the ms window per band
        pieces = pdf[pdf.piece_band > 0]
        if not len(pieces):
            return pd.DataFrame([], columns=[f.name for f in TILE_SCHEMA.fields])
        mty0 = int(pieces["mty"].min())
        mtx0 = int(pieces["mtx"].min())
        wy0, wx0 = mty0 * mts, mtx0 * mts
        wh = int((pieces["mty"].max() - mty0) * mts + pieces["h"].max())
        ww = int((pieces["mtx"].max() - mtx0) * mts + pieces["w"].max())
        # valid MS data inside the window: never past the raster edge
        # (partial bottom/right tiles leave zero-filled slack in the
        # assembled rectangle; the reference clamps reads to raster
        # bounds — crop to data and clamp sample coords so edge pixels
        # replicate instead of blending zeros, ADVICE r2)
        dh = min(wh, ms_spec.height - wy0)
        dw = min(ww, ms_spec.width - wx0)
        sxw = np.clip(sx - wx0, 0.0, dw - 1e-9)
        syw = np.clip(sy - wy0, 0.0, dh - 1e-9)
        ups = {}
        for b in bands:
            sel = pieces[pieces.piece_band == b]
            win = tilecodec.paste(np.zeros((wh, ww)), sel, sel["mty"].to_numpy() * mts - wy0,
                                  sel["mtx"].to_numpy() * mts - wx0)
            vals, _ = kernel(win[:dh, :dw], sxw, syw)
            ups[b] = vals
        pseudo = np.zeros((ph, pw))
        valid = np.ones((ph, pw), dtype=bool)
        for k, b in enumerate(bands):
            if nd is not None:
                valid &= ups[b] != nd
            pseudo += wts[k] * ups[b]
        ok = (pseudo != 0.0) & valid
        if nd is not None:
            ok &= panv != nd
        with np.errstate(divide="ignore", invalid="ignore"):
            factor = np.where(ok, panv / np.where(pseudo == 0, 1, pseudo), 0.0)
        out_rows = []
        for b in bands:
            v = ups[b] * factor
            if max_value is not None:
                v = np.minimum(v, max_value)
            if nd is not None:
                v = np.where(ok, v, nd)
            out_rows.append(tilecodec.tile_row(b, tyy, txx, copy_word(v, pan_spec.dtype)))
        return pd.DataFrame(out_rows, columns=[f.name for f in TILE_SCHEMA.fields])

    return both.groupBy("ty", "tx").applyInPandas(_brovey, TILE_SCHEMA)
