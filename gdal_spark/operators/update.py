"""`gdal raster update` (apps/gdalalg_raster_update.cpp): warp a
source raster INTO an existing destination raster — reprojected /
resampled source pixels overwrite the destination wherever the warp
produces coverage (GDALWarp onto an opened dst dataset), optionally
clipped to a geometry; everywhere else the destination is untouched.

Spark shape: the existing distributed warp driver (tiles.raster_tile,
the ComputeSourceWindow source-window join + per-tile kernels) is
reused verbatim by presenting the DESTINATION RASTER'S OWN GRID as a
single-level tile matrix set (GridTMS below) — `gdal raster tile`
and `gdal raster update` are the same warp with a different target
grid, which is exactly how the reference routes both through
GDALWarp. The update itself is then ONE (band, ty, tx) equi-join:
warped value where the warp's alpha says covered, destination value
elsewhere. Tiles the warp never touched pass through without joining
anything (union of an anti-join), so the shuffle is proportional to
the UPDATED region, not the destination raster.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import TILE_SCHEMA, RasterSpec


class GridTMS:
    """A RasterSpec's pixel grid as a one-level tile matrix set
    (duck-typed to WebMercatorQuad's surface: tile_size / top_left /
    resolution / matrix_size / tile_indices / tile_origin). Requires
    a north-up, square-pixel geotransform."""

    def __init__(self, spec: RasterSpec) -> None:
        gt = spec.gt
        if gt[2] != 0.0 or gt[4] != 0.0 or gt[1] != -gt[5]:
            raise ValueError("GridTMS needs a north-up square-pixel geotransform")
        self.spec = spec
        self.tile_size = spec.tile_size

    @property
    def top_left(self) -> tuple[float, float]:
        return (self.spec.gt[0], self.spec.gt[3])

    def resolution(self, z: int) -> float:
        return self.spec.gt[1]

    def matrix_size(self, z: int) -> int:
        return max(self.spec.ntiles_x, self.spec.ntiles_y)

    def tile_indices(self, extent: tuple[float, float, float, float], z: int):
        from gdal_spark.operators.tiles import grid_tile_indices

        return grid_tile_indices(
            extent, self.top_left, self.resolution(z), self.tile_size,
            self.spec.ntiles_x, self.spec.ntiles_y,
        )

    def tile_origin(self, z: int, tx: int, ty: int) -> tuple[float, float]:
        res = self.resolution(z)
        tlx, tly = self.top_left
        return (tlx + tx * self.tile_size * res, tly - ty * self.tile_size * res)


def raster_update(
    dst_tiles: DataFrame,
    dst_spec: RasterSpec,
    src_tiles: DataFrame,
    src_spec: RasterSpec,
    pipeline,
    resampling: str = "near",
    cutline=None,
    cutline_blend_dist: float = 0.0,
    src_nodata: float | None = None,
) -> DataFrame:
    """Returns the updated destination tile table (same TILE_SCHEMA /
    dst_spec layout). cutline follows raster_tile's contract (WKT in
    SOURCE pixel coordinates — the --geometry clip after transform to
    the source frame)."""
    from gdal_spark.operators.tiles import raster_tile

    if src_spec.nbands != dst_spec.nbands:
        # the reference updates band-for-band (GDALWarp onto the opened
        # dst); a silent band mismatch would make the alpha filter
        # select a data band (or nothing) below
        raise ValueError(
            f"raster_update needs matching band counts, got src "
            f"{src_spec.nbands} vs dst {dst_spec.nbands}"
        )
    tms = GridTMS(dst_spec)
    warped = raster_tile(
        src_tiles,
        src_spec,
        pipeline,
        min_zoom=0,
        max_zoom=0,
        resampling=resampling,
        tms=tms,
        cutline=cutline,
        cutline_blend_dist=cutline_blend_dist,
        src_nodata=src_nodata,
    )
    nb = dst_spec.nbands
    alpha_band = src_spec.nbands + 1  # raster_tile emits alpha after the SRC bands
    # (ty, tx) -> per-band payload + alpha, one row per touched tile
    w = warped.select(
        F.col("ty"), F.col("tx"), F.col("band"), F.col("payload").alias("_wp"),
        F.col("dtype").alias("_wdtype"),
    )
    alpha = w.filter(F.col("band") == alpha_band).select(
        "ty", "tx", F.col("_wp").alias("_alpha")
    )
    wdata = w.filter(F.col("band") <= nb)
    # LEFT join: a warped update may land on a (band, ty, tx) the
    # sparse dst table never materialized (absent tile = init-valued,
    # the repo-wide convention) — the merge then composites over an
    # init canvas instead of silently dropping the update
    touched = wdata.join(alpha, ["ty", "tx"]).join(
        dst_tiles.select(
            "band", "ty", "tx", "h", "w", "dtype", F.col("payload").alias("_dp")
        ),
        ["band", "ty", "tx"],
        "left",
    )

    def _merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ts = dst_spec.tile_size
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                key = (int(r["band"]), int(r["ty"]), int(r["tx"]))
                if r["_dp"] is None:
                    # absent dst tile: init-valued canvas at its true
                    # (edge-clipped) shape
                    h, wd = dst_spec.tile_shape(int(r["ty"]), int(r["tx"]))
                    dt = dst_spec.dtype
                    dstv = np.full((h, wd), dst_spec.init or 0.0, dtype=dt)
                else:
                    h, wd = int(r["h"]), int(r["w"])
                    dt = r["dtype"]
                    dstv = tilecodec.decode(r["_dp"], dt, (h, wd), key)
                wv = tilecodec.decode(r["_wp"], r["_wdtype"], (ts, ts), key)[:h, :wd]
                av = tilecodec.decode(r["_alpha"], "uint8", (ts, ts), key)[:h, :wd]
                out = np.where(av > 0, wv.astype(dstv.dtype), dstv)
                rows.append(tilecodec.tile_row(*key, out))
            if rows:
                yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])

    updated = touched.mapInPandas(_merge, TILE_SCHEMA)
    untouched = dst_tiles.join(
        alpha.select("ty", "tx").distinct(), ["ty", "tx"], "left_anti"
    )
    return untouched.unionByName(updated)
