"""GDALApplyVerticalShiftGrid — add/subtract a (geoid) shift grid to a
DEM, with unit conversion.

Reference: /root/reference/alg/gdalapplyverticalshiftgrid.cpp:

  * the grid is warped onto the source grid first (bilinear default,
    NEAREST/CUBIC options; :448-460), working type Float32;
  * per pixel (IReadBlock :206-272): src nodata passes through
    unchanged; a missing grid value is an error; otherwise
      out = (src * src_unit_to_meter + grid) / dst_unit_to_meter
    (inverse mode subtracts the grid, :249-260).

Distributed shape: a vertical shift grid is a geoid model — megabytes
even for global coverage at 1' resolution — so it is BROADCAST-side by
construction (the zones/dither-histogram/IVF-centroid pattern): the
driver materializes the grid once behind a cell-count guard, and the
apply is one shuffle-free Arrow pass over DEM tiles. Each tile samples
the grid at its OWN pixel centers with the repo's bit-exact
global-index bilinear (operators/tiles.py warp_bilinear), so the
result is independent of tiling. Deviation noted: the reference
accumulates in Float32 (its warp working type); we accumulate in
float64 like every other kernel in this repo and emit float64 — a
strictly tighter result.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec, TILE_SCHEMA, copy_word, materialize_full
from gdal_spark.operators.tiles import warp_bilinear, warp_cubic, warp_nearest


def apply_vertical_shift_grid(
    src_tiles: DataFrame,
    src_spec: RasterSpec,
    grid_tiles: DataFrame,
    grid_spec: RasterSpec,
    inverse: bool = False,
    src_unit_to_meter: float = 1.0,
    dst_unit_to_meter: float = 1.0,
    resampling: str = "bilinear",
    src_nodata: float | None = None,
    out_dtype: str = "float64",
    max_grid_cells: int = 1 << 24,
) -> DataFrame:
    """src/grid must share a CRS here (the reference reprojects the
    grid first; feed gdal_spark's warp for that step when CRSs
    differ). Grids with rotation terms are not supported. Raises when
    any source pixel center has no grid coverage (the reference's
    'Missing vertical grid value' error)."""
    g0, g1, g2, g3, g4, g5 = grid_spec.gt
    if g2 != 0 or g4 != 0:
        raise NotImplementedError("rotated shift grids not supported")
    ncells = grid_spec.width * grid_spec.height
    if ncells > max_grid_cells:
        raise ValueError(
            f"shift grid has {ncells} cells > max_grid_cells={max_grid_cells}; "
            "pre-aggregate or raise the guard (grids are broadcast-side)"
        )
    grid = materialize_full(grid_tiles, grid_spec).astype(np.float64)
    gw, gh = grid_spec.width, grid_spec.height
    s0, s1, s2, s3, s4, s5 = src_spec.gt
    ts = src_spec.tile_size
    sgn = -1.0 if inverse else 1.0
    fs, fd = float(src_unit_to_meter), float(dst_unit_to_meter)
    kern = {"bilinear": warp_bilinear, "nearest": warp_nearest, "cubic": warp_cubic}[resampling]

    def _apply(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                v = tilecodec.decode_row(r).astype(np.float64)
                py, px = np.mgrid[0 : r.h, 0 : r.w]
                gpx = (px + int(r.tx) * ts + 0.5).astype(np.float64)
                gpy = (py + int(r.ty) * ts + 0.5).astype(np.float64)
                geo_x = s0 + gpx * s1 + gpy * s2
                geo_y = s3 + gpx * s4 + gpy * s5
                sx = (geo_x - g0) / g1
                sy = (geo_y - g3) / g5
                if resampling == "cubic":
                    gv = kern(grid, sx, sy)
                    ok = np.ones_like(gv, dtype=bool)
                else:
                    gv, ok = kern(grid, sx, sy, origin=(0, 0), bounds=(gw, gh))
                if not ok.all():
                    iy, ix = np.argwhere(~ok)[0]
                    raise ValueError(
                        f"Missing vertical grid value at source "
                        f"({int(r.tx) * ts + ix},{int(r.ty) * ts + iy})"
                    )
                out = sgn * gv
                out = (v * fs + out) / fd
                if src_nodata is not None:
                    out = np.where(v == src_nodata, v, out)
                rows.append(tilecodec.tile_row(int(r.band), int(r.ty), int(r.tx), copy_word(out, out_dtype)))
            yield pd.DataFrame(rows)

    return src_tiles.mapInPandas(_apply, TILE_SCHEMA)
