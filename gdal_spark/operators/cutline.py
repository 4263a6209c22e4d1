"""Warp cutline masking (alg/gdalcutline.cpp).

GDALWarpCutlineMaskerEx semantics reproduced:
  - the cutline is a (multi)polygon in SOURCE pixel/line coordinates
    (the CUTLINE warp option contract, alg/gdalwarper.cpp:1132-1139 —
    note this differs from the gdalwarp -cutline CLI option, which
    reprojects a vector layer first)
  - the polygon is rasterized into a per-chunk byte mask with the
    standard center rule (GDALRasterizeGeometries via the scanline
    fill in raster.py), optionally CUTLINE_ALL_TOUCHED
    (gdalcutline.cpp:352-356)
  - blend dist 0: source validity is zeroed outside the mask
    (gdalcutline.cpp:375-382)
  - blend dist d > 0 (BlendMaskGenerator, gdalcutline.cpp:52-185):
    the polygon boundary is treated as lines; for pixel centers
    within distance d of the boundary the validity is multiplied by
      inside:  0.5 + (dist/d) * 0.5
      outside: 0.5 - (dist/d) * 0.5
    and pixels beyond d keep 1 (inside) / 0 (outside). Distances are
    exact euclidean point-to-segment (the reference uses GEOS
    distance on the boundary clipped to chunk+d+1, which cannot
    change the nearest boundary point for any pixel within d).

Distributed shape: the mask is evaluated per source WINDOW inside the
warp task (scanline math runs in full-raster coordinates so tile
seams are bit-exact — same contract as raster.py's _polygon_mask);
the cutline itself is a small driver-side object captured in the
task closure (equivalently a broadcast).
"""

from __future__ import annotations

import numpy as np

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import _all_touched_line_mask, _polygon_mask

Rings = list  # list[np.ndarray (k,2)] — ring 0 exterior, rest holes


def parse_cutline(cutline) -> list[Rings]:
    """Normalize a cutline argument to list-of-parts (each a list of
    pixel-space rings). Accepts WKT POLYGON/MULTIPOLYGON or an
    already-parsed parts list; anything else raises (the reference
    rejects non-polygon cutlines, gdalcutline.cpp:284-290)."""
    if isinstance(cutline, str):
        from gdal_spark.geom.batch import GeomType
        from gdal_spark.geom.wkt import parse_wkt

        b = parse_wkt([cutline])
        gtype, parts = b.geometry(0)
        if GeomType(gtype) not in (GeomType.POLYGON, GeomType.MULTIPOLYGON):
            raise ValueError("Cutline should be a polygon or a multipolygon")
        return parts
    return cutline


def _boundary_segments(parts: list[Rings]) -> np.ndarray:
    """All ring edges as an (M, 4) array (closing edge included)."""
    segs = []
    for rings in parts:
        for r in rings:
            p = np.asarray(r, dtype=np.float64).reshape(-1, 2)
            if len(p) < 2:
                continue
            if not (p[0] == p[-1]).all():
                p = np.concatenate([p, p[:1]], axis=0)
            segs.append(np.column_stack([p[:-1], p[1:]]))
    return np.concatenate(segs, axis=0) if segs else np.empty((0, 4))


def _min_dist_to_segments(px: np.ndarray, py: np.ndarray, segs: np.ndarray) -> np.ndarray:
    """Exact min euclidean distance from points to any segment,
    chunked so memory stays O(chunk * seg_chunk)."""
    n = len(px)
    best = np.full(n, np.inf)
    if len(segs) == 0:
        return best
    PCH, SCH = 8192, 512
    for ps in range(0, n, PCH):
        bx = px[ps : ps + PCH][:, None]
        by = py[ps : ps + PCH][:, None]
        b = best[ps : ps + PCH]
        for ss in range(0, len(segs), SCH):
            x1, y1, x2, y2 = segs[ss : ss + SCH].T
            dx, dy = x2 - x1, y2 - y1
            L2 = dx * dx + dy * dy
            t = ((bx - x1) * dx + (by - y1) * dy) / np.where(L2 == 0, 1.0, L2)
            t = np.clip(t, 0.0, 1.0)
            d2 = (bx - (x1 + t * dx)) ** 2 + (by - (y1 + t * dy)) ** 2
            np.minimum(b, d2.min(axis=1), out=b)
        best[ps : ps + PCH] = b
    return np.sqrt(best)


def cutline_validity(
    parts: list[Rings],
    x0: int,
    y0: int,
    h: int,
    w: int,
    blend_dist: float = 0.0,
    all_touched: bool = False,
) -> np.ndarray:
    """Float32 (h, w) validity/density mask for the window whose
    top-left pixel is (x0, y0) in full-raster pixel coordinates."""
    base = np.zeros((h, w), dtype=bool)
    for rings in parts:
        base |= _polygon_mask(rings, h, w, oy=y0, ox=x0)
        if all_touched:
            for r in rings:
                base |= _all_touched_line_mask(
                    np.asarray(r, dtype=np.float64).reshape(-1, 2), h, w, oy=y0, ox=x0
                )
    if blend_dist <= 0.0:
        return base.astype(np.float32)
    jj, ii = np.meshgrid(np.arange(w), np.arange(h))
    cx = (x0 + jj + 0.5).ravel()
    cy = (y0 + ii + 0.5).ravel()
    dist = _min_dist_to_segments(cx, cy, _boundary_segments(parts)).reshape(h, w)
    inside = base
    far = dist > blend_dist
    ratio = np.where(
        far,
        np.where(inside, 1.0, 0.0),
        np.where(
            inside,
            0.5 + (dist / blend_dist) * 0.5,
            0.5 - (dist / blend_dist) * 0.5,
        ),
    )
    return ratio.astype(np.float32)


def cutline_mask_tiles(spark, spec, cutline, all_touched: bool = False):
    """The cutline mask itself as a distributed uint8 tile table (one
    task per tile, scanline math in full-raster coords — bit-exact
    seams). Useful on its own and as the oracle surface for the warp
    cutline path."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    from gdal_spark.operators.raster import TILE_SCHEMA

    parts = parse_cutline(cutline)
    ts = spec.tile_size
    keys = (
        spark.range(spec.ntiles_y)
        .select(F.col("id").cast("int").alias("ty"))
        .crossJoin(spark.range(spec.ntiles_x).select(F.col("id").cast("int").alias("tx")))
    )

    def _mask(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for kdf in batches:
            rows = []
            for kr in kdf.itertuples(index=False):
                tyy, txx = int(kr.ty), int(kr.tx)
                h, w = spec.tile_shape(tyy, txx)
                m = cutline_validity(
                    parts, txx * ts, tyy * ts, h, w, 0.0, all_touched
                )
                rows.append(tilecodec.tile_row(1, tyy, txx, m, "uint8"))
            yield pd.DataFrame(rows, columns=["band", "ty", "tx", "h", "w", "dtype", "payload"])

    return keys.mapInPandas(_mask, TILE_SCHEMA)
