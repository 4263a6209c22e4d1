"""Contour generation (alg/contour.cpp, alg/marching_squares/*.h):
fixed-level or interval contour lines over a raster, as a distributed
two-phase operator:

  phase 1: per tile (+1-px halo via the focal halo exchange so cell
           squares spanning tile seams are computed once per side
           with IDENTICAL values -> identical segment endpoints),
           marching squares emits level-tagged segments; a per-tile
           merge_lines pass shrinks output early
  phase 2: groupBy(level) + merge_lines stitches polylines across
           tiles (same 2-phase pattern as polygonize's boundary merge)

Grid convention matches the reference (marching_squares/point.h):
contour vertices live between PIXEL CENTERS; node (i, j) is the
center of pixel (i, j), world (j+0.5, i+0.5) in pixel coords.
Linear interpolation t = (level - v0) / (v1 - v0) along cell edges;
saddle cells decided by the center average (asymptotic decider).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from gdal_spark.operators import tilecodec
from gdal_spark.operators.dissolve import merge_lines
from gdal_spark.operators.focal import _halo_explode
from gdal_spark.operators.raster import RasterSpec

SEG_SCHEMA = StructType(
    [
        StructField("level", DoubleType()),
        StructField("wkt", StringType()),
    ]
)


def _ext_grid(pdf: pd.DataFrame, tyy: int, txx: int, spec: RasterSpec):
    """Assemble a tile + RIGHT and BOTTOM 1-px strips (each cell square
    is owned by its top-left node's tile — no duplicates). Sparse-aware:
    an in-bounds tile absent from the table acts init-valued (repo-wide
    convention), for the center and for the three seam neighbors alike;
    beyond-raster seam cells stay NaN (callers truncate the grid there).
    Returns (ext, h, w) or None for keys outside the raster grid."""
    center = pdf[(pdf.src_dy == 0) & (pdf.src_dx == 0)]
    in_bounds = 0 <= tyy < spec.ntiles_y and 0 <= txx < spec.ntiles_x
    if not len(center) and not in_bounds:
        return None
    init = float(spec.init or 0.0)
    if len(center):
        c = center.iloc[0]
        h, w = int(c["h"]), int(c["w"])
        t = tilecodec.decode_row(c)
    else:
        h, w = spec.tile_shape(tyy, txx)
        t = np.full((h, w), init)
    ext = np.full((h + 1, w + 1), np.nan)
    ext[:h, :w] = t
    seen = set()
    for r in pdf.itertuples(index=False):
        if (r.src_dy, r.src_dx) == (1, 0):
            ext[h, : r.w] = tilecodec.decode_row(r)[0]
        elif (r.src_dy, r.src_dx) == (0, 1):
            ext[: r.h, w] = tilecodec.decode_row(r)[:, 0]
        elif (r.src_dy, r.src_dx) == (1, 1):
            ext[h, w] = tilecodec.decode_row(r)[0, 0]
        else:
            continue
        seen.add((r.src_dy, r.src_dx))
    if (1, 0) not in seen and tyy + 1 < spec.ntiles_y:
        ext[h, :w] = init
    if (0, 1) not in seen and txx + 1 < spec.ntiles_x:
        ext[:h, w] = init
    if (1, 1) not in seen and tyy + 1 < spec.ntiles_y and txx + 1 < spec.ntiles_x:
        ext[h, w] = init
    return ext, h, w


def marching_squares(arr: np.ndarray, level: float, oy: float = 0.0, ox: float = 0.0):
    """Segments of one level over a node grid `arr` (values at pixel
    centers). Returns list of ((x1,y1),(x2,y2)) in pixel-center
    coordinates offset by (ox, oy). Vectorized cell classification,
    python loop only over CROSSING cells (sparse)."""
    h, w = arr.shape
    if h < 2 or w < 2:
        return []
    a = arr[:-1, :-1]  # top-left
    b = arr[:-1, 1:]  # top-right
    c = arr[1:, 1:]  # bottom-right
    d = arr[1:, :-1]  # bottom-left
    code = (
        (a >= level).astype(np.int8)
        | ((b >= level) << 1)
        | ((c >= level) << 2)
        | ((d >= level) << 3)
    )
    cy, cx = np.nonzero((code != 0) & (code != 15))
    segs = []

    def interp(v0, v1, p0, p1):
        t = (level - v0) / (v1 - v0)
        return (p0[0] + t * (p1[0] - p0[0]), p0[1] + t * (p1[1] - p0[1]))

    for i, j in zip(cy.tolist(), cx.tolist()):
        va, vb, vc, vd = float(a[i, j]), float(b[i, j]), float(c[i, j]), float(d[i, j])
        # node positions (pixel centers)
        pa = (j + 0.5 + ox, i + 0.5 + oy)
        pb = (j + 1.5 + ox, i + 0.5 + oy)
        pc = (j + 1.5 + ox, i + 1.5 + oy)
        pd_ = (j + 0.5 + ox, i + 1.5 + oy)
        k = int(code[i, j])
        # edge crossing points
        top = interp(va, vb, pa, pb) if (va >= level) != (vb >= level) else None
        right = interp(vb, vc, pb, pc) if (vb >= level) != (vc >= level) else None
        bottom = interp(vd, vc, pd_, pc) if (vd >= level) != (vc >= level) else None
        left = interp(va, vd, pa, pd_) if (va >= level) != (vd >= level) else None
        if k in (5, 10):  # saddle: asymptotic decider on center mean
            center_high = (va + vb + vc + vd) / 4.0 >= level
            if (k == 5) == center_high:
                segs += [(top, right), (bottom, left)]
            else:
                segs += [(top, left), (bottom, right)]
        else:
            pts = [p for p in (top, right, bottom, left) if p is not None]
            if len(pts) == 2:
                segs.append((pts[0], pts[1]))
    return segs


def _clip_cell_by_value(pts: list, vals: list, level: float, keep_ge: bool):
    """Sutherland-Hodgman-style clip of a value-tagged polygon by the
    half-space v >= level (or v < level), inserting edge points at the
    SAME linear interpolation as the marching-squares crossings."""
    n = len(pts)
    out_p: list = []
    out_v: list = []
    for i in range(n):
        j = (i + 1) % n
        v0, v1 = vals[i], vals[j]
        cin = (v0 >= level) if keep_ge else (v0 < level)
        nin = (v1 >= level) if keep_ge else (v1 < level)
        if cin:
            out_p.append(pts[i])
            out_v.append(v0)
        if cin != nin:
            t = (level - v0) / (v1 - v0)
            out_p.append(
                (pts[i][0] + t * (pts[j][0] - pts[i][0]), pts[i][1] + t * (pts[j][1] - pts[i][1]))
            )
            out_v.append(level)
    return out_p, out_v


def contour_polygons(
    tiles: DataFrame,
    spec: RasterSpec,
    interval: float,
    base: float = 0.0,
    band: int = 1,
    dissolve: bool = True,
) -> DataFrame:
    """Contour POLYGONIZE mode (alg/contour.cpp polygonize flag /
    GDALContourGenerateEx POLYGONIZE=YES): isoband polygons per level
    interval [base+k*interval, base+(k+1)*interval). Band boundaries
    use the identical edge interpolation as the contour lines, so the
    bands tile the node-grid area exactly and their shared edges ARE
    the iso lines.

    Per cell (node square, same 1-px-halo ownership as contour) each
    covering band clips the square by v>=lo then v<hi; dissolve=True
    unions the pieces per band into one (multi)polygon feature
    (lvl_min, lvl_max, wkt) like the reference's one-feature-per-band
    output; dissolve=False returns the raw per-cell pieces (scale
    path: pieces stay distributed)."""
    halo = _halo_explode(tiles.filter(F.col("band") == band), 1)

    PIECE_SCHEMA = StructType(
        [
            StructField("lvl_min", DoubleType()),
            StructField("lvl_max", DoubleType()),
            StructField("wkt", StringType()),
        ]
    )
    ts = spec.tile_size

    def _local(key, pdf):
        _, tyy, txx = int(key[0]), int(key[1]), int(key[2])
        asm = _ext_grid(pdf, tyy, txx, spec)
        if asm is None:
            return pd.DataFrame(
                {"lvl_min": pd.array([], dtype="float64"),
                 "lvl_max": pd.array([], dtype="float64"),
                 "wkt": pd.array([], dtype=object)}
            )
        ext, h, w = asm
        vh = h + 1 if not np.isnan(ext[h, 0]) else h
        vw = w + 1 if not np.isnan(ext[0, w]) else w
        grid = ext[:vh, :vw]
        rows = []
        oy, ox = tyy * ts, txx * ts
        for i in range(vh - 1):
            for j in range(vw - 1):
                vals4 = [grid[i, j], grid[i, j + 1], grid[i + 1, j + 1], grid[i + 1, j]]
                pts4 = [
                    (j + 0.5 + ox, i + 0.5 + oy),
                    (j + 1.5 + ox, i + 0.5 + oy),
                    (j + 1.5 + ox, i + 1.5 + oy),
                    (j + 0.5 + ox, i + 1.5 + oy),
                ]
                # 4 center triangles: a linear field on a triangle
                # crosses any level along its boundary at most twice,
                # so the half-space clip is always a single valid
                # polygon — no marching-squares saddle cases (the
                # center value = corner mean IS the saddle decider)
                vc = sum(vals4) / 4.0
                pc = (j + 1.0 + ox, i + 1.0 + oy)
                for t in range(4):
                    tpts = [pts4[t], pts4[(t + 1) % 4], pc]
                    tvals = [vals4[t], vals4[(t + 1) % 4], vc]
                    vmin, vmax = min(tvals), max(tvals)
                    if not (np.isfinite(vmin) and np.isfinite(vmax)):
                        continue  # NaN nodata cell: no bands emitted
                    k0 = int(np.floor((vmin - base) / interval))
                    k1 = int(np.floor((vmax - base) / interval))
                    for k in range(k0, k1 + 1):
                        lo = base + k * interval
                        hi = lo + interval
                        p, v = _clip_cell_by_value(tpts, tvals, lo, keep_ge=True)
                        if len(p) >= 3:
                            p, v = _clip_cell_by_value(p, v, hi, keep_ge=False)
                        if len(p) >= 3:
                            body = ",".join(f"{x:.17g} {y:.17g}" for x, y in p)
                            first = f"{p[0][0]:.17g} {p[0][1]:.17g}"
                            rows.append(
                                {"lvl_min": lo, "lvl_max": hi,
                                 "wkt": f"POLYGON (({body},{first}))"}
                            )
        return pd.DataFrame(rows, columns=["lvl_min", "lvl_max", "wkt"]) if rows else pd.DataFrame(
            {"lvl_min": pd.array([], dtype="float64"),
             "lvl_max": pd.array([], dtype="float64"),
             "wkt": pd.array([], dtype=object)}
        )

    pieces = halo.groupBy("band", "ty", "tx").applyInPandas(_local, PIECE_SCHEMA)
    if not dissolve:
        return pieces
    from gdal_spark.operators.dissolve import dissolve_union

    return dissolve_union(pieces, ["lvl_min", "lvl_max"], wkt_col="wkt", out_col="wkt")


def exp_levels(mn: float, mx: float, exp_base: float) -> list[float]:
    """gdal_contour -e: ExponentialLevelRangeIterator
    (alg/marching_squares/level_generator.h:225-281): level(i) =
    base^(i-1) for i >= 1; the range indices come from
    ceil/floor(ln(v)/ln(base)) with the fudge re-iteration (a bound
    within 1e-6 of a level is perturbed up and the index recomputed,
    utility.h:30-43) — which also makes the ceil/floor ulp-robust when
    a bound sits exactly on a level."""
    import math

    def level(i: int) -> float:
        return 0.0 if i <= 0 else exp_base ** (i - 1)

    def fudge(value: float, lvl: float) -> float:
        return value + 1e-6 if abs(lvl - value) < 1e-6 else value

    ln_b = math.log(exp_base)

    def index1(p: float) -> int:
        return 1 if p < 1.0 else int(math.ceil(math.log(p) / ln_b) + 1)

    def index2(p: float) -> int:
        return 0 if p < 1.0 else int(math.floor(math.log(p) / ln_b) + 2)

    if mn > mx:
        mn, mx = mx, mn
    i1 = index1(mn)
    l1 = fudge(mn, level(i1))
    if l1 > mn:
        i1 = index1(l1)
    if mn == mx:
        return []
    i2 = index2(mx)
    l2 = fudge(mx, level(i2))
    if l2 > mx:
        i2 = index2(l2)
    return [level(i) for i in range(i1, i2)]


def contour(
    tiles: DataFrame,
    spec: RasterSpec,
    levels: list[float] | None = None,
    interval: float | None = None,
    base: float = 0.0,
    band: int = 1,
    exp_base: float | None = None,
) -> DataFrame:
    """(level, wkt LINESTRING/MULTILINESTRING) rows. interval mode
    generates levels base + k*interval covering the data range
    (ContourIntervalGenerator); exp_base mode generates base^k levels
    (gdal_contour -e, exp_levels above)."""
    ts = spec.tile_size
    if levels is None and interval is None and exp_base is None:
        raise ValueError("need levels, interval, or exp_base")
    if levels is None:
        # driver-side range scan (tiny: one agg over tiles)
        import pyspark.sql.functions as _F

        stats = tiles.filter(F.col("band") == band)

        @F.pandas_udf("min double, max double")
        def _rng(tile: pd.DataFrame) -> pd.DataFrame:
            mn, mx = [], []
            for t in tilecodec.decode_batch(tile):
                mn.append(float(t.min()))
                mx.append(float(t.max()))
            return pd.DataFrame({"min": mn, "max": mx})

        row = stats.select(_rng(F.struct(*tilecodec.TILE_COLUMNS)).alias("r")).agg(
            _F.min("r.min").alias("mn"), _F.max("r.max").alias("mx"),
            _F.count(_F.lit(1)).alias("n"),
        ).first()
        mn, mx = float(row.mn), float(row.mx)
        if int(row.n) < spec.ntiles_y * spec.ntiles_x:
            # sparse table: absent in-bounds tiles act init-valued
            # (repo-wide convention) and must widen the level range
            init = float(spec.init or 0.0)
            mn, mx = min(mn, init), max(mx, init)
        if exp_base is not None:
            levels = exp_levels(mn, mx, exp_base)
        else:
            k0 = int(np.ceil((mn - base) / interval))
            k1 = int(np.floor((mx - base) / interval))
            levels = [base + k * interval for k in range(k0, k1 + 1)]

    lv = list(levels)
    halo = _halo_explode(tiles.filter(F.col("band") == band), 1)

    def _local(key, pdf):
        _, tyy, txx = int(key[0]), int(key[1]), int(key[2])
        asm = _ext_grid(pdf, tyy, txx, spec)
        if asm is None:
            return pd.DataFrame({"level": pd.array([], dtype="float64"), "wkt": pd.array([], dtype=object)})
        ext, h, w = asm
        valid_h = h + 1 if not np.isnan(ext[h, 0]) else h
        valid_w = w + 1 if not np.isnan(ext[0, w]) else w
        grid = ext[:valid_h, :valid_w]
        rows = []
        for level in lv:
            segs = marching_squares(grid, float(level), oy=tyy * ts, ox=txx * ts)
            if not segs:
                continue
            merged = merge_lines([np.array([s[0], s[1]], dtype=np.float64) for s in segs])
            for ln in merged:
                pts = ",".join(f"{x:.17g} {y:.17g}" for x, y in ln)
                rows.append({"level": float(level), "wkt": f"LINESTRING ({pts})"})
        return pd.DataFrame(rows, columns=["level", "wkt"]) if rows else pd.DataFrame(
            {"level": pd.array([], dtype="float64"), "wkt": pd.array([], dtype=object)}
        )

    local = halo.groupBy("band", "ty", "tx").applyInPandas(_local, SEG_SCHEMA)

    def _stitch(key, pdf):
        level = float(key[0])
        lines = []
        for wkt in pdf["wkt"]:
            body = wkt[len("LINESTRING (") : -1]
            lines.append(np.array([[float(t) for t in p.split()] for p in body.split(",")]))
        merged = merge_lines(lines)
        rows = []
        for ln in merged:
            pts = ",".join(f"{x:.17g} {y:.17g}" for x, y in ln)
            rows.append({"level": level, "wkt": f"LINESTRING ({pts})"})
        return pd.DataFrame(rows, columns=["level", "wkt"])

    return local.groupBy("level").applyInPandas(_stitch, SEG_SCHEMA)
