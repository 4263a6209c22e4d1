"""Viewshed via the reference-planes line sweep (Wang et al. 2000) —
the reference's own GDALViewshedGenerate algorithm
(alg/viewshed/viewshed_executor.cpp), O(cells) total work, distributed
as a tile-block wavefront with edge-halo exchange (no whole-DEM driver
collect, no broadcast).

Reference semantics replicated expression-for-expression (normal output
mode, Edge cell mode — the defaults, viewshed_types.h:85):

  * adjustHeight (viewshed_executor.cpp:353-428): every cell's working
    height is h = DEM - heightAdjFactor * R2 - zObserver, where R2 is
    the squared georeferenced distance to the observer and
    heightAdjFactor = curveCoeff / (2 * semimajor) models earth
    curvature + atmospheric refraction (calcHeightAdjFactor :197-218;
    curveCoeff default 0.85714, viewshed_types.h:79).
  * per-cell minimum-visible height dfZ (offsets i=|dx|, j=|dy|):
      - axis j==0:      CalcHeightLine(i, cur[i-1])  = prev * i/(i-1)
      - axis i==0:      symmetric
      - diagonal i==j:  CalcHeightLine(j, cur, prevdiag) (:57-78)
      - steep  i<j:     CalcHeightEdge(i, j, P[i-1,j-1], P[i,j-1])
                        = (Za*i + Zb*(j-i)) / (j-1)   (:93-97, doEdge)
      - shallow j<i:    CalcHeightEdge(j, i, P[i-1,j-1], P[i-1,j])
      distance-1 cells are visible unconditionally (:600-617).
  * setOutputNormal (:228-244): visible iff h + targetHeight >= dfZ;
    then cur = max(cur, dfZ) propagates the constraint outward.

Every dependency points at the previous CHEBYSHEV ring, so the sweep
distributes as a tile wavefront: tiles at Manhattan tile-distance w
from the observer's tile form wave w; each tile consumes the updated
edge row / edge column / corner of its inward neighbors (waves w-1 and
w-2) and emits its own outward edges. Inside a tile everything is
vectorized numpy: axes and diagonals are running-max scans
(cur[d]/d = cummax(h_d/d)), the steep octant is a row recurrence
(vector over each row), the shallow octant a column recurrence
(vector over each column) — the two octants share only the diagonal,
so the orders commute and results are bit-identical to the reference's
left/right in-row sweeps.

The DuckDB oracle in queries.py replays the identical recurrence with
a recursive CTE over Chebyshev rings, so the driver gets a full
value-hash gate, not a rows-only check.
"""

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
from gdal_spark.operators.raster import RasterSpec, TILE_SCHEMA

# atmospheric refraction default (viewshed_types.h:79) over WGS84
DEFAULT_CURVE_COEFF = 0.85714
WGS84_SEMIMAJOR = 6378137.0


def height_adj_factor(curve_coeff: float = DEFAULT_CURVE_COEFF,
                      semimajor: float = WGS84_SEMIMAJOR) -> float:
    """calcHeightAdjFactor (viewshed_executor.cpp:197-218):
    curveCoeff / (2 * semimajor)."""
    return curve_coeff / (semimajor * 2.0)


def _adjusted(dem: np.ndarray, spec: RasterSpec, ox: int, oy: int,
              zobs: float, hadj: float,
              x0: int = 0, y0: int = 0) -> np.ndarray:
    """adjustHeight for a window of the DEM at global offset (x0, y0):
    h = dem - hadj * R2 - zObserver, R2 in georeferenced units
    (gt[1], gt[4], gt[2], gt[5] exactly as viewshed_executor.cpp:
    382-399)."""
    h, w = dem.shape
    dx = np.arange(x0, x0 + w) - ox
    dy = np.arange(y0, y0 + h) - oy
    g = spec.gt
    X = g[1] * dx[None, :] + g[2] * dy[:, None]
    Y = g[4] * dx[None, :] + g[5] * dy[:, None]
    r2 = X * X + Y * Y
    return dem.astype(np.float64) - hadj * r2 - zobs


def viewshed_sweep_scalar(dem: np.ndarray, ox: int, oy: int,
                          observer_height: float = 2.0,
                          target_height: float = 0.0,
                          hadj: float = 0.0,
                          spec: RasterSpec | None = None) -> np.ndarray:
    """Single-process scalar replica of ViewshedExecutor (normal mode,
    Edge cell mode), cell-by-cell in Chebyshev ring order. The parity
    anchor for the distributed kernel below."""
    H, W = dem.shape
    if spec is None:
        spec = RasterSpec(width=W, height=H, gt=(0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
    zobs = float(dem[oy, ox]) + float(observer_height)
    h = _adjusted(dem, spec, ox, oy, zobs, hadj)
    cur = h.copy()
    vis = np.zeros((H, W), dtype=np.uint8)
    vis[oy, ox] = 1
    maxr = max(ox, W - 1 - ox, oy, H - 1 - oy)
    th = float(target_height)
    for r in range(1, maxr + 1):
        for y in range(max(oy - r, 0), min(oy + r, H - 1) + 1):
            for x in range(max(ox - r, 0), min(ox + r, W - 1) + 1):
                i, j = abs(x - ox), abs(y - oy)
                if max(i, j) != r:
                    continue
                sx = 1 if x >= ox else -1
                sy = 1 if y >= oy else -1
                if r == 1:
                    dfz = h[y, x]  # distance-1: unconditionally visible
                elif j == 0:
                    dfz = cur[y, x - sx] * i / (i - 1)
                elif i == 0:
                    dfz = cur[y - sy, x] * j / (j - 1)
                elif i == j:
                    dfz = cur[y - sy, x - sx] * j / (j - 1)
                elif i < j:  # steep: doEdge -> CalcHeightEdge(i, j, ...)
                    za = cur[y - sy, x - sx]
                    zb = cur[y - sy, x]
                    dfz = (za * i + zb * (j - i)) / (j - 1)
                else:  # shallow
                    za = cur[y - sy, x - sx]
                    zb = cur[y, x - sx]
                    dfz = (za * j + zb * (i - j)) / (i - 1)
                vis[y, x] = 1 if (h[y, x] + th >= dfz or r == 1) else 0
                cur[y, x] = max(h[y, x], dfz)
    return vis


def _axis_scan(hseg: np.ndarray, d0: int, seed_cur: float, th: float):
    """Axis / diagonal scan: cells at distances d0, d0+1, ... with
    adjusted heights hseg; seed_cur = updated cur at distance d0-1
    (ignored when d0 == 1). Returns (vis, cur).

    Direct CalcHeightLine recurrence (dfZ = prev * d / (d-1), same
    expression order as the reference) rather than the equivalent
    running max of h/d — the telescoped form rounds differently at the
    last bit, and the DuckDB oracle replays the direct recurrence.
    Runs of axis/diagonal cells are at most tile_size long per task,
    so the scalar loop is negligible."""
    n = len(hseg)
    vis = np.zeros(n, dtype=np.uint8)
    cur = np.empty(n)
    prev = float(seed_cur)
    for k in range(n):
        d = d0 + k
        dfz = hseg[k] if d == 1 else prev * d / (d - 1)
        vis[k] = 1 if (d == 1 or hseg[k] + th >= dfz) else 0
        prev = cur[k] = max(hseg[k], dfz)
    return vis, cur


def _sweep_rect(hrect: np.ndarray, frame: np.ndarray, i0: int, j0: int,
                th: float):
    """Canonical pure-quadrant sweep: hrect (nj, ni) holds adjusted
    heights for offsets i in [i0, i0+ni), j in [j0, j0+nj) (i0, j0 >= 1,
    observer 'up-left'). frame (nj+1, ni+1): frame[0, 0] = updated cur
    at (i0-1, j0-1), frame[0, 1:] = row j0-1, frame[1:, 0] = col i0-1.
    Returns (vis, cur) for the rect. Frame cells beyond the raster may
    be NaN — they are never read because dependencies always point
    toward the observer, inside the raster.

    Three vectorized phases (mutually independent given the frame):
    diagonal scan, steep-octant row recurrence, shallow-octant column
    recurrence — see module docstring for the dependency proof."""
    nj, ni = hrect.shape
    C = frame.copy()
    vis = np.zeros((nj, ni), dtype=np.uint8)
    ii = np.arange(i0, i0 + ni, dtype=np.float64)
    # phase 1: diagonal cells i == j (a run through the rect)
    d_lo = max(i0, j0)
    d_hi = min(i0 + ni, j0 + nj)
    if d_lo < d_hi:
        rr = d_lo - j0
        cc = d_lo - i0
        n = d_hi - d_lo
        hd = hrect[rr + np.arange(n), cc + np.arange(n)]
        seed = C[rr, cc] if d_lo == 1 else C[rr, cc]  # frame diag predecessor
        dvis, dcur = _axis_scan(hd, d_lo, float(C[rr, cc]), th)
        vis[rr + np.arange(n), cc + np.arange(n)] = dvis
        C[1 + rr + np.arange(n), 1 + cc + np.arange(n)] = dcur
    # phase 2: steep cells i < j, row by row (deps: previous row only)
    for r in range(nj):
        j = j0 + r
        hi_c = min(j - i0, ni)  # columns with i < j
        if hi_c <= 0:
            continue
        i = ii[:hi_c]
        za = C[r, 0:hi_c]        # (i-1, j-1)
        zb = C[r, 1:hi_c + 1]    # (i,   j-1)
        dfz = (za * i + zb * (j - i)) / (j - 1)
        hrow = hrect[r, :hi_c]
        vis[r, :hi_c] = hrow + th >= dfz
        C[r + 1, 1:hi_c + 1] = np.maximum(hrow, dfz)
    # phase 3: shallow cells j < i, column by column
    jj = np.arange(j0, j0 + nj, dtype=np.float64)
    for c in range(ni):
        i = i0 + c
        hi_r = min(i - j0, nj)  # rows with j < i
        if hi_r <= 0:
            continue
        j = jj[:hi_r]
        za = C[0:hi_r, c]        # (i-1, j-1)
        zb = C[1:hi_r + 1, c]    # (i-1, j)
        dfz = (za * j + zb * (i - j)) / (i - 1)
        hcol = hrect[:hi_r, c]
        vis[:hi_r, c] = np.maximum(vis[:hi_r, c], (hcol + th >= dfz).astype(np.uint8))
        C[1:hi_r + 1, c + 1] = np.maximum(hcol, dfz)
    return vis, C[1:, 1:]


def sweep_tile(dem_tile: np.ndarray, spec: RasterSpec, X0: int, Y0: int,
               ox: int, oy: int, zobs: float, hadj: float, th: float,
               halo_n: np.ndarray | None, halo_s: np.ndarray | None,
               halo_w: np.ndarray | None, halo_e: np.ndarray | None,
               corners: dict):
    """Process one DEM tile [X0, X0+tw) x [Y0, Y0+th_) given updated-cur
    halos from its inward neighbors: halo_n/halo_s = rows at Y0-1 / Y0+th_
    (length tw), halo_w/halo_e = cols at X0-1 / X0+tw (length th_),
    corners = {(sx, sy): value} single updated values at the four
    diagonal outer corners. Returns (vis, cur) for the tile."""
    th_, tw = dem_tile.shape
    X1, Y1 = X0 + tw, Y0 + th_
    h = _adjusted(dem_tile, spec, ox, oy, zobs, hadj, x0=X0, y0=Y0)
    cur = np.full((th_, tw), np.nan)
    vis = np.zeros((th_, tw), dtype=np.uint8)

    def _cell(x, y):
        """Updated cur at global (x, y): in-tile or halo."""
        if X0 <= x < X1 and Y0 <= y < Y1:
            return cur[y - Y0, x - X0]
        if y == Y0 - 1 and X0 <= x < X1 and halo_n is not None:
            return halo_n[x - X0]
        if y == Y1 and X0 <= x < X1 and halo_s is not None:
            return halo_s[x - X0]
        if x == X0 - 1 and Y0 <= y < Y1 and halo_w is not None:
            return halo_w[y - Y0]
        if x == X1 and Y0 <= y < Y1 and halo_e is not None:
            return halo_e[y - Y0]
        key = (1 if x >= X1 else -1, 1 if y >= Y1 else -1)
        return corners.get(key, np.nan)

    # observer cell
    if X0 <= ox < X1 and Y0 <= oy < Y1:
        cur[oy - Y0, ox - X0] = h[oy - Y0, ox - X0]
        vis[oy - Y0, ox - X0] = 1

    # axis segments (observer row / column crossing this tile)
    if Y0 <= oy < Y1:
        r = oy - Y0
        for sx in (1, -1):
            if sx == 1:
                xs = np.arange(max(X0, ox + 1), X1)
            else:
                xs = np.arange(min(X1 - 1, ox - 1), X0 - 1, -1)
            if len(xs) == 0:
                continue
            d0 = abs(int(xs[0]) - ox)
            seed = _cell(int(xs[0]) - sx, oy) if d0 > 1 else 0.0
            v, c = _axis_scan(h[r, xs - X0], d0, float(seed), th)
            vis[r, xs - X0] = v
            cur[r, xs - X0] = c
    if X0 <= ox < X1:
        c0 = ox - X0
        for sy in (1, -1):
            if sy == 1:
                ys = np.arange(max(Y0, oy + 1), Y1)
            else:
                ys = np.arange(min(Y1 - 1, oy - 1), Y0 - 1, -1)
            if len(ys) == 0:
                continue
            d0 = abs(int(ys[0]) - oy)
            seed = _cell(ox, int(ys[0]) - sy) if d0 > 1 else 0.0
            v, c = _axis_scan(h[ys - Y0, c0], d0, float(seed), th)
            vis[ys - Y0, c0] = v
            cur[ys - Y0, c0] = c

    # quadrant sub-rectangles (strictly off both axes)
    for sx in (1, -1):
        for sy in (1, -1):
            if sx == 1:
                xa, xb = max(X0, ox + 1), X1
            else:
                xa, xb = X0, min(X1, ox)
            if sy == 1:
                ya, yb = max(Y0, oy + 1), Y1
            else:
                ya, yb = Y0, min(Y1, oy)
            if xa >= xb or ya >= yb:
                continue
            xs = np.arange(xa, xb) if sx == 1 else np.arange(xb - 1, xa - 1, -1)
            ys = np.arange(ya, yb) if sy == 1 else np.arange(yb - 1, ya - 1, -1)
            i0 = abs(int(xs[0]) - ox)
            j0 = abs(int(ys[0]) - oy)
            ni, nj = len(xs), len(ys)
            hrect = h[np.ix_(ys - Y0, xs - X0)]
            frame = np.full((nj + 1, ni + 1), np.nan)
            # frame row (j0-1) over offsets i0-1 .. i0+ni-1
            fy = oy + sy * (j0 - 1)
            fx0 = ox + sx * (i0 - 1)
            frame[0, 0] = _cell(fx0, fy)
            for k in range(ni):
                frame[0, k + 1] = _cell(int(xs[k]), fy)
            fxc = ox + sx * (i0 - 1)
            for k in range(nj):
                frame[k + 1, 0] = _cell(fxc, int(ys[k]))
            rvis, rcur = _sweep_rect(hrect, frame, i0, j0, th)
            vis[np.ix_(ys - Y0, xs - X0)] = rvis
            cur[np.ix_(ys - Y0, xs - X0)] = rcur
    return vis, cur


# ---------------------------------------------------------------------------
# distributed wavefront

_SWEEP_SCHEMA = StructType(
    [
        StructField("tx", IntegerType()),   # addressee tile (vis: own tile)
        StructField("ty", IntegerType()),
        StructField("kind", StringType()),  # 'vis' | 'n'/'s'/'w'/'e' | 'c{sx}{sy}'
        StructField("h", IntegerType()),
        StructField("w", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def viewshed_sweep(
    tiles: DataFrame,
    spec: RasterSpec,
    observer: tuple[int, int],
    observer_height: float = 2.0,
    target_height: float = 0.0,
    curve_coeff: float = 0.0,
    semimajor: float = WGS84_SEMIMAJOR,
    band: int = 1,
) -> DataFrame:
    """Distributed reference-planes viewshed: DEM tile table ->
    visibility tile table (uint8, 1 visible / 0 hidden), the
    GDALViewshedGenerate algorithm at the reference's O(cells)
    asymptotics.

    Execution shape: tiles at Manhattan tile-distance w from the
    observer's tile form wave w. Waves run as successive Spark jobs
    (driver orchestrates wave INDICES only); within a wave every tile
    is an independent task that consumes the updated edge halos of its
    inward neighbors and emits edges for its outward neighbors. Data
    shuffled per wave = O(tile perimeter) per tile — the DEM itself
    never leaves the executors and nothing is broadcast. The only
    driver materialization is the observer's single tile (to read one
    height value), bounded by tile_size^2.

    curve_coeff: earth-curvature + refraction coefficient (the
    reference's CC option / adjustCurveCoeff, viewshed.h:90 and
    viewshed_types.h:79 default 0.85714); the height adjustment factor
    is curve_coeff / (2 * semimajor) (calcHeightAdjFactor). 0 disables.
    """
    ox, oy = int(observer[0]), int(observer[1])
    spark = tiles.sparkSession
    ts = spec.tile_size
    ntx, nty = spec.ntiles_x, spec.ntiles_y
    otx, oty = ox // ts, oy // ts
    hadj = (curve_coeff / (semimajor * 2.0)) if curve_coeff else 0.0
    th = float(target_height)

    dem_band = tiles.filter(F.col("band") == band)
    # one tile, one value: the observer's ground height (absent tile in
    # a SPARSE DEM table = init-valued, the repo-wide convention)
    obs_rows = dem_band.filter((F.col("tx") == otx) & (F.col("ty") == oty)).collect()
    if obs_rows:
        obs_tile = tilecodec.decode_row(obs_rows[0])
        zground = float(obs_tile[oy - oty * ts, ox - otx * ts])
    else:
        zground = float(spec.init or 0.0)
    zobs = zground + float(observer_height)

    wave_expr = F.abs(F.col("tx") - F.lit(otx)) + F.abs(F.col("ty") - F.lit(oty))
    dem_in = dem_band.select(
        "tx", "ty", F.lit("dem").alias("kind"), "h", "w",
        F.col("dtype").alias("pdtype"), "payload",
    )
    if not obs_rows:
        # SPARSE table with the OBSERVER's own tile absent: wave 0 would
        # run zero groups, so no halo is ever emitted and every later
        # wave sees a NaN frame (all-invisible). Seed the init-valued
        # canvas as a synthetic dem row; downstream absent tiles are
        # covered by the halo-addressed branch in _proc.
        sh = spec.tile_shape(oty, otx)
        seed = np.full(sh, spec.init or 0.0, dtype=np.float64)
        seed_df = spark.createDataFrame(
            [(otx, oty, "dem", int(sh[0]), int(sh[1]), "float64",
              bytearray(tilecodec.encode(seed)))],
            "tx int, ty int, kind string, h int, w int, pdtype string, "
            "payload binary",
        )
        dem_in = dem_in.unionByName(seed_df)

    def _proc(key, pdf):
        txx, tyy = int(key[0]), int(key[1])
        X0, Y0 = txx * ts, tyy * ts
        dem_rows = pdf[pdf["kind"] == "dem"]
        if len(dem_rows):
            r = dem_rows.iloc[0]
            dt = tilecodec.decode(r["payload"], r["pdtype"], (int(r["h"]), int(r["w"])), (tyy, txx))
        else:
            # halo addressed to a tile ABSENT from a sparse DEM table:
            # synthesize the init-valued canvas instead of IndexError —
            # the wavefront must propagate across it
            sh = spec.tile_shape(tyy, txx)
            dt = np.full(sh, spec.init or 0.0, dtype=np.float64)
        hh, ww = dt.shape
        halos = {"n": None, "s": None, "w": None, "e": None}
        corners: dict = {}
        for _, hr in pdf[pdf["kind"] != "dem"].iterrows():
            k = hr["kind"]
            arr = tilecodec.decode(hr["payload"], "float64", (int(hr["w"]),), (tyy, txx, k))
            if k in halos:
                halos[k] = arr
            elif k.startswith("c"):
                sx_, sy_ = int(k[1:3]), int(k[3:5])
                corners[(sx_, sy_)] = float(arr[0])
        vis, cur = sweep_tile(
            dt, spec, X0, Y0, ox, oy, zobs, hadj, th,
            halos["n"], halos["s"], halos["w"], halos["e"], corners,
        )
        out = [
            {"tx": txx, "ty": tyy, "kind": "vis", "h": hh, "w": ww,
             "payload": tilecodec.encode(vis)}
        ]

        def emit(to_tx, to_ty, kind, arr):
            if 0 <= to_tx < ntx and 0 <= to_ty < nty:
                out.append({"tx": to_tx, "ty": to_ty, "kind": kind,
                            "h": 1, "w": int(arr.size),
                            "payload": tilecodec.encode(arr, np.float64)})

        if tyy <= oty:
            emit(txx, tyy - 1, "s", cur[0, :])
        if tyy >= oty:
            emit(txx, tyy + 1, "n", cur[-1, :])
        if txx <= otx:
            emit(txx - 1, tyy, "e", cur[:, 0])
        if txx >= otx:
            emit(txx + 1, tyy, "w", cur[:, -1])
        for dx in (-1, 1):
            for dy in (-1, 1):
                if (dx == 1 and txx < otx) or (dx == -1 and txx > otx):
                    continue
                if (dy == 1 and tyy < oty) or (dy == -1 and tyy > oty):
                    continue
                val = cur[-1 if dy == 1 else 0, -1 if dx == 1 else 0]
                # consumer-relative corner direction is the reverse
                emit(txx + dx, tyy + dy, f"c{-dx:+d}{-dy:+d}", np.array([val]))
        return pd.DataFrame(out, columns=["tx", "ty", "kind", "h", "w", "payload"])

    max_wave = max(otx, ntx - 1 - otx) + max(oty, nty - 1 - oty)
    pending = None
    vis_parts = []
    proc_schema = StructType(
        [
            StructField("tx", IntegerType()),
            StructField("ty", IntegerType()),
            StructField("kind", StringType()),
            StructField("h", IntegerType()),
            StructField("w", IntegerType()),
            StructField("payload", BinaryType()),
        ]
    )
    for w in range(max_wave + 1):
        blocks = dem_in.filter(wave_expr == w)
        if pending is not None:
            arriving = pending.filter(wave_expr == w).select(
                "tx", "ty", "kind", "h", "w",
                F.lit("").alias("pdtype"), "payload",
            )
            inp = blocks.unionByName(arriving)
        else:
            inp = blocks
        # eager localCheckpoint: materializes the wave AND truncates the
        # logical plan to a leaf — without it each wave's plan embeds
        # the previous pending chain, so plan SIZE (and Catalyst
        # analysis time) grows geometrically with the wave count
        out = inp.groupBy("tx", "ty").applyInPandas(_proc, proc_schema).localCheckpoint(eager=True)
        vis_parts.append(out.filter(F.col("kind") == "vis"))
        new_halos = out.filter(F.col("kind") != "vis")
        if pending is None:
            pending = new_halos
        else:
            pending = pending.filter(wave_expr != w).unionByName(new_halos)

    vis_all = vis_parts[0]
    for p in vis_parts[1:]:
        vis_all = vis_all.unionByName(p)
    return vis_all.select(
        F.lit(1).alias("band"),
        F.col("ty"), F.col("tx"), F.col("h"), F.col("w"),
        F.lit("uint8").alias("dtype"), F.col("payload"),
    )
