"""Vector -> raster interpolation (alg/gdalgrid.cpp) and
point-sampling of rasters (alg/gdal_interpolateatpoint.cpp).

* idw_grid — GGA_InverseDistanceToAPower (gdalgrid.cpp:70
  GDALGridInverseDistanceToAPower): for every grid cell center,
  v = sum(z_i / d_i^power) / sum(1 / d_i^power) over points within
  the search ellipse; a point exactly ON the center short-circuits
  to its z (the dfR2 < 1e-13 shortcut, gdalgrid.cpp:164); cells
  with no point in radius get `nodata`. The reference accelerates
  with a quadtree (gdalgrid.cpp:2888); the distributed analog:
  points are exploded to every tile whose EXPANDED envelope
  (tile + search-ellipse bbox) contains them, so each tile task
  sees exactly the points that can influence it — a bounded
  broadcast-free spatial join.

* Search ellipse (gdalgrid.cpp:124-160): all non-linear algorithms
  accept (radius1, radius2, angle°). Point offsets are rotated by
  -angle (dfRX*cos + dfRY*sin, dfRY*cos - dfRX*sin) and membership
  is r2²·x'² + r1²·y'² <= r1²·r2²; the IDW weight still uses the
  UNROTATED euclidean d² plus smoothing² (gdalgrid.cpp:144-146).

* interpolate_at_points — bilinear/nearest sample of a tile table at
  world coordinates (shares the warp kernels' index math).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec, TILE_SCHEMA, copy_word
from gdal_spark.operators.tiles import warp_bilinear, warp_nearest

_PT_SCHEMA = StructType(
    [
        StructField("ty", LongType()),
        StructField("tx", LongType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("z", DoubleType()),
    ]
)


GRID_ALGOS = (
    "invdist",  # GDALGridInverseDistanceToAPower (gdalgrid.cpp:70)
    "nearest",  # GDALGridNearestNeighbor (gdalgrid.cpp:1155)
    "average",  # GDALGridMovingAverage (gdalgrid.cpp:1010)
    "minimum",  # GDALGridDataMetricMinimum (gdalgrid.cpp:1274)
    "maximum",  # GDALGridDataMetricMaximum
    "range",  # GDALGridDataMetricRange
    "count",  # GDALGridDataMetricCount
    "average_distance",  # GDALGridDataMetricAverageDistance
    "average_distance_pts",  # GDALGridDataMetricAverageDistancePts (gdalgrid.cpp:2100+)
    "invdistnn",  # GDALGridInverseDistanceToAPowerNearestNeighbor (gdalgrid.cpp:242)
    "linear",  # GDALGridLinear (gdalgrid.cpp:2594; Delaunay barycentric)
)

# algos whose per-quadrant round-robin variant exists in the reference
# (GDALGrid*PerQuadrant dispatch, gdalgrid.cpp:3040-3170)
_QUADRANT_ALGOS = ("invdistnn", "average", "minimum", "maximum", "range", "count", "average_distance")


# above this many points the LINEAR path switches from one driver-side
# triangulation (the reference's own in-memory contract) to tile-local
# triangulation over halo-joined points
LINEAR_DRIVER_MAX_POINTS = 500_000

# above this many per-tile candidates, average_distance_pts streams the
# pairwise-distance matrix in row blocks instead of materializing the
# full (npts, npts) array (8192² doubles = 512 MB)
_PAIR_MATRIX_MAX_PTS = 8192


def _fill_tile_linear(cs, zv, tr, tyy, txx, spec, radius, nodata):
    """Barycentric fill of one tile from a triangulation (shared by
    the driver-broadcast and tile-local paths)."""
    ts = spec.tile_size
    r2 = radius * radius
    h, w = spec.tile_shape(tyy, txx)
    jj, ii = np.meshgrid(np.arange(w), np.arange(h))
    cx, cy = spec.pixel_to_world(txx * ts + jj + 0.5, tyy * ts + ii + 0.5)
    out = np.full((h, w), np.nan)
    bx0, bx1 = cx.min(), cx.max()
    by0, by1 = cy.min(), cy.max()
    for t in tr:
        v = cs[t]
        if v[:, 0].max() < bx0 or v[:, 0].min() > bx1:
            continue
        if v[:, 1].max() < by0 or v[:, 1].min() > by1:
            continue
        (x1, y1), (x2, y2), (x3, y3) = v
        det = (y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)
        if det == 0:
            continue
        l1 = ((y2 - y3) * (cx - x3) + (x3 - x2) * (cy - y3)) / det
        l2 = ((y3 - y1) * (cx - x3) + (x1 - x3) * (cy - y3)) / det
        l3 = 1.0 - l1 - l2
        eps = -1e-12
        inside = (l1 >= eps) & (l2 >= eps) & (l3 >= eps) & np.isnan(out)
        if inside.any():
            out[inside] = (
                l1[inside] * zv[t[0]] + l2[inside] * zv[t[1]] + l3[inside] * zv[t[2]]
            )
    missing = np.isnan(out)
    if missing.any():
        if radius != 0 and len(cs):
            mx = cx[missing]
            my = cy[missing]
            d2 = (mx[:, None] - cs[None, :, 0]) ** 2 + (my[:, None] - cs[None, :, 1]) ** 2
            nearest = np.argmin(d2, axis=1)
            nd2 = d2[np.arange(len(nearest)), nearest]
            out[missing] = np.where(nd2 <= r2, zv[nearest], nodata)
        else:
            out[missing] = nodata
    return out, h, w


def _linear_grid(
    points: DataFrame,
    spec: RasterSpec,
    radius: float,
    nodata: float,
    x_col: str,
    y_col: str,
    z_col: str,
    max_driver_points: int = LINEAR_DRIVER_MAX_POINTS,
    halo: float | None = None,
) -> DataFrame:
    """GDALGridLinear (gdalgrid.cpp:2594): Delaunay triangulation of
    the points (the reference uses qhull; here Bowyer-Watson), grid
    value = barycentric interpolation inside the containing triangle;
    outside the hull: nearest-point value when radius != 0 (within
    radius; radius=inf -> always), else nodata.

    Up to max_driver_points the triangulation is computed ONCE on the
    driver (the reference's own in-memory contract) and broadcast.
    Beyond that — where a driver toPandas would OOM (round-2 verdict
    scale item) — each tile triangulates ONLY the points inside its
    halo-expanded bbox (a bounded spatial join, same explode pattern
    as IDW). Results equal the global triangulation wherever every
    global Delaunay triangle touching the tile has its circumcircle
    inside the halo — guaranteed for quasi-uniform samplings with
    halo >= a few point spacings; default halo = 8 * sqrt(extent/n).
    The nearest-point outside-hull rule likewise sees halo points
    only, so pass halo >= radius when using a finite radius."""
    from gdal_spark.geom.delaunay import delaunay

    n = points.count()
    spark = points.sparkSession
    ts = spec.tile_size

    if n <= max_driver_points:
        pdf = (
            points.select(
                F.col(x_col).alias("x"), F.col(y_col).alias("y"), F.col(z_col).alias("z")
            )
            .toPandas()
            .sort_values(["x", "y", "z"])
            .reset_index(drop=True)
        )
        coords = pdf[["x", "y"]].to_numpy(np.float64)
        zs = pdf["z"].to_numpy(np.float64)
        tris = delaunay(coords)
        bc = spark.sparkContext.broadcast((coords, zs, tris))

        keys = (
            spark.range(spec.ntiles_y)
            .select(F.col("id").cast("int").alias("ty"))
            .crossJoin(spark.range(spec.ntiles_x).select(F.col("id").cast("int").alias("tx")))
        )

        def _tile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cs, zv, tr = bc.value
            for kdf in batches:
                rows = []
                for kr in kdf.itertuples(index=False):
                    tyy, txx = int(kr.ty), int(kr.tx)
                    out = _fill_tile_linear(cs, zv, tr, tyy, txx, spec, radius, nodata)[0]
                    rows.append(tilecodec.tile_row(1, tyy, txx, copy_word(out, spec.dtype)))
                yield pd.DataFrame(rows, columns=["band", "ty", "tx", "h", "w", "dtype", "payload"])

        return keys.mapInPandas(_tile, TILE_SCHEMA)

    # ---- distributed path: halo-joined tile-local triangulation ----
    if halo is None:
        world_w = abs(spec.gt[1]) * spec.width
        world_h = abs(spec.gt[5]) * spec.height
        halo = 8.0 * float(np.sqrt(world_w * world_h / max(n, 1)))
    ntx, nty = spec.ntiles_x, spec.ntiles_y
    hx = halo / abs(spec.gt[1])
    hy = halo / abs(spec.gt[5])

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = pdf["x"].to_numpy(np.float64)
            y = pdf["y"].to_numpy(np.float64)
            z = pdf["z"].to_numpy(np.float64)
            px, py = spec.world_to_pixel(x, y)
            out = {"ty": [], "tx": [], "x": [], "y": [], "z": []}
            for i in range(len(pdf)):
                tx0 = max(int((px[i] - hx) // ts), 0)
                tx1 = min(int((px[i] + hx) // ts), ntx - 1)
                ty0 = max(int((py[i] - hy) // ts), 0)
                ty1 = min(int((py[i] + hy) // ts), nty - 1)
                for tyy in range(ty0, ty1 + 1):
                    for txx in range(tx0, tx1 + 1):
                        out["ty"].append(tyy)
                        out["tx"].append(txx)
                        out["x"].append(x[i])
                        out["y"].append(y[i])
                        out["z"].append(z[i])
            yield pd.DataFrame(out)

    exploded = points.select(
        F.col(x_col).alias("x"), F.col(y_col).alias("y"), F.col(z_col).alias("z")
    ).mapInPandas(_explode, _PT_SCHEMA)
    all_keys = (
        spark.range(nty)
        .select(F.col("id").alias("ty"))
        .crossJoin(spark.range(ntx).select(F.col("id").alias("tx")))
        .select(
            "ty", "tx",
            F.lit(float("nan")).alias("x"), F.lit(float("nan")).alias("y"), F.lit(float("nan")).alias("z"),
        )
    )
    exploded = exploded.unionByName(all_keys)

    def _tile_local(key, pdf):
        tyy, txx = int(key[0]), int(key[1])
        pdf = pdf[~pdf["z"].isna()].sort_values(["x", "y", "z"])
        cs = pdf[["x", "y"]].to_numpy(np.float64)
        zv = pdf["z"].to_numpy(np.float64)
        tr = delaunay(cs) if len(cs) >= 3 else np.empty((0, 3), dtype=np.int64)
        out = _fill_tile_linear(cs, zv, tr, tyy, txx, spec, radius, nodata)[0]
        return pd.DataFrame([tilecodec.tile_row(1, tyy, txx, copy_word(out, spec.dtype))])

    return exploded.groupBy("ty", "tx").applyInPandas(_tile_local, TILE_SCHEMA)


def grid_points(
    points: DataFrame,
    spec: RasterSpec,
    algo: str = "invdist",
    power: float = 2.0,
    radius: float = float("inf"),
    min_points: int = 0,
    nodata: float = 0.0,
    x_col: str = "x",
    y_col: str = "y",
    z_col: str = "z",
    radius2: float | None = None,
    angle: float = 0.0,
    smoothing: float = 0.0,
    max_points: int = 0,
    min_points_per_quadrant: int = 0,
    max_points_per_quadrant: int = 0,
) -> DataFrame:
    """Vector->raster gridding, all GGA_* modes of alg/gdalgrid.cpp
    including linear (Delaunay barycentric) and the full rotated
    search ellipse (radius1=`radius`, `radius2`, `angle` in degrees
    CCW — gdalgrid.cpp:124-160; radius2=None means circular).

    Per-cell semantics per algo (gdal_alg.h:402-416):
      invdist   sum(z/w)/sum(1/w) in ellipse with w = (d²+smoothing²)^(p/2);
                exact-hit shortcut at d²+smoothing² < 1e-13
                (gdalgrid.cpp:164); nodata when found < min_points;
                max_points>0 stops after that many points (reference
                takes quadtree encounter order; here the deterministic
                (x, y, z) order)
      nearest   z of the nearest point in ellipse (ties: lowest
                (x, y, z) — deterministic; the reference takes
                quadtree encounter order)
      average   mean z in ellipse, nodata when count < max(min_points,1)
      minimum/maximum/range/count  data metrics over points in ellipse
      average_distance  mean distance from the cell center
      average_distance_pts  mean pairwise distance between in-ellipse
                points (strict i<j pairs — the reference's scalar path
                gdalgrid.cpp GDALGridDataMetricAverageDistancePts; its
                quadtree path, taken above GDAL_GRID_POINT_COUNT_THRESHOLD
                points, also counts each point paired with itself which
                inflates n with zero-distance pairs — we implement the
                scalar rule at every scale)
      invdistnn GDALGridInverseDistanceToAPowerNearestNeighbor
                (gdalgrid.cpp:242): circular radius only; points sorted
                by smoothing-adjusted d², nearest max_points accumulated
                with w = 1/(d²+smoothing²)^(power/2); exact-hit shortcut
                at smoothed d² < 1e-13 (first point in deterministic
                (x, y, z) order — the reference takes quadtree order)

    min/max_points_per_quadrant (gdalgrid.cpp:3040-3170 dispatch):
    switches invdistnn/average/minimum/maximum/range/count/
    average_distance to the reference's PerQuadrant round-robin rule —
    quadrant = sign pattern of the (rotated) offset, the nearest point
    of quadrant 0,1,2,3 then the next-nearest of each in turn
    (equivalently: eligible points ordered by (in-quadrant rank,
    quadrant)); max_points caps the total for invdistnn/average only
    (the reference comments it out for data metrics); a cell whose
    selected set leaves any quadrant under min_points_per_quadrant is
    nodata.

    Distributed shape: identical to IDW — points explode to the tiles
    their influence-ellipse bbox touches, one applyInPandas per tile.
    """
    return _grid_impl(points, spec, algo, power, radius, min_points, nodata, x_col, y_col, z_col,
                      radius2=radius2, angle=angle, smoothing=smoothing, max_points=max_points,
                      min_points_per_quadrant=min_points_per_quadrant,
                      max_points_per_quadrant=max_points_per_quadrant)


def idw_grid(
    points: DataFrame,
    spec: RasterSpec,
    power: float = 2.0,
    radius: float = float("inf"),
    nodata: float = 0.0,
    x_col: str = "x",
    y_col: str = "y",
    z_col: str = "z",
    radius2: float | None = None,
    angle: float = 0.0,
    smoothing: float = 0.0,
) -> DataFrame:
    """Inverse-distance-to-a-power gridding. With a finite radius the
    point->tile explode is bounded (each point lands on the tiles its
    influence ellipse's bbox touches); radius=inf degrades to
    all-tiles broadcast and should only be used for small point
    sets."""
    return _grid_impl(points, spec, "invdist", power, radius, 0, nodata, x_col, y_col, z_col,
                      radius2=radius2, angle=angle, smoothing=smoothing)


def _ellipse_bbox(radius: float, radius2: float | None, angle: float) -> tuple[float, float]:
    """Half-extents (hx, hy) of the axis-aligned bbox of the search
    ellipse: semi-axis r1 along direction (cosA, sinA), r2 along
    (-sinA, cosA) — the bound used for the point->tile explode."""
    r1 = radius
    r2 = r1 if radius2 is None else radius2
    if not (np.isfinite(r1) and np.isfinite(r2)):
        return float("inf"), float("inf")
    a = np.deg2rad(angle)
    hx = float(np.hypot(r1 * np.cos(a), r2 * np.sin(a)))
    hy = float(np.hypot(r1 * np.sin(a), r2 * np.cos(a)))
    return hx, hy


def _grid_impl(
    points: DataFrame,
    spec: RasterSpec,
    algo: str,
    power: float,
    radius: float,
    min_points: int,
    nodata: float,
    x_col: str,
    y_col: str,
    z_col: str,
    radius2: float | None = None,
    angle: float = 0.0,
    smoothing: float = 0.0,
    max_points: int = 0,
    min_points_per_quadrant: int = 0,
    max_points_per_quadrant: int = 0,
) -> DataFrame:
    if algo not in GRID_ALGOS:
        raise ValueError(f"unknown grid algo {algo}")
    quadrant_mode = min_points_per_quadrant > 0 or max_points_per_quadrant > 0
    if quadrant_mode and algo not in _QUADRANT_ALGOS:
        raise ValueError(
            f"per-quadrant options are not supported for algo {algo!r} "
            f"(reference per-quadrant dispatch covers {_QUADRANT_ALGOS})"
        )
    if algo == "invdistnn":
        # GDALGridInverseDistanceToAPowerNearestNeighborOptions carries a
        # single circular dfRadius and no angle (gdal_alg.h)
        if radius2 is not None or angle != 0.0:
            raise ValueError("invdistnn supports a circular radius only (no radius2/angle)")
        if not np.isfinite(radius):
            raise ValueError("invdistnn requires a finite search radius")
    if algo == "linear":
        return _linear_grid(points, spec, radius, nodata, x_col, y_col, z_col)
    ts = spec.tile_size
    ntx, nty = spec.ntiles_x, spec.ntiles_y

    hx, hy = _ellipse_bbox(radius, radius2, angle)

    def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = pdf[x_col].to_numpy(np.float64)
            y = pdf[y_col].to_numpy(np.float64)
            z = pdf[z_col].to_numpy(np.float64)
            px, py = spec.world_to_pixel(x, y)
            rpx = hx / abs(spec.gt[1]) if np.isfinite(hx) else float("inf")
            rpy = hy / abs(spec.gt[5]) if np.isfinite(hy) else float("inf")
            out = {"ty": [], "tx": [], "x": [], "y": [], "z": []}
            for i in range(len(pdf)):
                tx0 = 0 if not np.isfinite(rpx) else max(int((px[i] - rpx) // ts), 0)
                tx1 = ntx - 1 if not np.isfinite(rpx) else min(int((px[i] + rpx) // ts), ntx - 1)
                ty0 = 0 if not np.isfinite(rpy) else max(int((py[i] - rpy) // ts), 0)
                ty1 = nty - 1 if not np.isfinite(rpy) else min(int((py[i] + rpy) // ts), nty - 1)
                for tyy in range(ty0, ty1 + 1):
                    for txx in range(tx0, tx1 + 1):
                        out["ty"].append(tyy)
                        out["tx"].append(txx)
                        out["x"].append(x[i])
                        out["y"].append(y[i])
                        out["z"].append(z[i])
            yield pd.DataFrame(out)

    exploded = points.select(
        F.col(x_col).alias("x"), F.col(y_col).alias("y"), F.col(z_col).alias("z")
    ).mapInPandas(_explode, _PT_SCHEMA)

    # every tile must materialize (empty tiles are nodata-filled):
    # seed one NaN marker row per tile key, skipped by the kernel
    spark = points.sparkSession
    all_keys = (
        spark.range(nty)
        .select(F.col("id").alias("ty"))
        .crossJoin(spark.range(ntx).select(F.col("id").alias("tx")))
        .select("ty", "tx", F.lit(float("nan")).alias("x"), F.lit(float("nan")).alias("y"), F.lit(float("nan")).alias("z"))
    )
    exploded = exploded.unionByName(all_keys)

    r1 = radius
    rr2 = r1 if radius2 is None else radius2
    r1sq, r2sq, r12sq = r1 * r1, rr2 * rr2, (r1 * r1) * (rr2 * rr2)
    ang = float(np.deg2rad(angle))
    rotated = ang != 0.0
    cosA, sinA = float(np.cos(ang)), float(np.sin(ang))
    smooth2 = smoothing * smoothing

    def _in_ellipse(dx: np.ndarray, dy: np.ndarray) -> np.ndarray:
        # gdalgrid.cpp:148-159 — rotate the offset by -angle, then
        # r2²·x'² + r1²·y'² <= r1²·r2²  (reduces to d² <= r² when
        # circular; inf radius means everything qualifies)
        if not (np.isfinite(r1sq) and np.isfinite(r2sq)):
            return np.ones(dx.shape, dtype=bool)
        if rotated:
            rx = dx * cosA + dy * sinA
            ry = dy * cosA - dx * sinA
        else:
            rx, ry = dx, dy
        return r2sq * rx * rx + r1sq * ry * ry <= r12sq

    def _grid(key, pdf):
        tyy, txx = int(key[0]), int(key[1])
        h, w = spec.tile_shape(tyy, txx)
        # cell centers in world coords (pixel centers: +0.5 convention)
        jj, ii = np.meshgrid(np.arange(w), np.arange(h))
        cx, cy = spec.pixel_to_world(txx * ts + jj + 0.5, tyy * ts + ii + 0.5)
        pdf = pdf[~pdf["z"].isna()]  # drop tile-key marker rows
        # deterministic point order (the quadtree encounter order of the
        # reference is replaced by (x, y, z) — affects nearest ties only)
        pdf = pdf.sort_values(["x", "y", "z"])
        px = pdf["x"].to_numpy(np.float64)
        py = pdf["y"].to_numpy(np.float64)
        pz = pdf["z"].to_numpy(np.float64)

        num = np.zeros((h, w))
        den = np.zeros((h, w))
        cnt = np.zeros((h, w), dtype=np.int64)
        vmin = np.full((h, w), np.inf)
        vmax = np.full((h, w), -np.inf)
        dsum = np.zeros((h, w))
        best_d2 = np.full((h, w), np.inf)
        best_z = np.full((h, w), nodata)
        exact = np.full((h, w), np.nan)
        for k in range(len(px)):
            dx = px[k] - cx
            dy = py[k] - cy
            d2 = dx * dx + dy * dy
            m = _in_ellipse(dx, dy)
            if algo == "invdist":
                # gdalgrid.cpp:143-176: dfR2 includes smoothing²; the
                # exact-hit shortcut fires inside the ellipse at
                # dfR2 < 1e-13; max_points>0 stops a cell after it has
                # accepted max_points+1 in-ellipse points (the
                # reference breaks AFTER accumulating — replicated)
                r2w = d2 + smooth2
                hit = m & (r2w < 1e-13)
                if hit.any():
                    exact[hit] = pz[k]
                acc = m & ~hit
                if max_points > 0:
                    acc &= cnt <= max_points
                cnt += acc
                wgt = np.zeros_like(d2)
                wgt[acc] = 1.0 / np.power(r2w[acc], power / 2.0)
                num += wgt * pz[k]
                den += wgt
            elif algo == "nearest":
                better = m & (d2 < best_d2)
                best_d2[better] = d2[better]
                best_z[better] = pz[k]
            else:
                cnt += m
                if algo == "average":
                    num += np.where(m, pz[k], 0.0)
                elif algo in ("minimum", "range"):
                    vmin = np.where(m, np.minimum(vmin, pz[k]), vmin)
                if algo in ("maximum", "range"):
                    vmax = np.where(m, np.maximum(vmax, pz[k]), vmax)
                if algo == "average_distance":
                    dsum += np.where(m, np.sqrt(d2), 0.0)

        need = max(min_points, 1)
        if algo == "invdist":
            ok = (den > 0) & (cnt >= min_points if min_points > 0 else True)
            out = np.where(ok, num / np.maximum(den, 1e-300), nodata)
            out = np.where(np.isnan(exact), out, exact)
        elif algo == "nearest":
            out = np.where(np.isfinite(best_d2), best_z, nodata)
        elif algo == "average":
            out = np.where(cnt >= need, num / np.maximum(cnt, 1), nodata)
        elif algo == "minimum":
            out = np.where(cnt >= need, vmin, nodata)
        elif algo == "maximum":
            out = np.where(cnt >= need, vmax, nodata)
        elif algo == "range":
            out = np.where(cnt >= need, vmax - vmin, nodata)
        elif algo == "count":
            # GDALGridDataMetricCount also honors nMinPoints
            out = np.where(cnt >= need, cnt.astype(np.float64), nodata) if min_points > 0 else cnt.astype(np.float64)
        else:  # average_distance
            out = np.where(cnt >= need, dsum / np.maximum(cnt, 1), nodata)
        return pd.DataFrame([tilecodec.tile_row(1, tyy, txx, copy_word(out, spec.dtype))])

    min_ppq, max_ppq = min_points_per_quadrant, max_points_per_quadrant
    # captured at plan time (driver) so tests can monkeypatch the limit
    pair_limit = _PAIR_MATRIX_MAX_PTS
    # global max_points caps the per-quadrant round robin for
    # invdistnn/average only; the reference comments the break out for
    # data metrics (gdalgrid.cpp:1298-1301)
    cap_total = max_points if algo in ("invdistnn", "average") else 0

    def _ranks_stable(keys: np.ndarray) -> np.ndarray:
        """Per-column rank of each row under a stable ascending sort —
        the vectorized analog of the reference's multimap iteration
        order (ties resolve in row = deterministic point order)."""
        order = np.argsort(keys, axis=0, kind="stable")
        ranks = np.empty_like(order)
        np.put_along_axis(
            ranks, order,
            np.broadcast_to(np.arange(keys.shape[0])[:, None], keys.shape).copy(),
            axis=0,
        )
        return ranks

    def _grid_select(key, pdf):
        """Per-cell nearest-k / per-quadrant selection kernel
        (invdistnn, *PerQuadrant variants, average_distance_pts):
        cell-chunked (npts x cells) distance matrices instead of the
        per-point accumulation loop, because selection needs a sort
        over each cell's candidate set."""
        tyy, txx = int(key[0]), int(key[1])
        h, w = spec.tile_shape(tyy, txx)
        jj, ii = np.meshgrid(np.arange(w), np.arange(h))
        cx, cy = spec.pixel_to_world(txx * ts + jj + 0.5, tyy * ts + ii + 0.5)
        fcx, fcy = cx.ravel(), cy.ravel()
        ncells = h * w
        pdf = pdf[~pdf["z"].isna()]
        pdf = pdf.sort_values(["x", "y", "z"])
        px = pdf["x"].to_numpy(np.float64)
        py = pdf["y"].to_numpy(np.float64)
        pz = pdf["z"].to_numpy(np.float64)
        npts = len(px)
        out = np.full(ncells, nodata, dtype=np.float64)
        if npts:
            pair_d = None
            if algo == "average_distance_pts" and npts <= pair_limit:
                # sqrt(dx²+dy²) exactly as the reference accumulates
                # (gdalgrid.cpp AverageDistancePts; not np.hypot, whose
                # last-ulp can differ). Above 8192 candidates the
                # (npts, npts) matrix would exceed 512 MB — the kernel
                # then streams D in row blocks instead
                ddx = px[:, None] - px[None, :]
                ddy = py[:, None] - py[None, :]
                pair_d = np.sqrt(ddx * ddx + ddy * ddy)
                # release the two factor matrices NOW: keeping them live
                # through the cell-chunk loop would hold 3x the 512 MB
                # budget the pair_limit guard promises
                del ddx, ddy
            chunk = max(1, 4_000_000 // npts)
            # blocked average_distance_pts: the per-chunk valid masks
            # are computed ONCE (stored bit-packed, npts*ncells/8 bytes)
            # and the O(npts^2) distance matrix is streamed in row
            # blocks ONCE for the whole tile — nesting the block loop
            # inside the chunk loop would recompute all npts^2
            # distances per chunk (~2 orders of magnitude more flops)
            blocked_avg = algo == "average_distance_pts" and pair_d is None
            packed_masks: list[np.ndarray] = []
            chunk_bounds: list[tuple[int, int]] = []
            if blocked_avg:
                npairs_all = np.zeros(ncells, dtype=np.int64)
                ok_all = np.zeros(ncells, dtype=bool)
            for c0 in range(0, ncells, chunk):
                c1 = min(c0 + chunk, ncells)
                dx = px[:, None] - fcx[None, c0:c1]
                dy = py[:, None] - fcy[None, c0:c1]
                if rotated:
                    rx = dx * cosA + dy * sinA
                    ry = dy * cosA - dx * sinA
                else:
                    rx, ry = dx, dy
                if np.isfinite(r1sq) and np.isfinite(r2sq):
                    valid = r2sq * rx * rx + r1sq * ry * ry <= r12sq
                else:
                    valid = np.ones(rx.shape, dtype=bool)
                d2 = dx * dx + dy * dy

                if algo == "average_distance_pts":
                    cnt = valid.sum(axis=0)
                    npairs = cnt * (cnt - 1) // 2
                    ok = (npairs >= min_points) & (npairs > 0)
                    if blocked_avg:
                        packed_masks.append(np.packbits(valid))
                        chunk_bounds.append((c0, c1))
                        npairs_all[c0:c1] = npairs
                        ok_all[c0:c1] = ok
                        continue
                    m = valid.astype(np.float64)
                    pair_sum = (m * (pair_d @ m)).sum(axis=0) * 0.5
                    out[c0:c1] = np.where(ok, pair_sum / np.maximum(npairs, 1), nodata)
                    continue

                sel_key = d2 + smooth2 if algo == "invdistnn" else d2
                if quadrant_mode:
                    # quadrant from the ROTATED offset signs
                    # (gdalgrid.cpp:808: after rotation)
                    quad = (rx >= 0).astype(np.int8) | ((ry >= 0).astype(np.int8) << 1)
                    take = np.zeros(valid.shape, dtype=bool)
                    rank_all = np.zeros(valid.shape, dtype=np.int64)
                    for q in range(4):
                        mq = valid & (quad == q)
                        rq = _ranks_stable(np.where(mq, sel_key, np.inf))
                        if max_ppq > 0:
                            mq &= rq < max_ppq
                        take |= mq
                        rank_all = np.where(quad == q, rq, rank_all)
                    if cap_total > 0:
                        # round-robin order == sort by (in-quadrant rank,
                        # quadrant); take the first cap_total eligible
                        seq = np.where(take, rank_all * 4 + quad, np.iinfo(np.int64).max)
                        take &= _ranks_stable(seq) < cap_total
                else:
                    take = valid
                    if cap_total > 0:
                        take &= _ranks_stable(np.where(valid, sel_key, np.inf)) < cap_total

                n_sel = take.sum(axis=0)
                if algo == "invdistnn":
                    wgt = np.zeros(d2.shape)
                    smoothed = d2 + smooth2
                    wgt[take] = 1.0 / np.power(smoothed[take], power / 2.0)
                    den = wgt.sum(axis=0)
                    num = (wgt * pz[:, None]).sum(axis=0)
                    val = np.where(den > 0, num / np.maximum(den, 1e-300), nodata)
                    ok = (n_sel >= min_points) & (den > 0)
                    val = np.where(ok, val, nodata)
                elif algo == "average":
                    ssum = np.where(take, pz[:, None], 0.0).sum(axis=0)
                    ok = n_sel >= max(min_points, 1)
                    val = np.where(ok, ssum / np.maximum(n_sel, 1), nodata)
                elif algo in ("minimum", "maximum", "range"):
                    vmin = np.where(take, pz[:, None], np.inf).min(axis=0)
                    vmax = np.where(take, pz[:, None], -np.inf).max(axis=0)
                    ok = n_sel >= max(min_points, 1)
                    base = vmin if algo == "minimum" else vmax if algo == "maximum" else vmax - vmin
                    val = np.where(ok, base, nodata)
                elif algo == "count":
                    ok = n_sel >= min_points
                    val = np.where(ok, n_sel.astype(np.float64), nodata)
                else:  # average_distance
                    dsum = np.where(take, np.sqrt(d2), 0.0).sum(axis=0)
                    ok = (n_sel >= min_points) & (n_sel > 0)
                    val = np.where(ok, dsum / np.maximum(n_sel, 1), nodata)

                if quadrant_mode and min_ppq > 0:
                    bad = np.zeros(c1 - c0, dtype=bool)
                    for q in range(4):
                        bad |= (take & (quad == q)).sum(axis=0) < min_ppq
                    val = np.where(bad, nodata, val)

                if algo == "invdistnn":
                    # exact-hit shortcut fires during candidate collection,
                    # BEFORE the radius test and any quadrant/min gating
                    # (gdalgrid.cpp:289-295)
                    ex = (d2 + smooth2) < 1e-13
                    ex_any = ex.any(axis=0)
                    if ex_any.any():
                        val = np.where(ex_any, pz[ex.argmax(axis=0)], val)

                out[c0:c1] = val

            if blocked_avg and packed_masks:
                # block pass: each O(block x npts) distance slab is
                # computed exactly once for the whole tile and applied
                # to every chunk's unpacked mask
                pair_sums = np.zeros(ncells)
                for b0 in range(0, npts, 2048):
                    b1 = min(b0 + 2048, npts)
                    bdx = px[b0:b1, None] - px[None, :]
                    bdy = py[b0:b1, None] - py[None, :]
                    bD = np.sqrt(bdx * bdx + bdy * bdy)
                    del bdx, bdy
                    for packed, (c0, c1) in zip(packed_masks, chunk_bounds):
                        nc = c1 - c0
                        m = np.unpackbits(packed, count=npts * nc).reshape(
                            npts, nc).astype(np.float64)
                        pair_sums[c0:c1] += (m[b0:b1] * (bD @ m)).sum(axis=0)
                pair_sums *= 0.5
                out[:] = np.where(
                    ok_all, pair_sums / np.maximum(npairs_all, 1), nodata)
        out = out.reshape(h, w)
        return pd.DataFrame([tilecodec.tile_row(1, tyy, txx, copy_word(out, spec.dtype))])

    kernel = _grid_select if (algo in ("invdistnn", "average_distance_pts") or quadrant_mode) else _grid
    return exploded.groupBy("ty", "tx").applyInPandas(kernel, TILE_SCHEMA)


SAMPLE_SCHEMA = StructType(
    [
        StructField("pid", LongType()),
        StructField("value", DoubleType()),
    ]
)


def interpolate_at_points(
    tiles: DataFrame,
    spec: RasterSpec,
    points: DataFrame,
    method: str = "bilinear",
    id_col: str = "pid",
    x_col: str = "x",
    y_col: str = "y",
    band: int = 1,
    exact_seams: bool = False,
) -> DataFrame:
    """Sample the raster at world points (gdal_interpolateatpoint.cpp:
    415 GDALInterpolateAtPoint): bilinear uses the warp kernel's
    floor(x-0.5) index math — bit-identical to gdalwarp for points
    whose 2x2 sample window lies inside one tile (i.e. more than half
    a pixel from interior tile seams).

    Default path KNOWN DEVIATION at interior tile seams: each point
    joins only the tile containing it and the bilinear read clamps at
    that tile's edge, so samples within 0.5 px of a seam degrade to
    the clamped neighbor exactly as if the seam were a raster edge.

    exact_seams=True removes the deviation: tiles exchange a 1-px halo
    (the focal_apply exchange) and each point samples the padded
    window, so seam-adjacent reads see the true neighbor pixels —
    bit-identical to sampling the whole assembled raster everywhere.
    (Edge replication in the padded window reproduces warp_bilinear's
    raster-border degrade/renormalize rules exactly: the replicated
    corner equals the in-bounds corner it would renormalize onto.)
    Costs one extra shuffle of tile border strips; point keying is
    unchanged.
    """
    ts = spec.tile_size

    p = points.select(
        F.col(id_col).alias("pid"), F.col(x_col).alias("x"), F.col(y_col).alias("y")
    )
    # tile key per point (JVM-side arithmetic)
    g0, g1, _, g3, _, g5 = spec.gt
    px = (F.col("x") - g0) / g1
    py = (F.col("y") - g3) / g5
    p = p.withColumn("ty", F.floor(py / ts).cast("int")).withColumn("tx", F.floor(px / ts).cast("int"))
    t = tiles.filter(F.col("band") == band)

    if exact_seams:
        from gdal_spark.operators.focal import _halo_explode, assemble_padded

        pieces = _halo_explode(t, 1)

        def _sample_padded(key, pieces_pdf, pts_pdf):
            empty = pd.DataFrame(
                {"pid": pd.array([], dtype="int64"), "value": pd.array([], dtype="float64")}
            )
            if not len(pts_pdf):
                return empty
            tyy, txx = int(key[0]), int(key[1])
            # spec-aware: a point keying into an in-bounds tile ABSENT
            # from a sparse table samples the init canvas (repo-wide
            # convention); only out-of-raster keys drop
            asm = assemble_padded(pieces_pdf, 1, spec, tyy, txx)
            if asm is None:  # points outside the raster: dropped (as default path)
                return empty
            padded, _h, _w = asm
            sx, sy = spec.world_to_pixel(
                pts_pdf["x"].to_numpy(np.float64), pts_pdf["y"].to_numpy(np.float64)
            )
            # GLOBAL coords + windowed gather: all fraction/validity
            # arithmetic is bit-identical to whole-raster sampling
            origin = (txx * ts - 1, tyy * ts - 1)
            bounds = (spec.width, spec.height)
            if method == "nearest":
                vals, ok = warp_nearest(padded, sx, sy, origin=origin, bounds=bounds)
            else:
                vals, ok = warp_bilinear(padded, sx, sy, origin=origin, bounds=bounds)
            # points beyond the raster extent that still key into an
            # edge tile would otherwise return the CLAMPED edge value —
            # GDALRasterInterpolateAtPoint fails there (pixel_info NULL)
            return pd.DataFrame(
                {"pid": pts_pdf["pid"].to_numpy()[ok], "value": vals[ok]}
            )

        return (
            pieces.groupBy("ty", "tx")
            .cogroup(p.groupBy("ty", "tx"))
            .applyInPandas(_sample_padded, SAMPLE_SCHEMA)
        )

    # LEFT join + in-bounds key filter: a point keying into an
    # in-bounds tile ABSENT from a sparse table samples the init
    # canvas (the repo-wide absent-tile convention — the exact_seams
    # path above already does this); out-of-range keys drop as before
    p_in = p.filter(
        (F.col("ty") >= 0) & (F.col("ty") < spec.ntiles_y)
        & (F.col("tx") >= 0) & (F.col("tx") < spec.ntiles_x)
    )
    joined = p_in.join(t, ["ty", "tx"], "left")

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for (tyy, txx), grp in pdf.groupby(["ty", "tx"]):
                r = grp.iloc[0]
                if r["payload"] is None:
                    sh = spec.tile_shape(int(tyy), int(txx))
                    tile = np.full(sh, spec.init, dtype=np.float64)
                else:
                    # int() casts: the left join makes h/w nullable, so
                    # pandas holds them as float64 even for present rows
                    tile = tilecodec.decode_row(r).astype(np.float64)
                sx, sy = spec.world_to_pixel(grp["x"].to_numpy(np.float64), grp["y"].to_numpy(np.float64))
                sx = sx - txx * ts
                sy = sy - tyy * ts
                if method == "nearest":
                    vals, ok = warp_nearest(tile, sx, sy)
                else:
                    vals, ok = warp_bilinear(tile, sx, sy)
                # beyond-raster positions keying into an edge tile are
                # invalid, not edge-clamped (InterpolateAtPoint failure)
                outs.append(pd.DataFrame({"pid": grp["pid"].to_numpy()[ok], "value": vals[ok]}))
            yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                {"pid": pd.array([], dtype="int64"), "value": pd.array([], dtype="float64")}
            )

    return joined.mapInPandas(_sample, SAMPLE_SCHEMA)


def pixel_info(
    tiles: DataFrame,
    spec: RasterSpec,
    points: DataFrame,
    bands: tuple = (1,),
    interpolation: str = "nearest",
    scales: dict | None = None,
    offsets: dict | None = None,
    id_col: str = "pid",
    x_col: str = "x",
    y_col: str = "y",
    exact_seams: bool = False,
) -> DataFrame:
    """`gdal raster pixel-info` (apps/gdalalg_raster_pixel_info.cpp:
    716-739 coordinate rule, :860-948 band loop): for each query
    point, the fractional (column, line) via the inverse
    geotransform, the integer cell floor(column)/floor(line), and per
    requested band the sampled raw value (GDALRasterInterpolateAtPoint
    at the fractional position — default nearest) plus unscaled_value
    = raw * scale + offset (:927-936). Points outside the raster keep
    their coordinate columns with NULL values (the reference reports
    the position and omits the value on sample failure).

    Spark shape: (column, line) is pure Catalyst; sampling reuses the
    interpolate_at_points tile-keyed join per band (one broadcast-less
    equi-join on (ty, tx) each); the point table LEFT-joins the
    samples so off-raster points survive. No collect, no Python in
    the coordinate path."""
    scales = scales or {}
    offsets = offsets or {}
    g0, g1, _, g3, _, g5 = spec.gt
    p = points.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    ).withColumns(
        {
            "column": (F.col("x") - F.lit(g0)) / F.lit(g1),
            "line": (F.col("y") - F.lit(g3)) / F.lit(g5),
        }
    )
    p = p.withColumns(
        {
            "pixel": F.floor(F.col("column")).cast("long"),
            "line_i": F.floor(F.col("line")).cast("long"),
        }
    )
    method = "nearest" if interpolation in ("near", "nearest") else interpolation
    out = None
    for b in bands:
        sampled = interpolate_at_points(
            tiles, spec, p, method=method, band=b, exact_seams=exact_seams
        ).withColumnRenamed("value", "raw_value")
        sc = float(scales.get(b, 1.0))
        off = float(offsets.get(b, 0.0))
        one = (
            p.join(sampled, "pid", "left")
            .withColumn("band", F.lit(int(b)))
            .withColumn(
                "unscaled_value", F.col("raw_value") * F.lit(sc) + F.lit(off)
            )
        )
        out = one if out is None else out.unionByName(one)
    return out.select(
        "pid", "x", "y", "column", "line", "pixel",
        F.col("line_i").alias("line_cell"), "band", "raw_value",
        "unscaled_value",
    )
