"""Line-of-sight over a distributed DEM (GDALIsLineOfSightVisible,
alg/los.cpp:183).

Reference semantics reproduced exactly:
  - endpoints are pre-checked first: A then B (los.cpp:211-221) — a
    below-terrain endpoint reports ITS cell even if an interior cell
    also blocks
  - the path walks Bresenham cells (los.cpp:37 Bresenham2D); the
    integer recurrence has the closed form (verified against the
    scalar loop): for dx >= dy, at the i-th x step
        y = yA + incy * floor((2*dy*i + dx) / (2*dx))
    (the steep case is symmetric) — so the whole path is a Catalyst
    range expression, no driver loop
  - the LOS height at a cell lerps zA..zB by the euclidean distance
    ratio (GetZValueFromXY, los.cpp:340-353; reduces exactly to the
    axis ratio for horizontal/vertical paths)
  - a cell is clear iff z_los >= terrain (equal counts visible,
    los.cpp:128)

Distributed shape: the path cells are generated JVM-side from
spark.range, keyed to (ty, tx) and joined against ONLY the DEM tiles
the ray crosses (O(path/tile_size) tiles move); each tile task checks
its cells vectorized; the first violation in the reference's priority
order (A, B, then walk order) decides the result.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec


def line_of_sight(
    tiles: DataFrame,
    spec: RasterSpec,
    a: tuple[int, int, float],
    b: tuple[int, int, float],
    band: int = 1,
) -> Row:
    """LOS between pixel-space points a=(xA, yA, zA) and b=(xB, yB,
    zB). Returns Row(visible, ix, iy) — (ix, iy) = the blocking cell
    (-1, -1 when visible), matching GDALIsLineOfSightVisible's out
    params. The result is a single boolean so it is materialized
    (one tiny distributed aggregation), not returned lazily."""
    xa, ya, za = int(a[0]), int(a[1]), float(a[2])
    xb, yb, zb = int(b[0]), int(b[1]), float(b[2])
    spark = tiles.sparkSession
    dx, dy = abs(xb - xa), abs(yb - ya)
    incx, incy = (1 if xb >= xa else -1), (1 if yb >= ya else -1)
    steps = max(dx, dy)
    ts = spec.tile_size

    i = F.col("id")
    if dx >= dy:
        px = F.lit(xa) + F.lit(incx) * i
        py = F.lit(ya) + F.lit(incy) * F.floor(
            (2 * dy * i + F.lit(dx)) / F.lit(max(2 * dx, 1))
        ).cast("long")
    else:
        py = F.lit(ya) + F.lit(incy) * i
        px = F.lit(xa) + F.lit(incx) * F.floor(
            (2 * dx * i + F.lit(dy)) / F.lit(2 * dy)
        ).cast("long")
    denom = float(dx * dx + dy * dy) if steps else 1.0
    ratio = F.sqrt(
        ((px - xa) * (px - xa) + (py - ya) * (py - ya)).cast("double") / F.lit(denom)
    )
    zlos = F.lit(za) + ratio * F.lit(zb - za)
    # reference priority: endpoint A, endpoint B, then walk order
    prio = (
        F.when(i == 0, F.lit(0))
        .when(i == steps, F.lit(1))
        .otherwise(i + 2)
    )
    cells = (
        spark.range(steps + 1)
        .select(
            px.alias("px"), py.alias("py"), zlos.alias("zlos"), prio.alias("prio")
        )
        .withColumn("ty", (F.col("py") / ts).cast("int"))
        .withColumn("tx", (F.col("px") / ts).cast("int"))
    )

    src = tiles.filter(F.col("band") == band).select(
        "ty", "tx", "h", "w", "dtype", "payload"
    )
    joined = cells.join(src, ["ty", "tx"], "left")

    out_schema = StructType(
        [
            StructField("prio", LongType()),
            StructField("px", LongType()),
            StructField("py", LongType()),
        ]
    )

    def _check(key, pdf):
        rows = []
        have = pdf["payload"].notna()
        if have.any():
            r0 = pdf[have].iloc[0]
            t = tilecodec.decode_row(r0)
            ly = pdf["py"].to_numpy(np.int64) - int(key[0]) * ts
            lx = pdf["px"].to_numpy(np.int64) - int(key[1]) * ts
            inb = (ly >= 0) & (ly < t.shape[0]) & (lx >= 0) & (lx < t.shape[1])
            terr = np.full(len(pdf), np.inf)
            terr[inb] = t[ly[inb], lx[inb]]
            blocked = pdf["zlos"].to_numpy(np.float64) < terr
        else:
            blocked = np.ones(len(pdf), dtype=bool)  # off-raster: GetElevation fails
        for k in np.flatnonzero(blocked):
            rows.append(
                {"prio": int(pdf["prio"].iloc[k]), "px": int(pdf["px"].iloc[k]),
                 "py": int(pdf["py"].iloc[k])}
            )
        return pd.DataFrame(rows, columns=["prio", "px", "py"])

    hits = joined.groupBy("ty", "tx").applyInPandas(_check, out_schema)
    first = hits.orderBy("prio").limit(1).collect()
    if not first:
        return Row(visible=True, ix=-1, iy=-1)
    return Row(visible=False, ix=int(first[0]["px"]), iy=int(first[0]["py"]))
