"""Zonal statistics over rasters (alg/zonal.cpp:274 GDALZonalStatsImpl):
statistics of value-raster pixels grouped by the zone each pixel falls
in, zones supplied as polygons and burned with the exact rasterize
center rule (a pixel belongs to the zone covering its center).

Distributed shape: zones are rasterized into a zone-id tile table
(same grid as the value raster), the two tile tables equi-join on
(band, ty, tx) — co-partitioned, no wide shuffle — and each tile
computes PARTIAL (zone, count, sum, min, max) rows via numpy bincount;
a final tiny groupBy(zone) merges partials (all four stats are
distributive, so this is Spark's partial+final aggregate pattern
applied to raster payloads)."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec, rasterize

PARTIAL_SCHEMA = StructType(
    [
        StructField("zone", LongType()),
        StructField("n_px", LongType()),
        StructField("sum_v", DoubleType()),
        StructField("min_v", DoubleType()),
        StructField("max_v", DoubleType()),
    ]
)


def rasterize_zones(zones: DataFrame, spec: RasterSpec, fid_col: str = "fid", wkt_col: str = "wkt") -> DataFrame:
    """Burn zone polygons to a zone-id raster: burn value = fid + 1
    (0 = background), REPLACE in feature order (last wins on overlap,
    the gdal_rasterize default)."""
    shapes = zones.select(
        F.col(fid_col).alias("fid"),
        F.col(wkt_col).alias("wkt"),
        F.array((F.col(fid_col) + 1).cast("double")).alias("burn_values"),
    )
    zspec = RasterSpec(
        width=spec.width, height=spec.height, gt=spec.gt,
        dtype="int32", nbands=1, init=0.0, tile_size=spec.tile_size,
    )
    return rasterize(shapes, zspec, merge_alg="replace")


def zonal_stats_raster(value_tiles: DataFrame, zone_tiles: DataFrame, band: int = 1) -> DataFrame:
    """(zone, n_px, sum_v, min_v, max_v) over pixels whose zone id is
    non-zero. Join key (ty, tx): both tile tables share the grid."""
    v = value_tiles.filter(F.col("band") == band).select(
        "ty", "tx", F.col("h").alias("vh"), F.col("w").alias("vw"),
        F.col("dtype").alias("vdtype"), F.col("payload").alias("vpayload"),
    )
    z = zone_tiles.filter(F.col("band") == 1).select(
        "ty", "tx", F.col("dtype").alias("zdtype"), F.col("payload").alias("zpayload"),
    )
    joined = v.join(z, ["ty", "tx"])

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                shape, key = (int(r.vh), int(r.vw)), (band, r.ty, r.tx)
                vals = tilecodec.decode(r.vpayload, r.vdtype, shape, key).astype(np.float64).ravel()
                zones = tilecodec.decode(r.zpayload, r.zdtype, shape, key).astype(np.int64).ravel()
                m = zones > 0
                if not m.any():
                    continue
                zm, vm = zones[m], vals[m]
                order = np.argsort(zm, kind="stable")
                zm, vm = zm[order], vm[order]
                bounds = np.concatenate([[0], np.flatnonzero(np.diff(zm)) + 1, [zm.size]])
                uz = zm[bounds[:-1]]
                outs.append(
                    pd.DataFrame(
                        {
                            "zone": uz - 1,  # back to fid
                            "n_px": np.diff(bounds),
                            "sum_v": np.add.reduceat(vm, bounds[:-1]),
                            "min_v": np.minimum.reduceat(vm, bounds[:-1]),
                            "max_v": np.maximum.reduceat(vm, bounds[:-1]),
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                {"zone": pd.array([], dtype="int64"), "n_px": pd.array([], dtype="int64"),
                 "sum_v": pd.array([], dtype="float64"), "min_v": pd.array([], dtype="float64"),
                 "max_v": pd.array([], dtype="float64")}
            )

    partials = joined.mapInPandas(_partial, PARTIAL_SCHEMA)
    return partials.groupBy("zone").agg(
        F.sum("n_px").alias("n_px"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )
