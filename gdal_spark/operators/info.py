"""`gdal raster info -stats` / `gdal vector info` analogs.

raster_info: per-band exact statistics the way GDALComputeStatistics
does them (gcore/rasterband.cpp ComputeStatistics: population stddev
sqrt(E[x^2] - mean^2), full-raster domain) — per-tile distributive
partials (n, sum, sumsq, min, max) in one Arrow pass, a tiny
groupBy(band) merge, and a Catalyst-side fold of the ABSENT sparse
tiles as init-valued pixels (the tile table is sparse by design; a
100 TB raster's untouched tiles must contribute their init value
without ever materializing).

vector_info: ogrinfo -summary per layer (apps/ogrinfo_lib.cpp
ReportOnLayer): feature count, geometry-type breakdown from the WKT
tag (pure Catalyst regexp — no geometry parse), and the layer extent
(OGRLayer::GetExtent = envelope union).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec


def _tile_stat_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            a = tilecodec.decode_row(r).ravel().astype(np.float64)
            if a.size == 0:
                continue
            rows.append(
                {
                    "band": int(r.band),
                    "n": int(a.size),
                    "s": float(a.sum()),
                    "s2": float((a * a).sum()),
                    "mn": float(a.min()),
                    "mx": float(a.max()),
                }
            )
        yield pd.DataFrame(rows, columns=["band", "n", "s", "s2", "mn", "mx"])


def raster_info(tiles: DataFrame, spec: RasterSpec) -> DataFrame:
    """One row per band: (band, width, height, dtype, n_px, min, max,
    mean, stddev). Exact (approx_ok=false) GDALComputeStatistics
    semantics over the FULL raster: pixels of absent sparse tiles
    count as spec.init. Bands are seeded from spec.nbands, not
    discovered from present tiles — a band whose every tile is absent
    (all pixels at init) still reports min=max=mean=init, stddev=0."""
    total_px = spec.width * spec.height
    init = float(spec.init or 0.0)
    parts = tiles.mapInPandas(
        _tile_stat_partials, "band int, n long, s double, s2 double, mn double, mx double"
    )
    bands = tiles.sparkSession.range(1, int(spec.nbands) + 1).select(
        F.col("id").cast("int").alias("band")
    )
    agg = bands.join(parts.groupBy("band").agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("s2").alias("s2"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    ), "band", "left").na.fill({"n": 0, "s": 0.0, "s2": 0.0})
    miss = F.lit(total_px) - F.col("n")
    s = F.col("s") + miss * F.lit(init)
    s2 = F.col("s2") + miss * F.lit(init * init)
    mn = F.when(miss > 0, F.least(F.col("mn"), F.lit(init))).otherwise(F.col("mn"))
    mx = F.when(miss > 0, F.greatest(F.col("mx"), F.lit(init))).otherwise(F.col("mx"))
    mean = s / F.lit(float(total_px))
    var = F.greatest(s2 / F.lit(float(total_px)) - mean * mean, F.lit(0.0))
    return agg.select(
        "band",
        F.lit(spec.width).alias("width"),
        F.lit(spec.height).alias("height"),
        F.lit(spec.dtype).alias("dtype"),
        F.lit(total_px).cast("long").alias("n_px"),
        mn.alias("min"),
        mx.alias("max"),
        mean.alias("mean"),
        F.sqrt(var).alias("stddev"),
    )


_WKT_TAG = r"^\s*([A-Za-z]+)"


def vector_info(
    df: DataFrame,
    wkt_col: str = "wkt",
    env_cols: tuple[str, str, str, str] | None = None,
) -> DataFrame:
    """One summary row: (n_features, n_points, n_lines, n_polygons,
    n_collections, n_other, minx, miny, maxx, maxy). Geometry class
    from the WKT tag (pure Catalyst); extent from envelope columns if
    given, else from a one-pass coordinate scan of the WKT numbers
    (stride 2/3/4 per vertex from the Z/M header flags — fine for the
    extent, which is a min/max over all x and y, arc curve types
    excepted)."""
    tag = F.upper(F.regexp_extract(F.col(wkt_col), _WKT_TAG, 1))
    cls = (
        F.when(tag.isin("POINT", "MULTIPOINT"), "point")
        .when(tag.isin("LINESTRING", "MULTILINESTRING", "CIRCULARSTRING", "COMPOUNDCURVE", "MULTICURVE"), "line")
        .when(tag.isin("POLYGON", "MULTIPOLYGON", "CURVEPOLYGON", "MULTISURFACE", "TRIANGLE", "POLYHEDRALSURFACE", "TIN"), "polygon")
        .when(tag == "GEOMETRYCOLLECTION", "collection")
        .otherwise("other")
    )
    d = df.select(F.col(wkt_col).alias("_wkt"), cls.alias("_cls"))
    if env_cols is not None:
        d = df.select(
            cls.alias("_cls"),
            F.col(env_cols[0]).cast("double").alias("_x0"),
            F.col(env_cols[1]).cast("double").alias("_y0"),
            F.col(env_cols[2]).cast("double").alias("_x1"),
            F.col(env_cols[3]).cast("double").alias("_y1"),
        )
    else:
        nums = F.transform(
            F.split(F.regexp_replace(F.col("_wkt"), r"[^0-9eE+.\-]+", " "), r"\s+"),
            lambda t: t.try_cast("double"),
        )
        nums = F.filter(nums, lambda v: v.isNotNull())
        # coordinate stride from the Z/M header flags: POINT Z (1 2 5)
        # carries 3 numbers per vertex — a fixed x,y alternation would
        # let z values contaminate the extent
        # (?i): the repo's WKT parser accepts lowercase 'point z (...)'
        # (geom/wkt.py IGNORECASE) — a case-sensitive probe here would
        # fall back to stride 2 and let Z values contaminate the extent
        zm = F.upper(
            F.regexp_extract(F.col("_wkt"), r"(?i)^\s*[A-Za-z]+\s+(ZM|Z|M)\s*\(", 1)
        )
        dim = (
            F.when(zm == "ZM", F.lit(4))
            .when(zm.isin("Z", "M"), F.lit(3))
            .otherwise(F.lit(2))
        )
        xs = F.filter(nums, lambda v, i: i % dim == 0)
        ys = F.filter(nums, lambda v, i: i % dim == 1)
        d = d.select(
            "_cls",
            F.array_min(xs).alias("_x0"),
            F.array_min(ys).alias("_y0"),
            F.array_max(xs).alias("_x1"),
            F.array_max(ys).alias("_y1"),
        )
    return d.agg(
        F.count(F.lit(1)).alias("n_features"),
        F.sum(F.when(F.col("_cls") == "point", 1).otherwise(0)).alias("n_points"),
        F.sum(F.when(F.col("_cls") == "line", 1).otherwise(0)).alias("n_lines"),
        F.sum(F.when(F.col("_cls") == "polygon", 1).otherwise(0)).alias("n_polygons"),
        F.sum(F.when(F.col("_cls") == "collection", 1).otherwise(0)).alias("n_collections"),
        F.sum(F.when(F.col("_cls") == "other", 1).otherwise(0)).alias("n_other"),
        F.min("_x0").alias("minx"),
        F.min("_y0").alias("miny"),
        F.max("_x1").alias("maxx"),
        F.max("_y1").alias("maxy"),
    )


# OGR field type per Spark column type (export-schema's "type" strings
# match ogrinfo -schema JSON: Integer/Integer64/Real/String + lists)
_OGR_TYPE = {
    "int": "Integer", "smallint": "Integer", "tinyint": "Integer",
    "bigint": "Integer64", "float": "Real", "double": "Real",
    "string": "String", "boolean": "Integer", "date": "Date",
    "timestamp": "DateTime", "binary": "Binary",
    "array<int>": "IntegerList", "array<bigint>": "Integer64List",
    "array<double>": "RealList", "array<string>": "StringList",
}


def export_schema(
    df: DataFrame,
    layer_name: str = "layer",
    wkt_col: str | None = "wkt",
) -> dict:
    """`gdal vector export-schema`
    (apps/gdalalg_vector_export_schema.cpp — delegates to
    GDALVectorInfo -schema): one JSON-shaped dict
    {"layers": [{"name", "fields": [{"name","type"}...],
    "geometry_fields": [...]}]} describing the layer. Column types map
    to the OGR field-type names ogrinfo prints; unmapped Spark types
    (struct, map, nested arrays) report their Spark typeName —
    deviation: the reference has no such columns to describe. Pure
    metadata — touches the DataFrame SCHEMA only, launches no job."""
    fields = []
    geom_fields = []
    for f in df.schema.fields:
        simple = f.dataType.simpleString()
        if wkt_col is not None and f.name == wkt_col:
            geom_fields.append({"name": f.name, "type": "Unknown"})
            continue
        fields.append({
            "name": f.name,
            "type": _OGR_TYPE.get(simple, simple),
            "nullable": bool(f.nullable),
        })
    return {"layers": [{"name": layer_name, "fields": fields,
                        "geometry_fields": geom_fields}]}
