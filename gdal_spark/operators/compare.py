"""gdalcompare — distributed golden-vs-new raster comparison.

Reference: /root/reference/swig/python/gdal-utils/osgeo_utils/
gdalcompare.py — compare_band (:128) checks the band checksum first
and, on mismatch, compare_image_pixels (:80) reports "Pixels
Differing" (count of nonzero golden - new) and "Maximum Pixel
Difference" (max |golden - new|, both sides read as Float64).

Spark shape: the two tile tables full-outer join on (band, ty, tx) —
co-partitioned, one exchange each — and every tile diffs inside one
Arrow batch pass; counts/maxes then reduce in a map-side-combinable
groupBy(band). Tiles absent on one side compare against the grid's
init fill (the dense-raster semantic for sparse tile tables). The
GDALChecksumImage pair rides the same plan via the existing
distributive partials (raster.py checksum_col).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec, checksum_col


def raster_compare(golden: DataFrame, new: DataFrame, spec: RasterSpec) -> DataFrame:
    """-> (band, checksum_golden, checksum_new, pixels_differing,
    max_diff): gdalcompare's per-band pixel report, distributed."""
    g = golden.select(
        "band", "ty", "tx",
        F.col("h").alias("gh"), F.col("w").alias("gw"),
        F.col("dtype").alias("gdt"), F.col("payload").alias("gp"),
    )
    n = new.select(
        "band", "ty", "tx",
        F.col("h").alias("nh"), F.col("w").alias("nw"),
        F.col("dtype").alias("ndt"), F.col("payload").alias("np"),
    )
    j = g.join(n, ["band", "ty", "tx"], "full_outer")
    init = float(spec.init)
    ts = spec.tile_size
    width, height = spec.width, spec.height

    def _diff(batches):
        for pdf in batches:
            bands, diffs, maxds = [], [], []
            for i in range(len(pdf)):
                ty, tx = int(pdf["ty"].iloc[i]), int(pdf["tx"].iloc[i])
                h = min(ts, height - ty * ts)
                w = min(ts, width - tx * ts)
                gp, np_ = pdf["gp"].iloc[i], pdf["np"].iloc[i]
                if gp is not None:
                    ga = tilecodec.decode(gp, pdf["gdt"].iloc[i], (h, w), (pdf["band"].iloc[i], ty, tx)).ravel().astype(np.float64)
                else:
                    ga = np.full(h * w, init)
                if np_ is not None:
                    na = tilecodec.decode(np_, pdf["ndt"].iloc[i], (h, w), (pdf["band"].iloc[i], ty, tx)).ravel().astype(np.float64)
                else:
                    na = np.full(h * w, init)
                d = ga - na
                bands.append(int(pdf["band"].iloc[i]))
                diffs.append(int(np.count_nonzero(d)))
                maxds.append(float(np.abs(d).max()) if d.size else 0.0)
            yield pd.DataFrame({"band": bands, "diffs": diffs, "maxd": maxds})

    per_band = (
        j.mapInPandas(_diff, "band int, diffs long, maxd double")
        .groupBy("band")
        .agg(
            F.sum("diffs").alias("pixels_differing"),
            F.max("maxd").alias("max_diff"),
        )
    )
    cg = checksum_col(golden, spec).withColumnRenamed("checksum", "checksum_golden")
    cn = checksum_col(new, spec).withColumnRenamed("checksum", "checksum_new")
    return (
        per_band.join(cg, "band", "left").join(cn, "band", "left")
        .select("band", "checksum_golden", "checksum_new", "pixels_differing", "max_diff")
    )
