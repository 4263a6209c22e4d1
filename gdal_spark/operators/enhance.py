"""gdalenhance — histogram equalization to Byte.

Reference: /root/reference/apps/gdalenhance.cpp:

  * ComputeEqualizationLUTs (:377-470): per band, take the default
    histogram (GDALGetDefaultHistogramEx — the same bucket rule as
    operators/raster.py band_histogram + default_histogram_range),
    ZERO the first and last buckets (:412-413, nodata/extremes), build
    the cumulative histogram with a half-bucket offset
    `cum[i] = total_before + hist[i] / 2` in integers (:426-430), then
    LUT[i] = clamp((cum[(i*nHistSize)/nLUTBins] * nLUTBins) / nTotal)
    (:454-461), all integer arithmetic.
  * EnhancerCallback (:478-545): source read as Float32; nodata passes
    through as byte(nodata); bin = (v - scale_min) * nLUTBins /
    (scale_max - scale_min) with NaN and negatives collapsing to bin 0
    (`!(dfBin > 0)`) and the top clamped to nLUTBins-1; output byte =
    LUT[bin]. Output type is always Byte (:488-493).

Distributed shape: the histogram is the repo's existing distributive
per-tile aggregate (band_histogram — map-side combined, <= 256 rows
per band cross the wire); the LUT build is O(bins) driver arithmetic
on that tiny result; the apply is one embarrassingly-parallel Arrow
pass over tiles with the per-band LUTs broadcast by closure. Nothing
but (band, bucket, count) rows ever leave the executors, so the plan
is scan -> partial agg -> 256-row final agg -> scan+map: exactly two
jobs regardless of raster size. (The reference's LUT config-file
read/write round-trip is file plumbing, not computation — omitted.)

For non-Byte inputs the default histogram needs band statistics
min/max first (gcore/gdalrasterband.cpp GetDefaultHistogram), which
adds one more tiny aggregate; Byte/Int8 use the fixed ranges.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import (
    TILE_SCHEMA,
    RasterSpec,
    band_histogram,
    default_histogram_range,
)


def equalization_luts(
    tiles: DataFrame,
    spec: RasterSpec,
    lut_bins: int = 256,
    nodata: float | None = None,
) -> dict[int, tuple[float, float, np.ndarray]]:
    """Per-band (scale_min, scale_max, LUT[lut_bins]) — the exact
    integer arithmetic of ComputeEqualizationLUTs. The reference
    passes bApproxOK=TRUE (overview shortcut); we compute the exact
    histogram — same contract GetDefaultHistogram documents, minus the
    approximation."""
    uniform = spec.dtype in ("uint8", "int8")
    if uniform:
        dfmin, dfmax, buckets = default_histogram_range(spec.dtype)
        ranges = {b: (dfmin, dfmax, buckets) for b in range(1, spec.nbands + 1)}
        # one histogram job covers every band (identical bucket rule)
        hist_rows: dict[int, list] = {b: [] for b in ranges}
        for r in band_histogram(tiles, spec, dfmin, dfmax, buckets, nodata=nodata).collect():
            hist_rows.setdefault(int(r["band"]), []).append(r)
    else:
        ranges = {
            int(r["band"]): default_histogram_range(spec.dtype, r["mn"], r["mx"])
            for r in _band_min_max(tiles).collect()
        }
        hist_rows = {
            b: band_histogram(
                tiles.filter(F.col("band") == b), spec, dfmin, dfmax, buckets, nodata=nodata
            ).collect()
            for b, (dfmin, dfmax, buckets) in ranges.items()
        }

    luts: dict[int, tuple[float, float, np.ndarray]] = {}
    for b, (dfmin, dfmax, buckets) in ranges.items():
        hist = np.zeros(buckets, dtype=np.int64)
        for r in hist_rows.get(b, []):
            hist[int(r["bucket"])] = int(r["count"])
        hist[0] = 0  # zero out extremes (gdalenhance.cpp:412-413)
        hist[-1] = 0
        cum = np.cumsum(hist) - hist + hist // 2  # total_before + hist[i]/2
        total = int(hist.sum())
        if total == 0:
            total = 1
        idx = (np.arange(lut_bins, dtype=np.int64) * buckets) // lut_bins
        lut = np.clip((cum[idx] * lut_bins) // total, 0, lut_bins - 1).astype(np.int64)
        luts[b] = (dfmin, dfmax, lut)
    return luts


def _band_min_max(tiles: DataFrame) -> DataFrame:
    @F.pandas_udf("tmn double, tmx double")
    def _mn_mx(tile: pd.DataFrame) -> pd.DataFrame:
        ts = [t.astype(np.float64) for t in tilecodec.decode_batch(tile)]
        return pd.DataFrame({"tmn": [float(np.nanmin(t)) for t in ts], "tmx": [float(np.nanmax(t)) for t in ts]})

    return (
        tiles.select("band", _mn_mx(F.struct(*tilecodec.TILE_COLUMNS)).alias("m"))
        .select("band", "m.tmn", "m.tmx")
        .groupBy("band")
        .agg(F.min("tmn").alias("mn"), F.max("tmx").alias("mx"))
    )


def equalize(
    tiles: DataFrame,
    spec: RasterSpec,
    lut_bins: int = 256,
    nodata: float | None = None,
    luts: dict[int, tuple[float, float, np.ndarray]] | None = None,
) -> DataFrame:
    """gdalenhance -equalize: returns the Byte tile table. Pass
    precomputed `luts` (e.g. from equalization_luts of another image)
    to mirror the reference's config-file reuse path."""
    if luts is None:
        luts = equalization_luts(tiles, spec, lut_bins=lut_bins, nodata=nodata)
    nd = nodata

    def _apply(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                b = int(r.band)
                dfmin, dfmax, lut = luts[b]
                v = tilecodec.decode_row(r).astype(np.float32)
                scale = lut_bins / (dfmax - dfmin)
                dfbin = (v.astype(np.float64) - dfmin) * scale
                ibin = np.where(
                    ~(dfbin > 0), 0,
                    np.where(~(dfbin < lut_bins - 1), lut_bins - 1, np.floor(dfbin)),
                ).astype(np.int64)
                res = lut[ibin].astype(np.uint8)
                if nd is not None:
                    res = np.where(v == np.float32(nd), np.uint8(int(nd) & 0xFF), res)
                out.append(tilecodec.tile_row(b, int(r.ty), int(r.tx), res, "uint8"))
            yield pd.DataFrame(out)

    return tiles.mapInPandas(_apply, TILE_SCHEMA)
