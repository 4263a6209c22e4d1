"""Reference-derived fixture data (FIXTURES.md F3/F5).

byte20 = the pixel matrix of the reference's canonical test raster
autotest/gcore/data/byte.tif (20x20 UInt8, EPSG:26711,
GT [440720,60,0,3751320,0,-60]), extracted and checksum-verified
(4672) in the survey session. polygonize7x5 = the polygonize fixture
grid (autotest/alg/data/polygonize_in.grd values, NODATA=132).
"""

from __future__ import annotations

import numpy as np

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import RasterSpec

BYTE20 = np.array(
    [
        [107,123,132,115,132,132,140,132,132,132,107,132,107,132,132,107,123,115,156,148],
        [115,132,107,123,148,115,165,115,140,107,123,123, 99,132,123,132,132,132, 99,156],
        [115,132,140,132,123,115,140,107,140,115,132,123,107,132,132,115,115,107,115,107],
        [148,132,123,123,115,132,132,123,115,123,115,123,107,115,148,107,115,140,115,132],
        [132,156,132,140,132,132,115,115,115,123,148,123,165,123,132,107,107,132,156,123],
        [189,173,173,148,148,115,148,123,107,132,115,132,156, 99,123,115,132,132,206,107],
        [197,173,148,140,140,132, 99,132,123,115,140,132,132, 99,132,123,132,173,123,115],
        [148,123,148,115,148,123,140,123,107,115,132,115,107,115, 99,123, 99,181, 99,107],
        [123,115,132,115,123,132,115,132,132,123,123,132, 99,115, 99,123,132,115,115,107],
        [140,140, 99,140, 99,115,123,107,132,107,115,107,115,123,132,123,107,123,132,132],
        [132,132,132,123, 99,132,123,107,148, 99,115,123,140,173,123,107,123,123,123,107],
        [123,123,123,107,140,123,123,115,115, 90,107,173,107,107,107,107, 99,132,123,115],
        [173,148, 99,123,123,107,123, 99,107,189,173,107,115,115,107, 99,140,107,173,140],
        [148,132,132,107,123, 99, 99,115, 99,132, 99,140,115,148,123, 99,132,123,148,140],
        [140,107,140, 90,107,115,107, 90, 99,123,115,115,115,123,123,148,115,148, 99,132],
        [165,148,156,123,107,107,107,115,140, 99,115, 99, 99,107,115,132,115, 90,123,115],
        [189,173,140,140,165,115,132, 90, 99,115, 90, 99, 99,107, 99,132, 99,107,132,132],
        [156,181,140,173,123,132, 99,115,123, 74,115, 99,123,140,156,132,165,140,140, 99],
        [173,247,255,206,132,107,140,123,148,132,165,165,148,140,132,123,107,123,107,123],
        [181,181,156,148,156,156,156,181,132,148,115,132,107,107,107,107,107,115, 99,107],
    ],
    dtype=np.uint8,
)

BYTE20_SPEC = RasterSpec(
    width=20, height=20, gt=(440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0),
    dtype="uint8", nbands=1, tile_size=16,
)
BYTE20_CHECKSUM = 4672  # autotest/utilities/test_gdal_translate.py:52


def byte20_tiles(spark, spec: RasterSpec = BYTE20_SPEC):
    """byte20 as a tile table (sparse; tile_size from spec)."""
    rows = []
    for ty in range(spec.ntiles_y):
        for tx in range(spec.ntiles_x):
            h, w = spec.tile_shape(ty, tx)
            oy, ox = ty * spec.tile_size, tx * spec.tile_size
            rows.append((1, ty, tx, h, w, "uint8", tilecodec.encode(BYTE20[oy : oy + h, ox : ox + w])))
    return spark.createDataFrame(
        rows, "band int, ty int, tx int, h int, w int, dtype string, payload binary"
    )


# F5: polygonize fixture (5 cols x 7 rows, cellsize 60, ll (440720,3751020))
POLYGONIZE_GRID = np.array(
    [
        [107, 123, 132, 115, 132],
        [115, 132, 132, 123, 123],
        [115, 132, 140, 132, 123],
        [148, 132, 123, 123, 123],
        [156, 156, 156, 140, 132],
        [156, 100, 156, 101, 102],
        [156, 156, 156, 103, 103],
    ],
    dtype=np.int32,
)
POLYGONIZE_NODATA = 132
POLYGONIZE_SPEC = RasterSpec(
    width=5, height=7, gt=(440720.0, 60.0, 0.0, 3751440.0, 0.0, -60.0),
    dtype="int32", nbands=1,
)
# oracle: 13 features, DN emission order (autotest/alg/polygonize.py:53-58)
POLYGONIZE_EXPECTED_DNS = [107, 123, 115, 115, 140, 148, 123, 140, 100, 101, 102, 156, 103]
POLYGONIZE_156_WKT = (
    "POLYGON ((440720 3751200,440720 3751020,440900 3751020,440900 3751200,440720 3751200),"
    "(440780 3751140,440840 3751140,440840 3751080,440780 3751080,440780 3751140))"
)
