"""gdal_retile — re-grid a tile table to a new tile size.

Reference: /root/reference/swig/python/gdal-utils/osgeo_utils/
gdal_retile.py (tileImage/createTiles: cut a mosaic into
tileWidth x tileHeight pieces; the last row/column tiles are smaller,
:tileImage loop) — re-expressed as one shuffle: every source tile
slices itself into the target tiles it overlaps (pure index
arithmetic, one Arrow pass), pieces exchange on the NEW (band, ty, tx)
key, and each target tile assembles its pieces over an init-filled
canvas. Pixel content is bit-identical to slicing the dense mosaic —
the checksum/histogram aggregates are invariant under retiling, which
is the oracle.

Scale: shuffle volume == raster bytes (each pixel ships exactly once);
no driver materialization; skew-free because target keys partition the
grid uniformly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import TILE_SCHEMA, RasterSpec


def retile(tiles: DataFrame, spec: RasterSpec, new_tile_size: int) -> DataFrame:
    """tiles on spec.tile_size -> the same raster on new_tile_size.
    Returns a tile table + the matching RasterSpec via `retile_spec`."""
    ts = spec.tile_size
    nts = new_tile_size
    width, height = spec.width, spec.height
    init = float(spec.init)

    def _slice(batches):
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in ("band", "ty", "tx", "oy", "ox", "h", "w", "dtype", "payload")}
            for i, arr in enumerate(tilecodec.decode_batch(pdf)):
                h, w = arr.shape
                dt = pdf["dtype"].iloc[i]
                gy0 = int(pdf["ty"].iloc[i]) * ts
                gx0 = int(pdf["tx"].iloc[i]) * ts
                for nty in range(gy0 // nts, (gy0 + h - 1) // nts + 1):
                    for ntx in range(gx0 // nts, (gx0 + w - 1) // nts + 1):
                        # overlap of source tile with target tile, global px
                        y0 = max(gy0, nty * nts)
                        y1 = min(gy0 + h, (nty + 1) * nts)
                        x0 = max(gx0, ntx * nts)
                        x1 = min(gx0 + w, (ntx + 1) * nts)
                        piece = arr[y0 - gy0 : y1 - gy0, x0 - gx0 : x1 - gx0]
                        out["band"].append(int(pdf["band"].iloc[i]))
                        out["ty"].append(nty)
                        out["tx"].append(ntx)
                        out["oy"].append(y0 - nty * nts)
                        out["ox"].append(x0 - ntx * nts)
                        out["h"].append(y1 - y0)
                        out["w"].append(x1 - x0)
                        out["dtype"].append(dt)
                        out["payload"].append(tilecodec.encode(piece))
            yield pd.DataFrame(out)

    pieces = tiles.mapInPandas(
        _slice,
        "band int, ty int, tx int, oy int, ox int, h int, w int, dtype string, payload binary",
    )

    def _assemble(key, pdf):
        band, nty, ntx = int(key[0]), int(key[1]), int(key[2])
        th = min(nts, height - nty * nts)
        tw = min(nts, width - ntx * nts)
        canvas = np.full((th, tw), init, dtype=pdf["dtype"].iloc[0])
        tilecodec.paste(canvas, pdf, pdf["oy"].to_numpy(), pdf["ox"].to_numpy())
        return pd.DataFrame([tilecodec.tile_row(band, nty, ntx, canvas)])

    return pieces.groupBy("band", "ty", "tx").applyInPandas(_assemble, TILE_SCHEMA)


def retile_spec(spec: RasterSpec, new_tile_size: int) -> RasterSpec:
    from dataclasses import replace

    return replace(spec, tile_size=new_tile_size)
