"""Tile codec: the one module that knows how a tile's payload bytes map
to a numpy array.

A raster is a tile table in one of two schemas (SURVEY.md §1.2):

  * grid tiles ``(band, ty, tx, h, w, dtype, payload)``: tile (ty, tx)
    of a RasterSpec grid; edge tiles carry their remainder h x w;
  * web tiles ``(z, tx, ty, band, dtype, payload)``: XYZ tiles, always
    ``tile_size`` square, so they carry no h / w.

``payload`` is the tile's pixels in C (row-major) order as raw words of
``dtype`` (a numpy dtype name), ``h * w * itemsize`` bytes. Decoding
returns a read-only view of those bytes, never a copy; a payload of the
wrong length or an unknown dtype raises ``TileError`` naming the tile.

Formats with their own payload layout stay outside: rasterize's sparse
``"coo"`` partials, PNG / JPEG / media blobs. N-D chunk payloads use
``decode`` with an explicit shape.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

# the grid-tile schema's columns, in order
TILE_COLUMNS = ("band", "ty", "tx", "h", "w", "dtype", "payload")
# key fields in the order an error message names them
_KEY_FIELDS = ("z", "band", "ty", "tx")


class TileError(ValueError):
    """A payload that does not hold its tile's shape and dtype."""


def _dtype(dtype) -> np.dtype | None:
    """The numeric numpy dtype that ``dtype`` names, else None."""
    if dtype is None:  # np.dtype(None) would read as float64
        return None
    try:
        dt = np.dtype(dtype)
    except TypeError:
        return None
    return dt if dt.kind in "biufc" else None


def decode(payload, dtype, shape, key=None) -> np.ndarray:
    """The read-only ``shape`` array of ``dtype`` words held in
    ``payload``. ``key`` (or a callable returning it) names the tile in
    a TileError."""
    dt = _dtype(dtype)
    if dt is None:
        problem = f"unknown dtype {dtype!r}"
    elif payload is None:
        problem = "payload is NULL"
    elif len(payload) != dt.itemsize * math.prod(shape):
        problem = (f"payload is {len(payload)} bytes, {'x'.join(map(str, shape))} "
                   f"{dt.name} needs {dt.itemsize * math.prod(shape)}")
    else:
        a = np.frombuffer(payload, dtype=dt).reshape(shape)
        a.flags.writeable = False
        return a
    raise TileError(f"tile {key() if callable(key) else key}: {problem}")


def _key(get) -> str:
    names, vals = [], []
    for f in _KEY_FIELDS:
        try:
            vals.append(get(f))
        except (KeyError, AttributeError, IndexError, ValueError):
            continue
        names.append(f)
    return f"({', '.join(names)})=({', '.join(str(v) for v in vals)})"


def _getter(row):
    if isinstance(row, tuple) and hasattr(row, "_fields"):  # itertuples
        return lambda f: getattr(row, f)
    return row.__getitem__  # Series, dict, Spark Row


def decode_row(row, tile_size: int | None = None) -> np.ndarray:
    """One tile row (itertuples tuple, pandas Series, Spark Row or
    dict) as its (h, w) array; web tiles pass ``tile_size``."""
    get = _getter(row)
    shape = (tile_size, tile_size) if tile_size else (int(get("h")), int(get("w")))
    return decode(get("payload"), get("dtype"), shape, lambda: _key(get))


def decode_batch(pdf: pd.DataFrame, tile_size: int | None = None) -> list[np.ndarray]:
    """Every row of a pandas tile batch as its (h, w) array, in row
    order; web tiles pass ``tile_size``."""
    n = len(pdf)
    if tile_size:
        hs = ws = [tile_size] * n
    else:
        hs, ws = pdf["h"].tolist(), pdf["w"].tolist()
    return [
        decode(p, d, (int(h), int(w)), lambda i=i: _key(lambda f: pdf[f].iloc[i]))
        for i, (p, d, h, w) in enumerate(zip(pdf["payload"].tolist(), pdf["dtype"].tolist(), hs, ws))
    ]


def encode(arr, dtype=None) -> bytes:
    """Payload bytes of one array, cast to ``dtype`` when given."""
    return np.asarray(arr, dtype=dtype).tobytes()


def tile_row(band: int, ty: int, tx: int, arr, dtype=None) -> dict:
    """One grid-tile row of ``arr``, cast to ``dtype`` when given."""
    a = np.asarray(arr, dtype=dtype)
    return {"band": band, "ty": ty, "tx": tx, "h": a.shape[0], "w": a.shape[1],
            "dtype": a.dtype.name, "payload": a.tobytes()}


def web_row(z: int, tx: int, ty: int, band: int, arr: np.ndarray) -> dict:
    """One web-tile row of ``arr``."""
    return {"z": z, "tx": tx, "ty": ty, "band": band,
            "dtype": arr.dtype.name, "payload": arr.tobytes()}


def paste(canvas: np.ndarray, pdf: pd.DataFrame, oy, ox,
          tile_size: int | None = None, layer=None) -> np.ndarray:
    """Write each tile row of ``pdf`` into ``canvas`` with its top-left
    pixel at (oy[i], ox[i]), into ``canvas[layer[i]]`` when ``layer``
    is given; the parts outside the canvas are dropped."""
    H, W = canvas.shape[-2:]
    for i, t in enumerate(decode_batch(pdf, tile_size)):
        y, x = int(oy[i]), int(ox[i])
        y0, x0 = max(y, 0), max(x, 0)
        y1, x1 = min(y + t.shape[0], H), min(x + t.shape[1], W)
        if y1 > y0 and x1 > x0:
            dst = canvas if layer is None else canvas[layer[i]]
            dst[y0:y1, x0:x1] = t[y0 - y : y1 - y, x0 - x : x1 - x]
    return canvas


def cut(canvas: np.ndarray, tile_size: int, band: int, ty0: int = 0, tx0: int = 0) -> list[dict]:
    """Grid-tile rows of a 2-D canvas whose top-left pixel is tile
    (ty0, tx0)'s; the last row and column keep the remainder."""
    H, W = canvas.shape
    return [
        tile_row(band, ty0 + y // tile_size, tx0 + x // tile_size,
                 canvas[y : y + tile_size, x : x + tile_size])
        for y in range(0, H, tile_size)
        for x in range(0, W, tile_size)
    ]
