"""Focal (neighborhood) raster operators with distributed halo
exchange: slope / hillshade / generic NxN focal stats.

Reference semantics: gdaldem (apps/gdaldem_lib.cpp, 3x3 Horn kernel)
and `gdal raster neighbors` (apps/gdalalg_raster_neighbors.cpp).
GDAL walks scanlines with a 3-row window; the distributed analog is
the classic halo exchange:

  tile table -> explode each tile to its own key + the 8 neighbor
  keys (shifted copies carry only the 1-px border they contribute)
  -> groupBy target key reassembles a (h+2, w+2) padded array ->
  numpy kernel on the interior.

Only borders travel in the shuffle (O(perimeter), not O(area)).
Edge-of-raster pixels follow GDAL's edge rule: missing neighbors
replicate the edge pixel (gdaldem_lib.cpp INTERPOL edge handling
with bsrc_has_no_data=false).
"""

from __future__ import annotations

from typing import Callable, Iterator

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
from gdal_spark.operators.raster import RasterSpec

HALO_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("ty", IntegerType()),
        StructField("tx", IntegerType()),
        StructField("src_dy", IntegerType()),
        StructField("src_dx", IntegerType()),
        StructField("h", IntegerType()),
        StructField("w", IntegerType()),
        StructField("dtype", StringType()),
        StructField("payload", BinaryType()),
    ]
)

TILE_F64_SCHEMA = StructType(
    [
        StructField("band", IntegerType()),
        StructField("ty", IntegerType()),
        StructField("tx", IntegerType()),
        StructField("h", IntegerType()),
        StructField("w", IntegerType()),
        StructField("dtype", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def _halo_explode(tiles: DataFrame, halo: int = 1) -> DataFrame:
    """Emit each tile to itself (full payload) and to its 8 neighbors
    (border strips only)."""

    def _emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                t = tilecodec.decode_row(r)
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        tty, ttx = r.ty + dy, r.tx + dx
                        if tty < 0 or ttx < 0:
                            continue
                        if dy == 0 and dx == 0:
                            part = t
                        else:
                            # the tile below me (dy=+1) needs MY bottom
                            # rows as its top halo, and vice versa
                            ys = slice(-halo, None) if dy == 1 else (slice(0, halo) if dy == -1 else slice(None))
                            xs = slice(-halo, None) if dx == 1 else (slice(0, halo) if dx == -1 else slice(None))
                            part = t[ys, xs]
                        rows.append(
                            {
                                "band": r.band, "ty": tty, "tx": ttx,
                                # where this piece comes from, relative to target
                                "src_dy": -dy, "src_dx": -dx,
                                "h": part.shape[0], "w": part.shape[1],
                                "dtype": r.dtype, "payload": tilecodec.encode(part),
                            }
                        )
            yield pd.DataFrame(rows, columns=[f.name for f in HALO_SCHEMA.fields])

    return tiles.mapInPandas(_emit, HALO_SCHEMA)


def halo_window(
    pdf: pd.DataFrame,
    halo: int,
    spec,
    ty: int,
    tx: int,
    pad: float,
) -> tuple[np.ndarray, int, int] | None:
    """One tile's (h+2*halo, w+2*halo) float64 window from its
    _halo_explode pieces: the center payload plus the neighbors' border
    strips. Cells outside the raster keep ``pad``; each caller applies
    its own rule there.

    SPARSE tile tables follow the repo-wide convention — an in-bounds
    absent tile acts init-valued: an absent center is an init canvas
    and an absent neighbor's block is init, clipped to that tile's
    extent, so the window is bit-identical to one over the dense
    equivalent. Returns None only for keys outside the raster grid.
    Absent tiles with no existing tile in their 1-ring never appear as
    groupBy keys (use densify() first when the all-init interior must
    be materialized)."""
    if not (0 <= ty < spec.ntiles_y and 0 <= tx < spec.ntiles_x):
        return None
    center = pdf[(pdf.src_dy == 0) & (pdf.src_dx == 0)]
    h, w = (int(center["h"].iloc[0]), int(center["w"].iloc[0])) if len(center) else spec.tile_shape(ty, tx)
    win = np.full((h + 2 * halo, w + 2 * halo), pad, dtype=np.float64)
    starts = np.array([0, halo, halo + h]), np.array([0, halo, halo + w])
    init = float(spec.init or 0.0)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if 0 <= ty + dy < spec.ntiles_y and 0 <= tx + dx < spec.ntiles_x:
                nh, nw = spec.tile_shape(ty + dy, tx + dx)
                y0, x0 = starts[0][dy + 1], starts[1][dx + 1]
                win[y0 : y0 + (min(halo, nh) if dy else h), x0 : x0 + (min(halo, nw) if dx else w)] = init
    # pieces land top-left in their block (a remainder neighbor's strip
    # may be narrower than the halo)
    oy = starts[0][pdf["src_dy"].to_numpy() + 1]
    ox = starts[1][pdf["src_dx"].to_numpy() + 1]
    return tilecodec.paste(win, pdf, oy, ox), h, w


def assemble_padded(
    pdf: pd.DataFrame,
    halo: int,
    spec,
    ty: int,
    tx: int,
) -> tuple[np.ndarray, int, int] | None:
    """halo_window with edge replication at the raster boundary (the
    gdaldem edge rule). Shared by focal_apply and the seam-exact point
    sampler."""
    asm = halo_window(pdf, halo, spec, ty, tx, 0.0)
    if asm is None:
        return None
    padded, h, w = asm
    # raster-boundary edge rule (gdaldem edge replication) applied
    # AFTER strip placement: pad rows/cols beyond the RASTER extent
    # replicate the outermost real row/col across the full padded
    # width/height, so corner cells above an existing side neighbor
    # pick up that neighbor's replicated value, exactly like padding
    # the whole raster at once. With spec the number of REAL pad
    # rows/cols per side comes from the raster extent, which also
    # covers remainder neighbor tiles SMALLER than the halo (their
    # piece fills part of the block; the rest replicates it) — a
    # sides-based guess would assume neighbor tiles >= halo, which is
    # wrong for remainder tiles; spec is therefore MANDATORY.
    y0, x0 = ty * spec.tile_size, tx * spec.tile_size
    at = min(halo, y0)
    ab = min(halo, spec.height - (y0 + h))
    al = min(halo, x0)
    ar = min(halo, spec.width - (x0 + w))
    if at < halo:
        padded[0 : halo - at, :] = padded[halo - at : halo - at + 1, :]
    if ab < halo:
        padded[halo + h + ab :, :] = padded[halo + h + ab - 1 : halo + h + ab, :]
    if al < halo:
        padded[:, 0 : halo - al] = padded[:, halo - al : halo - al + 1]
    if ar < halo:
        padded[:, halo + w + ar :] = padded[:, halo + w + ar - 1 : halo + w + ar]
    return padded, h, w


def apply_edge_rule(
    out: np.ndarray,
    padded: np.ndarray,
    kernel: Callable[[np.ndarray], np.ndarray],
    spec,
    ty: int,
    tx: int,
    edges: str,
    edge_nodata: float,
) -> np.ndarray:
    """Rewrite this tile's raster-boundary output rows/cols per the
    gdaldem edge rule (GDALGeneric3x3Processing,
    gdaldem_lib.cpp:461-760). edges="nodata" is the reference default
    (border pixels = dst nodata); edges="interpol" is -compute_edges:
    the missing window cells extrapolate linearly (INTERPOL = 2a - b,
    gdaldem_lib.cpp:292) — vertically for the top/bottom output rows
    (side cells column-clamped), horizontally for the left/right
    output columns of interior rows. Top/bottom own the corners, so
    they are applied last. Only tiles touching the raster boundary do
    extra work; everything stays O(perimeter)."""
    top, bot = ty == 0, ty == spec.ntiles_y - 1
    lef, rig = tx == 0, tx == spec.ntiles_x - 1
    if not (top or bot or lef or rig):
        return out
    if edges == "nodata":
        if top:
            out[0, :] = edge_nodata
        if bot:
            out[-1, :] = edge_nodata
        if lef:
            out[:, 0] = edge_nodata
        if rig:
            out[:, -1] = edge_nodata
        return out
    if spec.width < 2 or spec.height < 2:
        raise ValueError("edges='interpol' needs a raster of at least 2x2")
    if lef:
        strip = padded[:, 0:3].copy()
        strip[:, 0] = 2.0 * strip[:, 1] - strip[:, 2]
        out[:, 0] = kernel(strip)[:, 0]
    if rig:
        strip = padded[:, -3:].copy()
        strip[:, 2] = 2.0 * strip[:, 1] - strip[:, 0]
        out[:, -1] = kernel(strip)[:, 0]
    if top:
        strip = padded[0:3, :].copy()
        strip[0, :] = 2.0 * strip[1, :] - strip[2, :]
        out[0, :] = kernel(strip)[0, :]
    if bot:
        strip = padded[-3:, :].copy()
        strip[2, :] = 2.0 * strip[1, :] - strip[0, :]
        out[-1, :] = kernel(strip)[0, :]
    return out


def focal_apply(
    tiles: DataFrame,
    spec: RasterSpec,
    kernel: Callable[[np.ndarray], np.ndarray],
    halo: int = 1,
    out_dtype: str = "float64",
    edges: str = "replicate",
    edge_nodata: float = -9999.0,
) -> DataFrame:
    """Apply kernel(padded)->(h,w) per tile after halo reassembly.
    `padded` is (h+2*halo, w+2*halo). edges: "replicate" (this repo's
    default — raster-boundary pads replicate the edge pixel, matching
    the driver oracles' LEAST/GREATEST clamp), "interpol" (`gdaldem
    -compute_edges`: INTERPOL 2a-b linear extrapolation,
    gdaldem_lib.cpp:292,461) or "nodata" (the reference DEFAULT when
    -compute_edges is absent: border pixels = edge_nodata,
    gdaldem_lib.cpp:488-502). The last two require halo == 1."""
    if edges not in ("replicate", "interpol", "nodata"):
        raise ValueError(f"unknown edges mode {edges!r}")
    if edges != "replicate" and halo != 1:
        raise ValueError("edges='interpol'/'nodata' require halo=1 (3x3 kernels)")
    exploded = _halo_explode(tiles, halo)

    def _assemble(key, pdf):
        band, tyy, txx = int(key[0]), int(key[1]), int(key[2])
        asm = assemble_padded(pdf, halo, spec, tyy, txx)
        if asm is None:  # pure-halo key (tile outside raster): skip
            return pd.DataFrame(
                {
                    "band": pd.array([], dtype="int32"), "ty": pd.array([], dtype="int32"),
                    "tx": pd.array([], dtype="int32"), "h": pd.array([], dtype="int32"),
                    "w": pd.array([], dtype="int32"), "dtype": pd.array([], dtype=object),
                    "payload": pd.array([], dtype=object),
                }
            )
        padded = asm[0]
        out = kernel(padded)
        if edges != "replicate":
            out = apply_edge_rule(out, padded, kernel, spec, tyy, txx, edges, edge_nodata)
        return pd.DataFrame([tilecodec.tile_row(band, tyy, txx, out, out_dtype)])

    return exploded.groupBy("band", "ty", "tx").applyInPandas(_assemble, TILE_F64_SCHEMA)


# ---------------------------------------------------------------------------
# kernels (numpy, reference formulas)


def horn_slope_kernel(cellsize_x: float, cellsize_y: float, scale: float = 1.0,
                      degrees: bool = True, percent: bool = False):
    """Horn's method (gdaldem_lib.cpp GDALSlopeHornAlg): 3x3 weighted
    central differences; slope = atan(sqrt(dx^2+dy^2)), or with
    `gdaldem slope -p` 100*sqrt(dx^2+dy^2) (gdaldem_lib.cpp:1386)."""

    def k(p: np.ndarray) -> np.ndarray:
        a, b, c = p[:-2, :-2], p[:-2, 1:-1], p[:-2, 2:]
        d, f = p[1:-1, :-2], p[1:-1, 2:]
        g, h, i = p[2:, :-2], p[2:, 1:-1], p[2:, 2:]
        dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8 * cellsize_x * scale)
        dzdy = ((g + 2 * h + i) - (a + 2 * b + c)) / (8 * cellsize_y * scale)
        # sqrt of the squared sum, NOT np.hypot: the reference computes
        # atan(sqrt(x*x + y*y)) (GDALSlopeHornAlg) and the two can
        # differ in the last ulp
        if percent:
            return 100.0 * np.sqrt(dzdx * dzdx + dzdy * dzdy)
        slope = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
        return np.degrees(slope) if degrees else slope

    return k


def hillshade_kernel(
    cellsize_x: float,
    cellsize_y: float,
    azimuth: float = 315.0,
    altitude: float = 45.0,
    z_factor: float = 1.0,
):
    """gdaldem hillshade (Horn derivatives; standard lambertian
    formula, output scaled 1..255 with 0 reserved — gdaldem_lib.cpp)."""
    az = np.radians(360.0 - azimuth + 90.0)
    alt = np.radians(altitude)

    def k(p: np.ndarray) -> np.ndarray:
        a, b, c = p[:-2, :-2], p[:-2, 1:-1], p[:-2, 2:]
        d, f = p[1:-1, :-2], p[1:-1, 2:]
        g, h, i = p[2:, :-2], p[2:, 1:-1], p[2:, 2:]
        dzdx = z_factor * ((c + 2 * f + i) - (a + 2 * d + g)) / (8 * cellsize_x)
        dzdy = z_factor * ((g + 2 * h + i) - (a + 2 * b + c)) / (8 * cellsize_y)
        slope = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))  # sqrt form like the reference
        aspect = np.arctan2(dzdy, -dzdx)
        shade = np.sin(alt) * np.cos(slope) + np.cos(alt) * np.sin(slope) * np.cos(az - aspect)
        return np.clip(1.0 + 254.0 * np.maximum(shade, 0.0), 1, 255)

    return k


def _horn_xy(p: np.ndarray, ewres: float, nsres: float):
    """Reference Gradient<HORN>::calc (gdaldem_lib.cpp): x, y gradient
    sums divided by the SIGNED resolutions (nsres is negative for
    north-up), before the z/8 factor."""
    a, b, c = p[:-2, :-2], p[:-2, 1:-1], p[:-2, 2:]
    d, f = p[1:-1, :-2], p[1:-1, 2:]
    g, h, i = p[2:, :-2], p[2:, 1:-1], p[2:, 2:]
    x = ((a + 2 * d + g) - (c + 2 * f + i)) / ewres
    y = ((g + 2 * h + i) - (a + 2 * b + c)) / nsres
    return x, y


def _zt_xy(p: np.ndarray, ewres: float, nsres: float):
    """Gradient<ZEVENBERGEN_THORNE>::calc (gdaldem_lib.cpp:798): plain
    W-E / S-N differences over the SIGNED resolutions, before the z/2
    factor (the reference's z divisor is 2 for ZT, 8 for Horn —
    :1196)."""
    d, f = p[1:-1, :-2], p[1:-1, 2:]
    b, h = p[:-2, 1:-1], p[2:, 1:-1]
    return (d - f) / ewres, (h - b) / nsres


def _grad_zf(alg: str, z: float):
    if alg == "zevenbergen_thorne":
        return _zt_xy, z / 2.0
    if alg == "horn":
        return _horn_xy, z / 8.0
    raise ValueError(f"unknown gradient alg {alg!r} (Horn|ZevenbergenThorne)")


def hillshade_gradient_kernel(
    ewres: float, nsres: float, azimuth: float = 315.0, altitude: float = 45.0,
    z: float = 1.0, alg: str = "zevenbergen_thorne",
):
    """GDALHillshadeAlg for an explicit gradient choice
    (gdaldem_lib.cpp:1015+ templated on GradientAlg): cang =
    (sin(alt) - (y cos(az) cos(alt) zf - x sin(az) cos(alt) zf)) /
    sqrt(1 + zf^2 (x^2+y^2)), <= 0 -> 1 else 1 + 254 cang."""
    grad, zf = _grad_zf(alg, z)
    az = np.radians(azimuth)
    alt = np.radians(altitude)

    def k(p: np.ndarray) -> np.ndarray:
        x, y = grad(p, ewres, nsres)
        num = np.sin(alt) - (y * np.cos(az) * np.cos(alt) * zf - x * np.sin(az) * np.cos(alt) * zf)
        cang = 254.0 * num / np.sqrt(1.0 + zf * zf * (x * x + y * y))
        return np.where(cang <= 0.0, 1.0, 1.0 + cang)

    return k


def hillshade_combined_kernel(
    ewres: float, nsres: float, azimuth: float = 315.0, altitude: float = 45.0, z: float = 1.0,
    alg: str = "horn",
):
    """gdaldem hillshade -combined (GDALHillshadeCombinedAlg,
    gdaldem_lib.cpp:1151-1181): lambertian shade multiplied into the
    arctan-slope ramp, cang = 1 - acos(shade) * atan(sqrt(slope)) *
    4/pi^2; <= 0 maps to 1, else 1 + 254 * cang."""
    az = np.radians(azimuth)
    alt = np.radians(altitude)
    grad, zf = _grad_zf(alg, z)

    def k(p: np.ndarray) -> np.ndarray:
        x, y = grad(p, ewres, nsres)
        slope = (x * x + y * y) * zf * zf
        num = np.sin(alt) - (
            y * np.cos(az) * np.cos(alt) * zf - x * np.sin(az) * np.cos(alt) * zf
        )
        shade = np.clip(num / np.sqrt(1.0 + slope), -1.0, 1.0)
        cang = 1.0 - np.arccos(shade) * np.arctan(np.sqrt(slope)) * (4.0 / np.pi**2)
        return np.where(cang <= 0.0, 1.0, 1.0 + 254.0 * cang)

    return k


def hillshade_multidirectional_kernel(
    ewres: float, nsres: float, altitude: float = 45.0, z: float = 1.0, alg: str = "horn"
):
    """gdaldem hillshade -multidirectional (USGS OF 92-422;
    GDALHillshadeMultiDirectionalAlg, gdaldem_lib.cpp:1256-1311):
    aspect-weighted blend of the 225/270/315/360-degree shades, each
    floored at 0; flat cells return 1 + 254 * sin(alt)."""
    alt = np.radians(altitude)
    grad, zf = _grad_zf(alg, z)
    sin_alt = np.sin(alt)
    cos_alt_z = np.cos(alt) * zf
    cos225 = np.cos(np.radians(225.0))

    def k(p: np.ndarray) -> np.ndarray:
        x, y = grad(p, ewres, nsres)
        xx, yy = x * x, y * y
        xxyy = xx + yy
        v225 = np.maximum(sin_alt + (x - y) * cos225 * cos_alt_z, 0.0)
        v270 = np.maximum(sin_alt - x * cos_alt_z, 0.0)
        v315 = np.maximum(sin_alt + (x + y) * cos225 * cos_alt_z, 0.0)
        v360 = np.maximum(sin_alt - y * cos_alt_z, 0.0)
        w225 = 0.5 * xxyy - x * y
        w270 = xx
        w315 = xxyy - w225
        w360 = yy
        denom = np.where(xxyy == 0.0, 1.0, 2.0 * xxyy)
        cang = (w225 * v225 + w270 * v270 + w315 * v315 + w360 * v360) / denom
        cang = cang / np.sqrt(1.0 + zf * zf * xxyy)
        return np.where(xxyy == 0.0, 1.0 + 254.0 * sin_alt, 1.0 + 254.0 * cang)

    return k


def hillshade_igor_kernel(
    ewres: float, nsres: float, azimuth: float = 315.0, altitude: float = 45.0, z: float = 1.0,
    alg: str = "horn",
):
    """gdaldem hillshade -igor (GDALHillshadeIgorAlg,
    gdaldem_lib.cpp:946-1012): shadowness = 1 - slopeStrength *
    aspectStrength, output 255 * shadowness. Altitude is accepted for
    signature parity but unused (as in the reference)."""
    del altitude
    az = np.radians(azimuth)
    grad, zf = _grad_zf(alg, z)

    def k(p: np.ndarray) -> np.ndarray:
        x, y = grad(p, ewres, nsres)
        slope_deg = np.degrees(np.arctan(np.sqrt(x * x + y * y) * zf))
        if alg == "zevenbergen_thorne":
            # aspect from the plain E-W / S-N differences
            # (gdaldem_lib.cpp GDALHillshadeIgorAlg ZT branch)
            dxa = p[1:-1, 2:] - p[1:-1, :-2]
            dya = p[2:, 1:-1] - p[:-2, 1:-1]
        else:
            a, b, c = p[:-2, :-2], p[:-2, 1:-1], p[:-2, 2:]
            d, f = p[1:-1, :-2], p[1:-1, 2:]
            g, h, i = p[2:, :-2], p[2:, 1:-1], p[2:, 2:]
            dxa = (c + 2 * f + i) - (a + 2 * d + g)
            dya = (g + 2 * h + i) - (a + 2 * b + c)
        aspect = np.arctan2(dya, -dxa)
        target = 1.5 * np.pi - az
        diff = np.abs(np.mod(aspect, 2 * np.pi) - np.mod(target, 2 * np.pi))
        diff = np.where(diff > np.pi, 2 * np.pi - diff, diff)
        aspect_strength = 1.0 - diff / np.pi
        shadowness = 1.0 - (slope_deg / 90.0) * aspect_strength
        return 255.0 * shadowness

    return k


def focal_mean_kernel(size: int = 3):
    """`gdal raster neighbors --method mean` NxN box filter."""
    r = size // 2

    def k(p: np.ndarray) -> np.ndarray:
        c = np.cumsum(np.cumsum(p, axis=0), axis=1)
        c = np.pad(c, ((1, 0), (1, 0)))
        h, w = p.shape[0] - 2 * r, p.shape[1] - 2 * r
        s = (
            c[size : size + h, size : size + w]
            - c[0:h, size : size + w]
            - c[size : size + h, 0:w]
            + c[0:h, 0:w]
        )
        return s / (size * size)

    return k


def zt_slope_kernel(cellsize_x: float, cellsize_y: float, scale: float = 1.0,
                    degrees: bool = True, percent: bool = False):
    """Zevenbergen-Thorne slope (gdaldem_lib.cpp:1390
    GDALSlopeZevenbergenThorneAlg): plain central differences over the
    4-neighborhood, slope = atan(sqrt(dx^2+dy^2) * 0.5)."""

    def k(p: np.ndarray) -> np.ndarray:
        d, f = p[1:-1, :-2], p[1:-1, 2:]
        b, h = p[:-2, 1:-1], p[2:, 1:-1]
        dx = (d - f) / (cellsize_x * scale)
        dy = (h - b) / (cellsize_y * scale)
        if percent:
            # (100/2) * sqrt(key) (gdaldem_lib.cpp:1406)
            return 50.0 * np.sqrt(dx * dx + dy * dy)
        slope = np.arctan(np.sqrt(dx * dx + dy * dy) * 0.5)
        return np.degrees(slope) if degrees else slope

    return k


def slope(tiles: DataFrame, spec: RasterSpec, scale: float = 1.0, degrees: bool = True,
          alg: str = "horn", percent: bool = False,
          edges: str = "replicate") -> DataFrame:
    """alg: horn (default) | zevenbergen_thorne (gdaldem -alg,
    gdaldem_lib.cpp:3067); percent replicates `gdaldem slope -p`
    (slopeFormat 0, gdaldem_lib.cpp:1386,1406 — 100*tan form);
    edges: see focal_apply (dst nodata -9999, gdaldem_lib.cpp:3901)."""
    kf = zt_slope_kernel if alg == "zevenbergen_thorne" else horn_slope_kernel
    return focal_apply(
        tiles, spec, kf(abs(spec.gt[1]), abs(spec.gt[5]), scale, degrees, percent),
        edges=edges, edge_nodata=-9999.0)


def hillshade(
    tiles: DataFrame,
    spec: RasterSpec,
    azimuth: float = 315.0,
    altitude: float = 45.0,
    variant: str = "regular",
    z: float = 1.0,
    alg: str = "horn",
    edges: str = "replicate",
) -> DataFrame:
    """variant: regular | combined | multidirectional | igor
    (gdaldem hillshade's four shading modes); alg: horn |
    zevenbergen_thorne (gdaldem -alg — ZT gradients carry the z/2
    factor, Horn z/8)."""
    if variant == "regular":
        if alg == "zevenbergen_thorne":
            k = hillshade_gradient_kernel(spec.gt[1], spec.gt[5], azimuth, altitude, z, alg)
        else:
            k = hillshade_kernel(abs(spec.gt[1]), abs(spec.gt[5]), azimuth, altitude, z)
    elif variant == "combined":
        k = hillshade_combined_kernel(spec.gt[1], spec.gt[5], azimuth, altitude, z, alg)
    elif variant == "multidirectional":
        k = hillshade_multidirectional_kernel(spec.gt[1], spec.gt[5], altitude, z, alg)
    elif variant == "igor":
        k = hillshade_igor_kernel(spec.gt[1], spec.gt[5], azimuth, altitude, z, alg)
    else:
        raise ValueError(f"unknown hillshade variant {variant!r}")
    return focal_apply(tiles, spec, k, edges=edges, edge_nodata=0.0)


def focal_mean(tiles: DataFrame, spec: RasterSpec, size: int = 3) -> DataFrame:
    return focal_apply(tiles, spec, focal_mean_kernel(size), halo=size // 2)


# local reference for tests


def focal_apply_local(arr: np.ndarray, kernel, halo: int = 1) -> np.ndarray:
    return kernel(np.pad(arr.astype(np.float64), halo, mode="edge"))


# -- remaining gdaldem kernels (apps/gdaldem_lib.cpp) -----------------------
# window layout afWin[0..8] row-major: afWin[4] = center


def aspect_kernel(angle_as_azimuth: bool = True, nodata: float = -9999.0):
    """GDALAspectAlg (gdaldem_lib.cpp): dx/dy are UNnormalized
    weighted sums (note afWin[5]/afWin[3]/afWin[7]/afWin[1] doubled),
    aspect = atan2(dy, -dx); flat cells -> nodata; azimuth flip."""

    def k(p: np.ndarray) -> np.ndarray:
        a, b, c = p[:-2, :-2], p[:-2, 1:-1], p[:-2, 2:]
        d, f = p[1:-1, :-2], p[1:-1, 2:]
        g, h, i = p[2:, :-2], p[2:, 1:-1], p[2:, 2:]
        dx = (c + f + f + i) - (a + d + d + g)
        dy = (g + h + h + i) - (a + b + b + c)
        asp = np.degrees(np.arctan2(dy, -dx))
        if angle_as_azimuth:
            asp = np.where(asp > 90.0, 450.0 - asp, 90.0 - asp)
        else:
            # -trigonometric keeps math convention but still 0..360
            asp = np.where(asp < 0.0, asp + 360.0, asp)
        # the ==360 wrap sits OUTSIDE the branch in the reference
        # (gdaldem_lib.cpp GDALAspectAlg tail) — reachable in the trig
        # branch when a tiny negative angle rounds to 360.0
        asp = np.where(asp == 360.0, 0.0, asp)
        asp = np.where((dx == 0) & (dy == 0), nodata, asp)
        return asp

    return k


def tpi_kernel():
    """GDALTPIAlg: center minus mean of the 8 neighbors."""

    def k(p: np.ndarray) -> np.ndarray:
        s = (
            p[:-2, :-2] + p[:-2, 1:-1] + p[:-2, 2:]
            + p[1:-1, :-2] + p[1:-1, 2:]
            + p[2:, :-2] + p[2:, 1:-1] + p[2:, 2:]
        )
        return p[1:-1, 1:-1] - s * 0.125

    return k


def tri_kernel(alg: str = "Riley"):
    """GDALTRIAlgRiley (the reference DEFAULT, gdaldem_lib.cpp:175):
    sqrt of the sum of squared differences; Wilson (-alg Wilson):
    mean |neighbor - center|."""

    def k(p: np.ndarray) -> np.ndarray:
        ctr = p[1:-1, 1:-1]
        diffs = [
            p[:-2, :-2] - ctr, p[:-2, 1:-1] - ctr, p[:-2, 2:] - ctr,
            p[1:-1, :-2] - ctr, p[1:-1, 2:] - ctr,
            p[2:, :-2] - ctr, p[2:, 1:-1] - ctr, p[2:, 2:] - ctr,
        ]
        if alg == "Riley":
            return np.sqrt(sum(dd * dd for dd in diffs))
        return sum(np.abs(dd) for dd in diffs) * 0.125

    return k


def roughness_kernel():
    """GDALRoughnessAlg: max - min over the full 3x3 window."""

    def k(p: np.ndarray) -> np.ndarray:
        wins = [
            p[:-2, :-2], p[:-2, 1:-1], p[:-2, 2:],
            p[1:-1, :-2], p[1:-1, 1:-1], p[1:-1, 2:],
            p[2:, :-2], p[2:, 1:-1], p[2:, 2:],
        ]
        return np.maximum.reduce(wins) - np.minimum.reduce(wins)

    return k


def zt_aspect_kernel(angle_as_azimuth: bool = True, nodata: float = -9999.0):
    """GDALAspectZevenbergenThorneAlg (gdaldem_lib.cpp:1482): plain
    E-W / S-N differences; flat -> nodata; azimuth flip; exact-360
    wraps to 0 (the reference applies the wrap in this variant)."""

    def k(p: np.ndarray) -> np.ndarray:
        dx = p[1:-1, 2:] - p[1:-1, :-2]
        dy = p[2:, 1:-1] - p[:-2, 1:-1]
        asp = np.degrees(np.arctan2(dy, -dx))
        if angle_as_azimuth:
            asp = np.where(asp > 90.0, 450.0 - asp, 90.0 - asp)
        else:
            asp = np.where(asp < 0.0, asp + 360.0, asp)
        asp = np.where(asp == 360.0, 0.0, asp)
        asp = np.where((dx == 0) & (dy == 0), nodata, asp)
        return asp

    return k


def aspect(tiles: DataFrame, spec: RasterSpec, angle_as_azimuth: bool = True,
           alg: str = "horn", zero_for_flat: bool = False,
           edges: str = "replicate") -> DataFrame:
    """zero_for_flat replicates `gdaldem aspect -zero_for_flat`
    (gdaldem_lib.cpp:3290,3921): dst nodata is left unset so flat
    cells receive the default 0.0 instead of -9999."""
    kf = zt_aspect_kernel if alg == "zevenbergen_thorne" else aspect_kernel
    nodata = 0.0 if zero_for_flat else -9999.0
    return focal_apply(tiles, spec, kf(angle_as_azimuth, nodata),
                       edges=edges, edge_nodata=nodata)


def tpi(tiles: DataFrame, spec: RasterSpec, edges: str = "replicate") -> DataFrame:
    return focal_apply(tiles, spec, tpi_kernel(), edges=edges, edge_nodata=-9999.0)


def tri(tiles: DataFrame, spec: RasterSpec, alg: str = "Riley",
        edges: str = "replicate") -> DataFrame:
    """Reference default is Riley (gdaldem_lib.cpp:175 eTRIAlg =
    TRIAlg::RILEY); pass alg="Wilson" for -alg Wilson."""
    return focal_apply(tiles, spec, tri_kernel(alg), edges=edges, edge_nodata=-9999.0)


def roughness(tiles: DataFrame, spec: RasterSpec, edges: str = "replicate") -> DataFrame:
    return focal_apply(tiles, spec, roughness_kernel(), edges=edges, edge_nodata=-9999.0)


# ---------------------------------------------------------------------------
# `gdal raster neighbors` — the full VRTKernelFilteredSource method set
# (apps/gdalalg_raster_neighbors.cpp + frmts/vrt/vrtfilters.cpp
# FilterData): named/custom convolution kernels combined by
# mean/sum/min/max/stddev/median/mode over COEFFICIENT-WEIGHTED window
# values, float32 work buffer, nodata-skip + zero-coefficient-skip,
# edge replication at the raster boundary (the same VRT fill rule the
# halo machinery above implements).

_DBL_MIN = 2.2250738585072014e-308  # std::numeric_limits<double>::min()

# name -> (size, integer coefficient matrix) — gdalalg_raster_neighbors.cpp:48
NEIGHBOR_KERNELS: dict[str, tuple[int, list[int]]] = {
    "u": (3, [0, 0, 0, -1, 0, 1, 0, 0, 0]),
    "v": (3, [0, -1, 0, 0, 0, 0, 0, 1, 0]),
    "edge1": (3, [0, -1, 0, -1, 4, -1, 0, -1, 0]),
    "edge2": (3, [-1, -1, -1, -1, 8, -1, -1, -1, -1]),
    "sharpen": (3, [0, -1, 0, -1, 5, -1, 0, -1, 0]),
    "gaussian-3x3": (3, [1, 2, 1, 2, 4, 2, 1, 2, 1]),
    "gaussian-5x5": (5, [1, 4, 6, 4, 1, 4, 16, 24, 16, 4, 6, 24, 36, 24, 6,
                         4, 16, 24, 16, 4, 1, 4, 6, 4, 1]),
    "unsharp-masking-5x5": (5, [1, 4, 6, 4, 1, 4, 16, 24, 16, 4,
                                6, 24, -476, 24, 6, 4, 16, 24, 16, 4,
                                1, 4, 6, 4, 1]),
}


def neighbors_kernel_def(
    kernel: str | list[float], method: str | None = None, size: int = 0
) -> tuple[int, list[float], str]:
    """Replicates GDALRasterNeighborsAlgorithm::RunStep kernel/method
    resolution (gdalalg_raster_neighbors.cpp:406-516): returns
    (size, weighted coefficients, resolved method)."""
    if isinstance(kernel, (list, tuple)):
        coefs = [float(v) for v in kernel]
        k_size = int(np.floor(np.sqrt(len(coefs)) + 0.5))
        if k_size * k_size != len(coefs):
            raise ValueError("custom kernel length must be a perfect square")
        zero_sum = abs(sum(coefs)) < 1e-10
        if method is None:
            method = "sum" if zero_sum else "mean"
        if zero_sum and method == "mean":
            raise ValueError("method 'mean' with a zero-sum kernel: use 'sum'")
        return k_size, coefs, method
    if method is None:
        method = "sum" if kernel in ("u", "v", "edge1", "edge2") else "mean"
    if size == 0:
        size = 5 if kernel == "unsharp-masking" else 3
    if kernel in ("edge1", "edge2", "sharpen"):
        k_size, ints = NEIGHBOR_KERNELS[kernel]
        return k_size, [float(v) for v in ints], method
    if kernel in ("u", "v"):
        k_size, ints = NEIGHBOR_KERNELS[kernel]
        return k_size, [v * 0.5 for v in ints], method
    if kernel == "equal":
        w = 1.0 / (float(size) * size + _DBL_MIN) if method == "mean" else 1.0
        return size, [w] * (size * size), method
    if kernel == "gaussian":
        if size not in (3, 5):
            raise ValueError("gaussian kernel needs size 3 or 5")
        k_size, ints = NEIGHBOR_KERNELS[f"gaussian-{size}x{size}"]
    elif kernel == "unsharp-masking":
        if size != 5:
            raise ValueError("unsharp-masking kernel needs size 5")
        k_size, ints = NEIGHBOR_KERNELS["unsharp-masking-5x5"]
    else:
        raise ValueError(f"unknown kernel {kernel!r}")
    w = 1.0 / (float(sum(ints)) + _DBL_MIN)  # GetKernelDef normalized path
    return k_size, [v * w for v in ints], method


def neighbors_filter_kernel(
    coefs: list[float], size: int, method: str, nodata: float | None = None
):
    """Vectorized replica of VRTKernelFilteredSource::FilterData
    (vrtfilters.cpp:485-717, non-separable float32 path). Scan order
    is preserved exactly where the reference's result depends on it:
    sum/mean accumulate, stddev's Welford recurrence, and mode's
    first-to-reach-max-count tie rule all walk kernel elements in the
    reference's row-major window order."""
    e = (size - 1) // 2
    nod32 = np.float32(nodata) if nodata is not None else None

    def k(padded: np.ndarray) -> np.ndarray:
        p32 = padded.astype(np.float32)
        h = p32.shape[0] - 2 * e
        w = p32.shape[1] - 2 * e
        center = p32[e : e + h, e : e + w]
        # per-element window views in the reference scan order
        vals: list[np.ndarray] = []  # float64 of float32 values, x coef
        valid: list[np.ndarray] = []
        for di in range(-e, e + 1):
            for dj in range(-e, e + 1):
                ik = (di + e) * size + (dj + e)
                c = coefs[ik]
                win = p32[e + di : e + di + h, e + dj : e + dj + w]
                if nod32 is not None:
                    ok = ~((win == nod32) | np.isnan(win))
                else:
                    ok = np.ones((h, w), dtype=bool)
                if c == 0.0:
                    ok = np.zeros((h, w), dtype=bool)
                vals.append(win.astype(np.float64) * c)
                valid.append(ok)
        n_valid = np.zeros((h, w), dtype=np.int64)
        for ok in valid:
            n_valid += ok
        fill = nodata if nodata is not None else 0.0

        if method in ("min", "max"):
            init = np.inf if method == "min" else -np.inf
            res = np.full((h, w), init)
            for v, ok in zip(vals, valid):
                # fmin/fmax, not minimum/maximum: the reference's
                # `dfVal < dfRes` comparison is false for NaN (keeps
                # dfRes), which is fmin's NaN rule, not minimum's
                res = np.where(ok, np.fmin(res, v) if method == "min" else np.fmax(res, v), res)
            out = np.where(n_valid > 0, res, fill)
        elif method == "sum":
            s = np.zeros((h, w))
            for v, ok in zip(vals, valid):
                s = s + np.where(ok, v, 0.0)
            out = s  # !normalized: raw sum regardless of validCount
        elif method == "mean":
            s = np.zeros((h, w))
            ks = np.zeros((h, w))
            for (v, ok), c in zip(zip(vals, valid), coefs):
                s = s + np.where(ok, v, 0.0)
                ks = ks + np.where(ok, c, 0.0)
            with np.errstate(divide="ignore", invalid="ignore"):
                out = np.where((n_valid == 0) | (ks == 0.0), fill, s / np.where(ks == 0.0, 1.0, ks))
        elif method == "stddev":
            n = np.zeros((h, w))
            mean = np.zeros((h, w))
            m2 = np.zeros((h, w))
            for v, ok in zip(vals, valid):
                n_new = n + ok
                delta = v - mean
                mean_new = mean + delta / np.where(n_new == 0, 1.0, n_new)
                m2_new = m2 + delta * (v - mean_new)
                n, mean, m2 = (
                    np.where(ok, n_new, n),
                    np.where(ok, mean_new, mean),
                    np.where(ok, m2_new, m2),
                )
            with np.errstate(invalid="ignore"):
                out = np.where(n_valid > 0, np.sqrt(m2 / np.where(n_valid == 0, 1, n_valid)), fill)
        elif method == "median":
            stack = np.stack([np.where(ok, v, np.inf) for v, ok in zip(vals, valid)])
            stack.sort(axis=0)
            nv = n_valid
            lo_i = np.clip((nv - 1) // 2, 0, stack.shape[0] - 1)
            hi_i = np.clip(nv // 2, 0, stack.shape[0] - 1)
            ii, jj = np.indices((h, w))
            lo = stack[lo_i, ii, jj]
            hi = stack[hi_i, ii, jj]
            med = np.where(nv % 2 == 1, hi, (lo + hi) / 2.0)
            out = np.where(nv > 0, med, fill)
        elif method == "mode":
            kk = len(vals)
            # cnt[i] = running count of val_i's value at the moment
            # element i is scanned (NaN-aware equality groups NaNs)
            best_cnt = np.zeros((h, w), dtype=np.int64)
            best_val = np.zeros((h, w))
            for i in range(kk):
                cnt = np.zeros((h, w), dtype=np.int64)
                vi, oki = vals[i], valid[i]
                nan_i = np.isnan(vi)
                for j in range(i + 1):
                    vj, okj = vals[j], valid[j]
                    eq = (vj == vi) | (nan_i & np.isnan(vj))
                    cnt += (eq & okj).astype(np.int64)
                cnt = np.where(oki, cnt, 0)
                upd = cnt > best_cnt  # strict >: first-to-reach wins
                best_cnt = np.where(upd, cnt, best_cnt)
                best_val = np.where(upd, vi, best_val)
            out = np.where(n_valid > 0, best_val, fill)
        else:
            raise ValueError(f"unknown method {method!r}")

        out32 = out.astype(np.float32)
        if nod32 is not None:
            out32 = np.where((center == nod32) | np.isnan(center), nod32, out32)
        return out32.astype(np.float64)

    return k


def neighbors(
    tiles: DataFrame,
    spec: RasterSpec,
    kernel: str | list[float] = "equal",
    method: str | None = None,
    size: int = 0,
    nodata: float | None = None,
) -> DataFrame:
    """`gdal raster neighbors` over the distributed tile table: halo
    exchange of (size-1)/2 border pixels (O(perimeter) shuffle), then
    the FilterData replica per tile. Output tiles are float32 values
    widened to float64 payloads (the alg's default Float64 band over
    the float32 work buffer)."""
    k_size, weighted, method_ = neighbors_kernel_def(kernel, method, size)
    kern = neighbors_filter_kernel(weighted, k_size, method_, nodata)
    return focal_apply(tiles, spec, kern, halo=(k_size - 1) // 2)
