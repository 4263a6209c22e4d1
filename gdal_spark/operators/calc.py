"""`gdal raster reclassify` + `gdal raster calc` as tile operators.

Reclassify reference: frmts/vrt/vrtreclassifier.cpp (Interval::Parse
:60-160, Reclassify :398-433) driven by apps/gdalalg_raster_reclassify.cpp.
Mapping grammar: `interval = dest; ...` where interval is a constant,
`(a,b)` / `[a,b]` with mixed brackets and +-inf bounds, `NAN`, or
`NO_DATA` (the input nodata value); dest is a number, `NO_DATA` (the
output nodata), `PASS_THROUGH`, or for the `DEFAULT` key any of those.
Open bounds become closed via nextafter (vrtreclassifier.cpp:148-155),
so containment is always dfMin <= x <= dfMax. A source value matching
no interval and no DEFAULT is an error (gdalalg_raster_reclassify's
"no specified mapping" failure).

Calc reference: apps/gdalalg_raster_calc.cpp (`gdal raster calc -i
A=a.tif -i B=b.tif --calc "A+B"`): same-grid inputs are joined per
(band, tile) and the expression is evaluated per pixel.

Spark plan: both are embarrassingly tile-parallel. Reclassify is one
mapInPandas over the tile table (no shuffle at all). Calc joins the N
input tile tables on (band, ty, tx) — an equi-join Catalyst plans as a
broadcast or shuffle join by table size — then evaluates the
expression in one Arrow batch per tile with numpy (the engine's
Python-pixel-function pattern; expressions stay vectorized, never
per-pixel Python).
"""

from __future__ import annotations

import math
import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import TILE_SCHEMA, RasterSpec, copy_word

# ---------------------------------------------------------------------------
# reclassify


_NUM_RE = r"[-+]?(?:inf|[0-9]*\.?[0-9]+(?:[eE][-+]?[0-9]+)?)"


def _parse_interval(text: str, src_nodata: float | None) -> tuple[float, float] | str:
    """One source interval -> (min, max) closed bounds, or 'nan'."""
    t = text.strip()
    u = t.upper()
    if u == "NAN":
        return "nan"
    if u == "NO_DATA":
        if src_nodata is None:
            raise ValueError("NO_DATA in mapping but no input nodata value")
        return (float(src_nodata), float(src_nodata))
    m = re.fullmatch(rf"([\(\[])\s*({_NUM_RE})\s*,\s*({_NUM_RE})\s*([\)\]])", t)
    if m:
        lo, hi = float(m.group(2)), float(m.group(3))
        if math.isnan(lo) or math.isnan(hi):
            raise ValueError("NaN is not a valid interval bound")
        if lo > hi:
            raise ValueError(f"lower bound > upper bound in {text!r}")
        if m.group(1) == "(":
            lo = np.nextafter(lo, np.inf)
        if m.group(4) == ")":
            hi = np.nextafter(hi, -np.inf)
        return (lo, hi)
    m = re.fullmatch(_NUM_RE, t)
    if m:
        v = float(t)
        return (v, v)
    raise ValueError(f"bad interval: {text!r}")


def parse_mapping(
    mapping: str, src_nodata: float | None = None, dst_nodata: float | None = None
):
    """-> (intervals: [(lo, hi, dest|None)], nan_dest, default_dest,
    default_passthrough). dest None means PASS_THROUGH."""
    intervals: list[tuple[float, float, float | None]] = []
    nan_dest = None
    default_dest: float | None = None
    default_pass = False
    have_default = False

    def dest_of(text: str) -> float | None:
        d = text.strip().upper()
        if d == "PASS_THROUGH":
            return None
        if d == "NO_DATA":
            if dst_nodata is None:
                raise ValueError("NO_DATA dest but no output nodata value")
            return float(dst_nodata)
        return float(text)

    for part in mapping.split(";"):
        part = part.split("#", 1)[0].strip()  # file-form comments
        if not part:
            continue
        left, right = part.split("=", 1)
        lu = left.strip().upper()
        if lu == "DEFAULT":
            have_default = True
            dv = dest_of(right)
            if dv is None:
                default_pass = True
            else:
                default_dest = dv
            continue
        iv = _parse_interval(left, src_nodata)
        if iv == "nan":
            nan_dest = dest_of(right)
            if nan_dest is None:
                nan_dest = float("nan")
            continue
        lo, hi = iv
        intervals.append((lo, hi, dest_of(right)))
    return intervals, nan_dest, default_dest, default_pass if have_default else None


def reclassify_array(arr: np.ndarray, parsed) -> np.ndarray:
    """Apply a parsed mapping to one array (float64 in/out).
    Vectorized: one boolean mask per interval (mappings are short)."""
    intervals, nan_dest, default_dest, default_pass = parsed
    src = arr.astype(np.float64)
    out = np.empty_like(src)
    matched = np.zeros(src.shape, dtype=bool)
    nanmask = np.isnan(src)
    if nanmask.any():
        if nan_dest is None and default_dest is None and default_pass is None:
            raise ValueError("value nan has no specified mapping")
        out[nanmask] = nan_dest if nan_dest is not None else (
            default_dest if default_dest is not None else src[nanmask]
        )
        matched |= nanmask
    for lo, hi, dest in intervals:
        m = ~matched & (src >= lo) & (src <= hi)
        if m.any():
            out[m] = src[m] if dest is None else dest
            matched |= m
    rest = ~matched
    if rest.any():
        if default_pass:
            out[rest] = src[rest]
        elif default_dest is not None:
            out[rest] = default_dest
        else:
            bad = float(src[rest].flat[0])
            raise ValueError(f"value {bad} has no specified mapping")
    return out


def reclassify(
    tiles: DataFrame,
    spec: RasterSpec,
    mapping: str,
    src_nodata: float | None = None,
    dst_nodata: float | None = None,
    out_dtype: str | None = None,
) -> DataFrame:
    """Distributed `gdal raster reclassify`: tile table -> tile table,
    no shuffle (narrow mapInPandas). Mapping errors (an unmatched
    value without DEFAULT) surface as task failures, matching the
    reference's abort."""
    parsed = parse_mapping(mapping, src_nodata, dst_nodata)
    dt = out_dtype or spec.dtype

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for a in tilecodec.decode_batch(pdf):
                payloads.append(tilecodec.encode(copy_word(reclassify_array(a, parsed), dt)))
            out = pdf.copy()
            out["payload"] = payloads
            out["dtype"] = dt
            yield out[["band", "ty", "tx", "h", "w", "dtype", "payload"]]

    return tiles.mapInPandas(_run, TILE_SCHEMA)


# ---------------------------------------------------------------------------
# calc

_ALLOWED_CALLS = {
    "abs": np.abs, "sqrt": np.sqrt, "exp": np.exp, "log": np.log,
    "log10": np.log10, "sin": np.sin, "cos": np.cos, "tan": np.tan,
    "atan": np.arctan, "atan2": np.arctan2, "floor": np.floor,
    "ceil": np.ceil, "min": np.minimum, "max": np.maximum,
    "pow": np.power, "where": np.where, "isnan": np.isnan,
}
_EXPR_TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")


def compile_expr(expr: str, names: list[str]):
    """Validate + compile a calc expression (muparser subset used by
    gdalalg_raster_calc): input letters, numbers, arithmetic /
    comparisons / ternary-via-where, and the whitelisted math calls.
    Any other identifier is rejected before eval — the expression can
    only see numpy arrays and the call table."""
    for tok in set(_EXPR_TOKEN_RE.findall(expr)):
        if tok not in names and tok not in _ALLOWED_CALLS:
            raise ValueError(f"unknown identifier {tok!r} in calc expression")
    code = compile(expr, "<calc>", "eval")
    ns = dict(_ALLOWED_CALLS)

    def run(arrays: dict[str, np.ndarray]) -> np.ndarray:
        local = dict(ns)
        local.update(arrays)
        return np.asarray(eval(code, {"__builtins__": {}}, local), dtype=np.float64)

    return run


def raster_calc(
    inputs: dict[str, DataFrame],
    spec: RasterSpec,
    expr: str,
    out_dtype: str = "float64",
) -> DataFrame:
    """Distributed `gdal raster calc -i A=... -i B=... --calc expr`
    (apps/gdalalg_raster_calc.cpp): same-grid inputs joined per
    (band, ty, tx), expression evaluated per tile in one numpy batch.

    Plan: N-1 equi-joins on the tile key (Catalyst broadcasts the
    smaller tile tables; co-partitioned tables join without a
    shuffle), then one applyInPandas burn per joined tile row."""
    names = sorted(inputs)
    if not names:
        raise ValueError("raster_calc needs at least one input")
    run = compile_expr(expr, names)

    joined = None
    for n in names:
        t = inputs[n].select(
            "band", "ty", "tx", "h", "w",
            F.col("dtype").alias(f"dtype_{n}"),
            F.col("payload").alias(f"payload_{n}"),
        )
        joined = t if joined is None else joined.join(t, ["band", "ty", "tx", "h", "w"])

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in range(len(pdf)):
                h, w = int(pdf["h"].iloc[i]), int(pdf["w"].iloc[i])
                key = tuple(int(pdf[k].iloc[i]) for k in ("band", "ty", "tx"))
                arrays = {
                    n: tilecodec.decode(pdf[f"payload_{n}"].iloc[i], pdf[f"dtype_{n}"].iloc[i], (h, w), key)
                    .astype(np.float64)
                    for n in names
                }
                payloads.append(tilecodec.encode(copy_word(run(arrays), out_dtype)))
            out = pdf[["band", "ty", "tx", "h", "w"]].copy()
            out["dtype"] = out_dtype
            out["payload"] = payloads
            yield out[["band", "ty", "tx", "h", "w", "dtype", "payload"]]

    return joined.mapInPandas(_run, TILE_SCHEMA)
