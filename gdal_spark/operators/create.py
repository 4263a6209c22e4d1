"""gdal raster create / gdal_create
(/root/reference/apps/gdalalg_raster_create.cpp).

Spec construction is driver-side arithmetic (it sizes a grid, not
data); the PIXELS never materialize unless they must:

  - no burn, or one uniform burn value -> the returned tile table is
    EMPTY and the spec's `init` carries the fill. The repo-wide
    absent-tile convention (every stencil/translate/warp/sink operator
    treats in-bounds missing tiles as init-valued) makes this the
    exact raster — a constant 10^6 x 10^6 raster costs zero bytes and
    zero tasks, where the reference's Fill() writes every block.
  - per-band distinct burn values -> one Arrow pass synthesizes the
    (band, ty, tx) lattice (pure-Catalyst key generation, payloads
    cached per distinct tile shape — at most 4 buffers).

Sizing rules transliterated from the reference:
  - size percentages resolve against the `like` spec (":211-239",
    ceil(ref * pct/100 - EPSILON), EPSILON = 1e-5 :209)
  - one zero size axis infers from the other via the like grid's
    aspect (":302-347") or the bbox aspect (":513-534")
  - explicit resolution + like recomputes size from the resolution
    ratio (":431-473"); resolution + bbox sizes from extent/res
    (":476-491")
  - burn value count must be 1 or band-count (":540-556")
  - geotransform from bbox: north-up, xscale = (maxx-minx)/W,
    yscale = -(maxy-miny)/H (":612-623")
  - nodata "none" unsets; unset inherits like's (":370-376")
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from gdal_spark.operators import tilecodec
from gdal_spark.operators.raster import TILE_SCHEMA, RasterSpec, copy_word

_EPSILON = 1e-5  # gdalalg_raster_create.cpp:209

_INT_MAX = 2**31 - 1


def _parse_axis(value, like_axis: int | None, name: str) -> int:
    """One size axis: int, or 'N%' of the like spec's axis."""
    if isinstance(value, str) and value.rstrip().endswith("%"):
        if like_axis is None:
            raise ValueError("Cannot use percentage size without input dataset")
        pct = float(value.rstrip().rstrip("%"))
        size = math.ceil(like_axis * pct / 100.0 - _EPSILON)
        if size > _INT_MAX:
            raise ValueError("Computed size is too large")
        return int(size)
    return int(value)


def raster_create(
    size: tuple | None = None,
    resolution: tuple[float, float] | None = None,
    bbox: tuple[float, float, float, float] | None = None,
    band_count: int | None = None,
    dtype: str | None = None,
    nodata: float | str | None = None,
    burn: list[float] | None = None,
    like: RasterSpec | None = None,
    like_nodata: float | None = None,
    tile_size: int = 256,
    spark: SparkSession | None = None,
) -> tuple[RasterSpec, DataFrame | None]:
    """Returns (spec, tiles). `tiles` is None when no SparkSession is
    given AND the raster is expressible as spec-only (uniform fill);
    otherwise a TILE_SCHEMA DataFrame (empty for uniform fills)."""
    w = h = None
    gt = like.gt if like is not None else None

    if size is not None:
        w = _parse_axis(size[0], like.width if like else None, "width")
        h = _parse_axis(size[1], like.height if like else None, "height")

    res = list(resolution) if resolution is not None else None

    if like is not None:
        if w is None and h is None and res is None:
            w, h = like.width, like.height
        # one zero axis: infer from the like grid's aspect (:302-347)
        if w == 0 and (h or 0) > 0:
            ratio = like.width / like.height
            w = math.ceil(h * ratio - _EPSILON)
        elif h == 0 and (w or 0) > 0:
            ratio = like.height / like.width
            h = math.ceil(w * ratio - _EPSILON)
        if band_count is None:
            band_count = like.nbands
        if dtype is None:
            dtype = like.dtype
        if nodata is None and like_nodata is not None:
            nodata = like_nodata
        # explicit resolution recomputes size from the like grid (:431-473)
        if res is not None:
            if res[0] == 0:
                res[0] = res[1]
            if res[1] == 0:
                res[1] = res[0]
            xr = abs(like.gt[1]) / res[0]
            yr = abs(like.gt[5]) / res[1]
            w = math.ceil(like.width * xr - _EPSILON)
            h = math.ceil(like.height * yr - _EPSILON)
            if w > _INT_MAX or h > _INT_MAX:
                raise ValueError("Computed size is too large")

    # size from bbox + resolution (:476-491); the zero-axis
    # substitution applies here too, not only under `like`
    if w is None and bbox is not None and res is not None:
        if res[0] == 0:
            res[0] = res[1]
        if res[1] == 0:
            res[1] = res[0]
        if res[0] == 0 or res[1] == 0:
            raise ValueError("Invalid resolution")
        if bbox[2] - bbox[0] != 0 and bbox[3] - bbox[1] != 0:
            w = math.ceil((bbox[2] - bbox[0]) / res[0] - _EPSILON)
            h = math.ceil((bbox[3] - bbox[1]) / res[1] - _EPSILON)
            if w > _INT_MAX or h > _INT_MAX:
                raise ValueError("Computed size is too large")

    if w is None or h is None:
        if res is not None and bbox is None:
            raise ValueError("Cannot use resolution without 'bbox' or 'like' dataset")
        raise ValueError(
            "Argument 'size' or 'resolution' or 'like' dataset should be specified"
        )

    # one zero axis from the bbox aspect (:513-534)
    if (w == 0) != (h == 0) and bbox is not None and (
        bbox[2] - bbox[0] != 0 and bbox[3] - bbox[1] != 0
    ):
        ratio = (bbox[2] - bbox[0]) / (bbox[3] - bbox[1])
        if w == 0:
            w = math.ceil(h * ratio - _EPSILON)
        else:
            h = math.ceil(w / ratio - _EPSILON)

    if not w or not h or w < 0 or h < 0:
        raise ValueError(f"Invalid raster size {w}x{h}")

    nbands = 1 if band_count is None else int(band_count)
    dt = dtype or "uint8"

    if burn is not None and len(burn) not in (1, nbands):
        if nbands == 1:
            raise ValueError(
                "One value should be provided for argument 'burn', "
                "given there is one band"
            )
        raise ValueError(
            f"One or {nbands} values should be provided for argument 'burn', "
            f"given there are {nbands} bands"
        )

    if bbox is not None:
        gt = (
            bbox[0],
            (bbox[2] - bbox[0]) / w,
            0.0,
            bbox[3],
            0.0,
            -(bbox[3] - bbox[1]) / h,
        )
    if gt is None:
        gt = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)  # ungeoreferenced default

    if isinstance(nodata, str):
        nodata = None if nodata.lower() == "none" else float(nodata)

    uniform = burn is None or len(set(burn)) == 1
    # uniform burns round through GDALCopyWord exactly like the
    # per-band lattice path — otherwise densify's C-truncating np.full
    # and materialize_full's copy_word would disagree on the pixel value
    init = (
        float(copy_word(np.array([float(burn[0])], dtype=np.float64), dt)[0])
        if (burn and uniform)
        else 0.0
    )
    spec = RasterSpec(
        width=int(w), height=int(h), gt=tuple(float(v) for v in gt),
        dtype=dt, nbands=nbands, init=init, tile_size=tile_size,
    )
    # nodata rides as an attribute-style sidecar (RasterSpec is frozen
    # and nodata-free by design; sinks take nodata explicitly and read
    # it back via getattr(spec, "nodata", None))
    if nodata is not None:
        object.__setattr__(spec, "nodata", float(nodata))
    if spark is None:
        if not uniform:
            raise ValueError("per-band burn values need a SparkSession to materialize")
        return spec, None

    if uniform:
        tiles = spark.createDataFrame([], TILE_SCHEMA)
        return spec, tiles

    # distinct per-band burn values: synthesize the dense lattice
    vals = [
        float(copy_word(np.array([bv], dtype=np.float64), dt)[0])
        for bv in (burn if len(burn) == nbands else burn * nbands)
    ]
    nty, ntx = spec.ntiles_y, spec.ntiles_x
    # integer `div`, not float `/`: at 2^53+ lattice ids double division
    # stops being exact and tiles would silently collide/vanish
    lattice = spark.range(nbands * nty * ntx).select(
        (F.col("id") % nbands + 1).cast("int").alias("band"),
        (F.expr(f"id div {nbands}") % nty).cast("int").alias("ty"),
        F.expr(f"id div {nbands * nty}").cast("int").alias("tx"),
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[tuple[int, int, int], bytes] = {}
        for pdf in batches:
            hs, ws, payloads = [], [], []
            for band, ty, tx in zip(pdf["band"], pdf["ty"], pdf["tx"]):
                th, tw = spec.tile_shape(int(ty), int(tx))
                key = (int(band), th, tw)
                if key not in cache:
                    cache[key] = tilecodec.encode(np.full((th, tw), vals[int(band) - 1], dtype=dt))
                hs.append(th)
                ws.append(tw)
                payloads.append(cache[key])
            out = pdf[["band", "ty", "tx"]].copy()
            out["h"] = np.asarray(hs, dtype=np.int32)
            out["w"] = np.asarray(ws, dtype=np.int32)
            out["dtype"] = dt
            out["payload"] = payloads
            yield out

    return spec, lattice.mapInPandas(_synth, TILE_SCHEMA)


# ---------------------------------------------------------------------------
# gdal vector create (apps/gdalalg_vector_create.cpp)
# ---------------------------------------------------------------------------

# OGR field-type names (OGRFieldDefn::GetFieldTypeByName, EQUAL =
# case-insensitive) -> Spark column types. "Time" has no Spark scalar
# type; OGR prints HH:MM:SS strings, so it maps to string (the same
# mapping csv/gpkg layers use).
_OGR_FIELD_TO_SPARK = {
    "integer": "int",
    "integerlist": "array<int>",
    "real": "double",
    "reallist": "array<double>",
    "string": "string",
    "stringlist": "array<string>",
    "binary": "binary",
    "date": "date",
    "time": "string",
    "datetime": "timestamp",
    "integer64": "bigint",
    "integer64list": "array<bigint>",
}

# canonical capitalization for echoing back in schema records
_OGR_FIELD_CANON = {
    "integer": "Integer", "integerlist": "IntegerList", "real": "Real",
    "reallist": "RealList", "string": "String", "stringlist": "StringList",
    "binary": "Binary", "date": "Date", "time": "Time",
    "datetime": "DateTime", "integer64": "Integer64",
    "integer64list": "Integer64List",
}

# GDALAlgorithm::ParseFieldDefinition regex (gdalalgorithm.cpp:5388):
# ^([^:]+):([^(\s]+)(?:\((\d+)(?:,(\d+))?\))?$
import re as _re

_FIELD_DEF_RE = _re.compile(r"^([^:]+):([^(\s]+)(?:\((\d+)(?:,(\d+))?\))?$")

# OGRFromOGCGeomType prefix table (ogrgeometry.cpp:2646); order
# matters (CURVE/SURFACE after their longer composites, exactly as the
# reference's if-chain)
_OGC_GEOM_PREFIXES = (
    "POINT", "LINESTRING", "POLYGON", "MULTIPOINT", "MULTILINESTRING",
    "MULTIPOLYGON", "GEOMETRYCOLLECTION", "CIRCULARSTRING",
    "COMPOUNDCURVE", "CURVEPOLYGON", "MULTICURVE", "MULTISURFACE",
    "TRIANGLE", "POLYHEDRALSURFACE", "TIN", "CURVE", "SURFACE",
)


def parse_field_definition(text: str) -> dict:
    """<NAME>:<TYPE>[(<WIDTH>[,<PRECISION>])] -> field record
    (gdalalgorithm.cpp:5384 ParseFieldDefinition). Unknown type names
    resolve to String in the reference's GetFieldTypeByName, which
    ParseFieldDefinition rejects unless the text literally equals
    "String" (case-insensitive)."""
    m = _FIELD_DEF_RE.match(text)
    if not m:
        raise ValueError(
            "Invalid field definition format. Expected "
            "<NAME>:<TYPE>[(<WIDTH>[,<PRECISION>])]"
        )
    name, typ = m.group(1), m.group(2)
    key = typ.lower()
    if key not in _OGR_FIELD_TO_SPARK:
        raise ValueError(f"Unsupported field type: {typ}")
    return {
        "name": name,
        "type": _OGR_FIELD_CANON[key],
        "spark_type": _OGR_FIELD_TO_SPARK[key],
        "width": int(m.group(3)) if m.group(3) else 0,
        "precision": int(m.group(4)) if m.group(4) else 0,
    }


def parse_ogc_geom_type(text: str) -> str:
    """OGRFromOGCGeomType (ogrgeometry.cpp:2646): case-insensitive
    prefix match + trailing Z/M flags; unknown -> 'Unknown' (the
    caller errors unless the text starts with GEOMETRY)."""
    base = "Unknown"
    up = text.upper()
    for p in _OGC_GEOM_PREFIXES:
        if up.startswith(p):
            base = p
            break
    z = m = False
    if text:
        ch = text[-1].upper()
        if ch == "M":
            m = True
            if len(text) > 1:
                ch = text[-2].upper()
        if ch == "Z":
            z = True
    return base + (" Z" if z and not m else " M" if m and not z else " ZM" if z and m else "")


def vector_create(
    spark: SparkSession,
    path: str,
    *,
    layer_name: str | None = None,
    fields=(),
    geometry_type: str | None = None,
    geometry_field: str | None = None,
    crs: str | None = None,
    fid: str | None = None,
    schema: dict | None = None,
    like: DataFrame | None = None,
    like_name: str = "layer",
    like_wkt_col: str | None = "wkt",
    input_layers=(),
    update: bool = False,
    overwrite_layer: bool = False,
    job_id: str = "vector_create",
) -> dict:
    """`gdal vector create` (apps/gdalalg_vector_create.cpp): create an
    empty vector dataset/layer with a declared schema — from --field
    definitions, an OGR_SCHEMA-shaped dict (--schema), or a template
    DataFrame (--like, whose schema exports through the same
    export_schema JSON the reference round-trips via GDALVectorInfo
    -schema, :186-210).

    Spark shape: the dataset is the multi-layer directory convention of
    fsops (immediate subdirectories are layers; the dataset-level
    `_lineage.json` records the layer list). Each layer lands as a
    ZERO-ROW parquet snapshot carrying the mapped Spark schema plus a
    per-layer metadata record (OGR field types with width/precision,
    geometry field name/type, CRS, FID column) — writing an empty
    parquet costs one metadata-only task regardless of eventual table
    size, the exact analog of CreateLayer-without-features.

    Reference validations replicated (:102-118, :135-143, :297-303,
    :360-369, :438-474): schema/like exclude the per-layer args;
    existing dataset requires update; existing layer requires
    overwrite_layer (and overwrite_layer without the layer is "Cannot
    find layer"); unknown geometry types error unless they start with
    GEOMETRY; explicit output layer name + multi-layer schema errors;
    duplicate field names error.

    Returns the dataset-level record {"path", "layers": {name: layer
    record}}."""
    import json as _json
    import os as _os

    from gdal_spark.metrics import LINEAGE_FILE, write_snapshot

    fields = tuple(fields)  # a generator must survive both the mutex
    input_layers = tuple(input_layers)  # check and the parse loop
    if (schema is not None or like is not None) and (
        geometry_field is not None
        or geometry_type is not None
        or len(fields)
        or crs is not None
        or fid is not None
    ):
        raise ValueError(
            "When --schema or --like is specified, --geometry-field, "
            "--geometry-type, --field, --crs and --fid options must "
            "not be specified."
        )
    if schema is not None and like is not None:
        raise ValueError("--schema and --like are mutually exclusive.")

    exists = _os.path.exists(path)
    if exists and not update:
        raise FileExistsError(
            f"Dataset {path} already exists. Specify the --update option "
            "to open it in update mode."
        )

    # CPLGetBasenameSafe: file name without directory or last extension
    base = _os.path.basename(path.rstrip("/"))
    default_layer = base.rsplit(".", 1)[0] if "." in base else base

    if like is not None:
        from gdal_spark.operators.info import export_schema

        schema = export_schema(like, layer_name=like_name, wkt_col=like_wkt_col)

    # resolve the set of layer records to create
    if schema is not None:
        layer_descs = {ly["name"]: ly for ly in schema.get("layers", [])}
        if not layer_descs:
            raise ValueError("Cannot parse OGR_SCHEMA: no layers.")
        for want in input_layers:
            if want not in layer_descs:
                raise ValueError(
                    f"The specified input layer name '{want}' doesn't exist "
                    "in the provided template or schema."
                )
        names = [n for n in layer_descs if not input_layers or n in input_layers]
        if layer_name and len(names) > 1 and len(input_layers) != 1:
            raise ValueError(
                "Output layer name should not be specified when there are "
                "multiple layers in the schema."
            )
        to_create = {}
        for n in names:
            ly = layer_descs[n]
            out_name = layer_name if (layer_name and len(names) == 1) else n
            flds = []
            for f in ly.get("fields", []):
                key = str(f.get("type", "String")).lower()
                if key not in _OGR_FIELD_TO_SPARK:
                    raise ValueError(f"Unsupported field type: {f.get('type')}")
                flds.append({
                    "name": f["name"],
                    "type": _OGR_FIELD_CANON[key],
                    "spark_type": _OGR_FIELD_TO_SPARK[key],
                    "width": int(f.get("width", 0)),
                    "precision": int(f.get("precision", 0)),
                })
            gfs = ly.get("geometry_fields", [])
            if len(gfs) > 1:
                raise ValueError("Multiple geometry fields are not supported.")
            to_create[out_name] = {
                "fields": flds,
                "geometry_fields": [
                    {"name": g.get("name", "geom"),
                     "type": g.get("type", "Unknown"),
                     "crs": g.get("crs")}
                    for g in gfs
                ],
                "fid": ly.get("fid") or None,
            }
    else:
        parsed = []
        for fdef in fields:
            rec = parse_field_definition(fdef) if isinstance(fdef, str) else dict(fdef)
            for p in parsed:
                if p["name"].lower() == rec["name"].lower():
                    raise ValueError(f"Duplicate field name: '{rec['name']}'")
            parsed.append(rec)
        gfs = []
        if geometry_type is not None:
            gt = parse_ogc_geom_type(geometry_type)
            if gt == "Unknown" and not geometry_type.upper().startswith("GEOMETRY"):
                raise ValueError(f"Unsupported geometry type: '{geometry_type}'.")
            gfs.append({
                "name": geometry_field if geometry_field is not None else "geom",
                "type": gt,
                "crs": crs,
            })
        to_create = {
            (layer_name or default_layer): {
                "fields": parsed,
                "geometry_fields": gfs,
                "fid": fid,
            }
        }

    # existing layers: the overwrite_layer contract (:438-474)
    existing_layers: list[str] = []
    lineage_path = _os.path.join(path, LINEAGE_FILE)
    rec = {}
    if exists and _os.path.exists(lineage_path):
        with open(lineage_path) as f:
            rec = _json.load(f)
        existing_layers = list(rec.get("layers", []))
    for name in to_create:
        if name in existing_layers and not overwrite_layer:
            raise FileExistsError(
                f"Layer '{name}' already exists. Specify the "
                "--overwrite-layer option to overwrite it."
            )
        if name not in existing_layers and overwrite_layer and exists:
            raise ValueError(f"Cannot find layer '{name}'.")

    _os.makedirs(path, exist_ok=True)
    out_layers = dict(rec.get("layer_meta", {}))
    for name, ly in to_create.items():
        cols = [
            StructField(f["name"], _parse_spark_type(f["spark_type"]))
            for f in ly["fields"]
        ] + [StructField(g["name"], StringType()) for g in ly["geometry_fields"]]
        empty = spark.createDataFrame([], StructType(cols))
        write_snapshot(
            empty, _os.path.join(path, name), job_id=job_id,
            params={"op": "vector_create", "layer": name},
        )
        out_layers[name] = {
            "fields": [
                {k: f[k] for k in ("name", "type", "width", "precision")}
                for f in ly["fields"]
            ],
            "geometry_fields": ly["geometry_fields"],
            "fid": ly.get("fid"),
        }

    layers = existing_layers + [n for n in to_create if n not in existing_layers]
    rec.update({"layers": layers, "layer_meta": out_layers})
    with open(lineage_path, "w") as f:
        _json.dump(rec, f)
    return {"path": path, "layers": out_layers}


def _parse_spark_type(name: str):
    from pyspark.sql.types import (
        ArrayType, BinaryType, DateType, DoubleType, IntegerType,
        LongType, StringType, TimestampType,
    )

    table = {
        "int": IntegerType(), "bigint": LongType(), "double": DoubleType(),
        "string": StringType(), "binary": BinaryType(), "date": DateType(),
        "timestamp": TimestampType(),
    }
    if name.startswith("array<"):
        return ArrayType(table[name[6:-1]])
    return table[name]
