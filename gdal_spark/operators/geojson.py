"""GeoJSON / GeoJSONSeq vector IO (RFC 7946 / RFC 8142).

Mirrors the reference's GeoJSON driver semantics
(/root/reference/ogr/ogrsf_frmts/geojson/ — OGRGeoJSONReadGeometry's
type dispatch, the FeatureCollection vs newline-delimited "GeoJSONSeq"
split, feature `id` passthrough) re-expressed for Spark:

  * **GeoJSONSeq is the scale path**: one Feature per line means
    `spark.read.text` splits the file across executors for free and
    the parse is an Arrow-batched UDF per line — a 100 TB corpus of
    features reads exactly like any other line-delimited source.
  * A single FeatureCollection document cannot be split (it is one
    JSON value), so it parses inside one task — supported for
    compatibility, documented as the non-scale path (the reference has
    the same asymmetry: its GeoJSONSeq driver streams, its GeoJSON
    driver materializes the doc).
  * Features land as (fid, wkt, properties) where `properties` is the
    raw JSON object text — projecting fields stays JVM-side via
    Spark's own `get_json_object` / `from_json`, not Python.
  * Sinks: `geojson_lines` yields a text column for the distributed
    `df.write.text` GeoJSONSeq sink; `write_geojson` streams a single
    FeatureCollection file via toLocalIterator (driver memory bounded
    by one partition, same pattern as the PMTiles/COG sinks).

Geometry conversion runs on the columnar GeomBatch (geom/batch.py)
via the same WKT parser every other operator uses, so anything the
engine can hold round-trips: Point/LineString/Polygon (holes), the
Multi* types, and GeometryCollection.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from gdal_spark.geom.batch import GeomType
from gdal_spark.geom.wkt import parse_wkt

_JSON_WKT = {
    "Point": "POINT",
    "LineString": "LINESTRING",
    "Polygon": "POLYGON",
    "MultiPoint": "MULTIPOINT",
    "MultiLineString": "MULTILINESTRING",
    "MultiPolygon": "MULTIPOLYGON",
}


def _fmt(v: float) -> str:
    """Shortest round-trip decimal; integers without trailing .0 keeps
    WKT output identical to the engine's own formatter."""
    f = float(v)
    if f == int(f) and abs(f) < 1e15:
        return str(int(f))
    return repr(f)


def _ring_txt(ring) -> str:
    return "(" + ", ".join(f"{_fmt(p[0])} {_fmt(p[1])}" for p in ring) + ")"


def json_geometry_to_wkt(g: dict | None) -> str | None:
    """GeoJSON geometry object -> WKT (OGRGeoJSONReadGeometry dispatch,
    ogrgeojsonreader.cpp). Unknown types raise; null geometry -> None."""
    if g is None:
        return None
    t = g.get("type")
    if t == "GeometryCollection":
        members = [json_geometry_to_wkt(m) for m in g.get("geometries", [])]
        if not members:
            return "GEOMETRYCOLLECTION EMPTY"
        return "GEOMETRYCOLLECTION (" + ", ".join(members) + ")"
    if t not in _JSON_WKT:
        raise ValueError(f"unsupported GeoJSON geometry type: {t!r}")
    c = g.get("coordinates")
    if c is None or len(c) == 0:
        return f"{_JSON_WKT[t]} EMPTY"
    if t == "Point":
        return f"POINT ({_fmt(c[0])} {_fmt(c[1])})"
    if t == "LineString":
        return "LINESTRING " + _ring_txt(c)
    if t == "Polygon":
        return "POLYGON (" + ", ".join(_ring_txt(r) for r in c) + ")"
    if t == "MultiPoint":
        return "MULTIPOINT (" + ", ".join(f"({_fmt(p[0])} {_fmt(p[1])})" for p in c) + ")"
    if t == "MultiLineString":
        return "MULTILINESTRING (" + ", ".join(_ring_txt(r) for r in c) + ")"
    # MultiPolygon
    return "MULTIPOLYGON (" + ", ".join(
        "(" + ", ".join(_ring_txt(r) for r in poly) + ")" for poly in c
    ) + ")"


def _coords_list(ring: np.ndarray, close: bool) -> list:
    pts = [[float(x), float(y)] for x, y in ring]
    if close and pts and pts[0] != pts[-1]:
        pts.append(list(pts[0]))
    return pts


def _member_json(gt: GeomType, rings: list) -> dict:
    if gt == GeomType.POINT:
        p = rings[0][0]
        return {"type": "Point", "coordinates": [float(p[0]), float(p[1])]}
    if gt == GeomType.LINESTRING:
        return {"type": "LineString", "coordinates": _coords_list(rings[0], False)}
    return {"type": "Polygon", "coordinates": [_coords_list(r, True) for r in rings]}


def wkt_to_json_geometry(wkt: str | None) -> dict | None:
    """WKT -> GeoJSON geometry dict via the engine's columnar parser
    (single-value convenience; batch callers use json_geometry_at)."""
    if wkt is None:
        return None
    return json_geometry_at(parse_wkt([wkt]), 0)


def json_geometry_at(batch, i: int) -> dict | None:
    """GeoJSON geometry dict for element i of an already-parsed
    GeomBatch — the Arrow-batched encode path parses ONE batch per
    pandas chunk, not one single-element batch per row."""
    if batch.is_null[i]:
        return None
    gt = GeomType(batch.types[i])
    if bool(batch.is_empty[i]):
        base = {GeomType.POINT: "Point", GeomType.LINESTRING: "LineString",
                GeomType.POLYGON: "Polygon", GeomType.MULTIPOINT: "MultiPoint",
                GeomType.MULTILINESTRING: "MultiLineString",
                GeomType.MULTIPOLYGON: "MultiPolygon",
                GeomType.GEOMETRYCOLLECTION: "GeometryCollection"}[gt]
        if base == "GeometryCollection":
            return {"type": base, "geometries": []}
        return {"type": base, "coordinates": []}
    if gt == GeomType.GEOMETRYCOLLECTION:
        return {
            "type": "GeometryCollection",
            "geometries": [
                _member_json(GeomType(mt), rings)
                for mt, rings in batch.collection_members(i)
            ],
        }
    _gt, parts = batch.geometry(i)
    if gt == GeomType.POINT:
        return _member_json(GeomType.POINT, parts[0])
    if gt == GeomType.LINESTRING:
        return _member_json(GeomType.LINESTRING, parts[0])
    if gt == GeomType.POLYGON:
        return _member_json(GeomType.POLYGON, parts[0])
    if gt == GeomType.MULTIPOINT:
        return {"type": "MultiPoint",
                "coordinates": [[float(pt[0][0][0]), float(pt[0][0][1])] for pt in parts]}
    if gt == GeomType.MULTILINESTRING:
        return {"type": "MultiLineString",
                "coordinates": [_coords_list(p[0], False) for p in parts]}
    return {"type": "MultiPolygon",
            "coordinates": [[_coords_list(r, True) for r in p] for p in parts]}


def _parse_feature(obj: dict) -> dict:
    if obj.get("type") != "Feature":
        # bare geometry lines are legal in sequences (RFC 8142 §2)
        return {"fid": None, "wkt": json_geometry_to_wkt(obj), "properties": None}
    fid = obj.get("id")
    props = obj.get("properties")
    return {
        "fid": int(fid) if isinstance(fid, (int, float)) and not isinstance(fid, bool) else None,
        "wkt": json_geometry_to_wkt(obj.get("geometry")),
        "properties": json.dumps(props, sort_keys=True) if props is not None else None,
    }


_FEATURE_SCHEMA = "fid long, wkt string, properties string"


def read_geojson(spark: SparkSession, path: str, seq: bool | None = None) -> DataFrame:
    """Read GeoJSON into (fid, wkt, properties-json). seq=True forces
    line-delimited GeoJSONSeq (the splittable scale path); seq=False a
    single FeatureCollection document; None sniffs by extension."""
    if seq is None:
        seq = path.endswith((".geojsonl", ".ndjson", ".geojsons", ".jsonl"))
    if seq:
        lines = spark.read.text(path).filter(F.length(F.trim(F.col("value"))) > 0)

        def _p(batches):
            for pdf in batches:
                rows = [
                    _parse_feature(json.loads(ln.lstrip("\x1e")))
                    for ln in pdf["value"]
                ]
                yield pd.DataFrame(rows, columns=["fid", "wkt", "properties"])

        return lines.mapInPandas(_p, _FEATURE_SCHEMA)

    doc = spark.read.text(path, wholetext=True)

    def _pc(batches):
        for pdf in batches:
            rows = []
            for txt in pdf["value"]:
                obj = json.loads(txt)
                feats = obj["features"] if obj.get("type") == "FeatureCollection" else [obj]
                rows.extend(_parse_feature(f) for f in feats)
            yield pd.DataFrame(rows, columns=["fid", "wkt", "properties"])

    return doc.mapInPandas(_pc, _FEATURE_SCHEMA)


def geojson_lines(
    df: DataFrame, wkt_col: str = "wkt", id_col: str | None = None,
    property_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed GeoJSONSeq sink surface: one RFC 7946 Feature per
    row as a text column `value` — write with df.write.text(...). The
    geometry encode is Arrow-batched; property values keep their Spark
    types in the JSON."""
    props = property_cols or []
    cols = [F.col(wkt_col).alias("_wkt")] + [F.col(c) for c in props]
    if id_col:
        cols.append(F.col(id_col).alias("_fid"))
    narrowed = df.select(*cols)

    def _enc(batches):
        for pdf in batches:
            out = []
            wkts = pdf["_wkt"].tolist()
            fids = pdf["_fid"].tolist() if id_col else [None] * len(wkts)
            pvals = {c: pdf[c].tolist() for c in props}
            batch = parse_wkt(pdf["_wkt"])  # ONE columnar parse per Arrow batch
            for i, w in enumerate(wkts):
                f = {"type": "Feature"}
                fid = fids[i]
                if fid is not None and not (isinstance(fid, float) and pd.isna(fid)):
                    f["id"] = int(fid) if isinstance(fid, (int, np.integer)) else fid
                f["geometry"] = None if w is None else json_geometry_at(batch, i)
                f["properties"] = {
                    c: (None if pd.isna(pvals[c][i]) else
                        pvals[c][i].item() if isinstance(pvals[c][i], np.generic)
                        else pvals[c][i])
                    for c in props
                }
                out.append(json.dumps(f, sort_keys=False, separators=(",", ":")))
            yield pd.DataFrame({"value": out})

    return narrowed.mapInPandas(_enc, "value string")


def write_geojson(
    df: DataFrame, path: str, wkt_col: str = "wkt", id_col: str | None = None,
    property_cols: list[str] | None = None,
) -> int:
    """Single FeatureCollection file; encoding is distributed
    (geojson_lines), the driver only streams finished lines."""
    lines = geojson_lines(df, wkt_col=wkt_col, id_col=id_col, property_cols=property_cols)
    n = 0
    with open(path, "w") as f:
        f.write('{"type": "FeatureCollection", "features": [\n')
        for row in lines.toLocalIterator():
            if n:
                f.write(",\n")
            f.write(row["value"])
            n += 1
        f.write("\n]}\n")
    return n
