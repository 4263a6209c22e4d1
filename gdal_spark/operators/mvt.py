"""Mapbox Vector Tile sink (MVT 2.1): real protobuf tile payloads.

Reference role: the MVT/PMTiles writer (ogr/ogrsf_frmts/mvt/
ogrmvtdataset.cpp, ~6.5k LoC of C++). This is a from-spec
re-implementation of the ENCODING (the public vector-tile-spec 2.1
protobuf layout: Tile > Layer{version,name,features,keys,values,
extent} > Feature{id,tags,type,geometry}), hand-rolled varints —
no protobuf dependency.

Geometry command encoding (spec 4.3.5): command integer =
(id & 0x7) | (count << 3) with MoveTo=1, LineTo=2, ClosePath=7;
coordinates are zigzag-encoded deltas in tile-local integer units
(extent 4096 by default); polygon rings omit the closing vertex and
end with ClosePath.

Distributed shape identical to the reference's tiling: features
explode to covering tile keys (Catalyst), groupBy(z,tx,ty) encodes
one layer blob per tile — the encoder is pure bytes work per tile.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StructField,
    StructType,
)

from gdal_spark.geom.batch import GeomType
from gdal_spark.geom.wkt import parse_wkt

EXTENT = 4096

MOVE_TO, LINE_TO, CLOSE_PATH = 1, 2, 7
GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON = 1, 2, 3


def _varint(n: int) -> bytes:
    if n < 0:  # would loop forever on an arithmetic right shift
        raise ValueError(f"varint requires a non-negative integer, got {n}")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) if n >= 0 else ((-n << 1) - 1)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _packed(field: int, values: list[int]) -> bytes:
    body = b"".join(_varint(v) for v in values)
    return _len_delim(field, body)


def _cmd(cmd_id: int, count: int) -> int:
    return (cmd_id & 0x7) | (count << 3)


def encode_geometry(gtype: int, parts: list[np.ndarray]) -> list[int]:
    """Geometry command stream from tile-local integer coordinate
    sequences (points: one array of points; lines: one array per
    line; polygons: one array per RING, closing vertex included in
    input and stripped here)."""
    cmds: list[int] = []
    cx = cy = 0
    if gtype == GEOM_POINT:
        pts = parts[0]
        cmds.append(_cmd(MOVE_TO, len(pts)))
        for x, y in pts:
            cmds += [_zigzag(int(x) - cx), _zigzag(int(y) - cy)]
            cx, cy = int(x), int(y)
        return cmds
    for seq in parts:
        s = seq
        if gtype == GEOM_POLYGON and len(s) > 1 and (s[0] == s[-1]).all():
            s = s[:-1]  # spec: rings omit the closing vertex
        cmds.append(_cmd(MOVE_TO, 1))
        cmds += [_zigzag(int(s[0][0]) - cx), _zigzag(int(s[0][1]) - cy)]
        cx, cy = int(s[0][0]), int(s[0][1])
        cmds.append(_cmd(LINE_TO, len(s) - 1))
        for x, y in s[1:]:
            cmds += [_zigzag(int(x) - cx), _zigzag(int(y) - cy)]
            cx, cy = int(x), int(y)
        if gtype == GEOM_POLYGON:
            cmds.append(_cmd(CLOSE_PATH, 1))
    return cmds


def _encode_value(v) -> bytes:
    if isinstance(v, bool):
        return _tag(7, 0) + _varint(1 if v else 0)
    if isinstance(v, (int, np.integer)):
        return _tag(6, 0) + _varint(_zigzag(int(v)))  # sint64
    if isinstance(v, (float, np.floating)):
        import struct

        return _tag(3, 1) + struct.pack("<d", float(v))
    s = str(v).encode("utf-8")
    return _tag(1, 2) + _varint(len(s)) + s


def encode_layer(name: str, features: list[dict], extent: int = EXTENT) -> bytes:
    """features: [{'id': int, 'type': GEOM_*, 'parts': [arrays],
    'attrs': {k: v}}] -> one encoded Layer message."""
    keys: list[str] = []
    key_idx: dict[str, int] = {}
    vals: list = []
    val_idx: dict = {}
    feats = []
    for f in features:
        tags: list[int] = []
        for k, v in (f.get("attrs") or {}).items():
            if k not in key_idx:
                key_idx[k] = len(keys)
                keys.append(k)
            vk = (type(v).__name__, v)
            if vk not in val_idx:
                val_idx[vk] = len(vals)
                vals.append(v)
            tags += [key_idx[k], val_idx[vk]]
        body = b""
        # spec: feature id is uint64 — skip (don't hang/crash on) negatives
        if f.get("id") is not None and int(f["id"]) >= 0:
            body += _tag(1, 0) + _varint(int(f["id"]))
        if tags:
            body += _packed(2, tags)
        body += _tag(3, 0) + _varint(f["type"])
        body += _packed(4, encode_geometry(f["type"], f["parts"]))
        feats.append(body)
    out = _tag(15, 0) + _varint(2)  # version
    out += _len_delim(1, name.encode("utf-8"))
    for b in feats:
        out += _len_delim(2, b)
    for k in keys:
        out += _len_delim(3, k.encode("utf-8"))
    for v in vals:
        out += _len_delim(4, _encode_value(v))
    out += _tag(5, 0) + _varint(extent)
    return out


def encode_tile(layers: list[bytes]) -> bytes:
    return b"".join(_len_delim(3, b) for b in layers)


MVT_SCHEMA = StructType(
    [
        StructField("z", IntegerType()),
        StructField("tx", IntegerType()),
        StructField("ty", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def mvt_tiles(
    df: DataFrame,
    tms,
    z: int,
    layer_name: str = "layer",
    id_col: str = "_id",
    wkt_col: str = "wkt",
    attr_cols: list[str] | None = None,
    extent: int = EXTENT,
) -> DataFrame:
    """Vector layer -> (z, tx, ty, payload) MVT tiles at zoom z.
    Geometries explode to covering tiles via the envelope tile-key
    math, are clipped to each tile's bounds (plus the conventional
    256/4096 buffer) by the overlay kernel, quantized to the extent
    grid, and encoded per tile."""
    from gdal_spark.operators.tiles import tile_keys_for_envelopes
    from gdal_spark.operators.spatial import extract_geom

    attr_cols = attr_cols or []
    if "env_minx" not in df.columns:
        df = extract_geom(
            df.withColumn(
                "spans",
                F.array(
                    F.struct(
                        F.lit("geom").alias("kind"), F.col(wkt_col).alias("text"),
                        F.lit("").alias("media_ref"), F.lit(0).alias("offset"),
                    )
                ),
            )
        )
    res = tms.resolution(z)
    tw = res * tms.tile_size
    tlx, tly = tms.top_left
    n = tms.matrix_size(z)
    keyed = tile_keys_for_envelopes(df, tlx, tly, tw, n)
    sel = keyed.select("tx", "ty", F.col(id_col).alias("_fid"), wkt_col, *attr_cols)

    buf = 256.0 / extent  # tile-fraction clip buffer (mvt convention)

    def _encode(key, pdf):
        from gdal_spark.geom.overlay import clip_line, overlay
        from gdal_spark.geom.predicates import points_in_rect

        txx, tyy = int(key[0]), int(key[1])
        ox = tlx + txx * tw
        oy = tly - tyy * tw
        scale = extent / tw
        b = parse_wkt(pdf[wkt_col])
        feats = []
        rect = np.array(
            [
                [ox - buf * tw, oy - (1 + buf) * tw],
                [ox + (1 + buf) * tw, oy - (1 + buf) * tw],
                [ox + (1 + buf) * tw, oy + buf * tw],
                [ox - buf * tw, oy + buf * tw],
                [ox - buf * tw, oy - (1 + buf) * tw],
            ]
        )

        def to_local(c: np.ndarray) -> np.ndarray:
            out = np.empty_like(c)
            out[:, 0] = np.round((c[:, 0] - ox) * scale)
            out[:, 1] = np.round((oy - c[:, 1]) * scale)  # y grows down
            return out.astype(np.int64)

        for i in range(len(b)):
            if b.is_null[i] or b.is_empty[i]:
                continue
            gtype, parts = b.geometry(i)
            gtype = GeomType(gtype)
            attrs = {c: pdf[c].iloc[i] for c in attr_cols}
            fid = int(pdf["_fid"].iloc[i])
            if gtype in (GeomType.POINT, GeomType.MULTIPOINT):
                pts = np.concatenate([r[0] for r in parts], axis=0)
                keep = points_in_rect(
                    pts[:, 0], pts[:, 1], rect[0, 0], rect[0, 1], rect[1, 0], rect[3, 1]
                )
                if not keep.any():
                    continue
                feats.append(
                    {"id": fid, "type": GEOM_POINT, "parts": [to_local(pts[keep])], "attrs": attrs}
                )
            elif gtype in (GeomType.LINESTRING, GeomType.MULTILINESTRING):
                pieces = []
                for rings in parts:
                    pieces.extend(clip_line(rings[0], [[rect]], keep_inside=True))
                if pieces:
                    feats.append(
                        {"id": fid, "type": GEOM_LINESTRING,
                         "parts": [to_local(p) for p in pieces], "attrs": attrs}
                    )
            else:
                rings_flat = [r for rings in parts for r in rings]
                polys = overlay([rings_flat], [[rect]], "and")
                rings_out = []

                def oriented(ring_local: np.ndarray, exterior: bool) -> np.ndarray:
                    # MVT 2.1 spec 4.3.3.3: in TILE coordinates (y down)
                    # exterior rings must have POSITIVE surveyor's-
                    # formula area, interior rings negative — the
                    # to_local y-flip inverts world winding, so orient
                    # by the tile-space signed area explicitly
                    x, y = ring_local[:, 0], ring_local[:, 1]
                    a2 = np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]) + (
                        x[-1] * y[0] - x[0] * y[-1]
                    )
                    if (a2 > 0) != exterior:
                        return ring_local[::-1]
                    return ring_local

                for shell, holes in polys:
                    rings_out.append(oriented(to_local(shell), exterior=True))
                    rings_out.extend(oriented(to_local(h), exterior=False) for h in holes)
                if rings_out:
                    feats.append(
                        {"id": fid, "type": GEOM_POLYGON, "parts": rings_out, "attrs": attrs}
                    )
        if not feats:
            return pd.DataFrame(
                {"z": pd.array([], dtype="int32"), "tx": pd.array([], dtype="int32"),
                 "ty": pd.array([], dtype="int32"), "payload": pd.array([], dtype=object)}
            )
        payload = encode_tile([encode_layer(layer_name, feats, extent)])
        return pd.DataFrame(
            [{"z": z, "tx": txx, "ty": tyy, "payload": payload}]
        )

    return sel.groupBy("tx", "ty").applyInPandas(_encode, MVT_SCHEMA)
