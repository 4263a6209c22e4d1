"""WKT parser/writer, semantics of OGRGeometryFactory::createFromWkt.

Reference: /root/reference/ogr/ogrgeometryfactory.cpp:~420 (createFromWkt)
and the per-class importFromWkt readers. Matching behaviors:
  - case-insensitive type keyword; optional Z/M/ZM tokens (extra
    dimensions parsed then dropped — engine is 2D v1, the reference's
    wkbFlatten analog, ogr_core.h:573);
  - "EMPTY" produces an empty geometry of the declared type;
  - MULTIPOINT accepts both "MULTIPOINT (1 2, 3 4)" and
    "MULTIPOINT ((1 2), (3 4))" forms (ogrmultipoint.cpp);
  - invalid text is reported as an error, not silently dropped
    (FIXTURES.md F1: invalid rows routed to an error column).

parse_wkt reads the two canonical shapes of document workloads
('POINT (x y)' and a single-ring 'POLYGON ((x y,...))') a whole
class at a time — regex extract, one np.fromstring, bulk offsets — and
every other form per string; the output is one columnar GeomBatch and
downstream math is fully vectorized.
"""

from __future__ import annotations

import re

import numpy as np

from gdal_spark.geom.batch import GeomBatch, GeomBatchBuilder, GeomType, interleave, single_ring_batch

_TYPE_RE = re.compile(
    r"^\s*([A-Za-z]+)\s*(Z|M|ZM)?\s*(EMPTY|\(.*\))\s*$", re.IGNORECASE | re.DOTALL
)
_NORM_RE = re.compile(r"\s*([(),])\s*")

_TYPE_BY_NAME = {
    "POINT": GeomType.POINT,
    "LINESTRING": GeomType.LINESTRING,
    "POLYGON": GeomType.POLYGON,
    "MULTIPOINT": GeomType.MULTIPOINT,
    "MULTILINESTRING": GeomType.MULTILINESTRING,
    "MULTIPOLYGON": GeomType.MULTIPOLYGON,
    # surface subtypes normalize to their flat container on parse —
    # the reference models OGRTriangle IS-A OGRPolygon and exports
    # PolyhedralSurface/TIN patches as polygons (ogr_geometry.h:3983,
    # ogrpolyhedralsurface.cpp); the WKT body grammars coincide
    "TRIANGLE": GeomType.POLYGON,
    "POLYHEDRALSURFACE": GeomType.MULTIPOLYGON,
    "TIN": GeomType.MULTIPOLYGON,
}

# Curve types linearize on parse (ogrgeometryfactory.cpp
# curveToLineString / getLinearGeometry; see geom/curves.py) to their
# linear counterparts — same as the reference's forceTo* behavior for
# engines without native curve support.
_CURVE_TARGET = {
    "CIRCULARSTRING": GeomType.LINESTRING,
    "COMPOUNDCURVE": GeomType.LINESTRING,
    "CURVEPOLYGON": GeomType.POLYGON,
    "MULTICURVE": GeomType.MULTILINESTRING,
    "MULTISURFACE": GeomType.MULTIPOLYGON,
}


class WktError(ValueError):
    pass


def _coords(text: str, ndim: int) -> np.ndarray:
    """Parse 'x1 y1[ z1],x2 y2[ z2],...' -> (k, 2) float64."""
    return _coords_full(text, ndim)[:, :2].copy()


def _coords_full(text: str, ndim: int) -> np.ndarray:
    """Like _coords but keeps every declared dimension: (k, ndim)."""
    arr = np.fromstring(text.replace(",", " "), sep=" ")
    if arr.size == 0 or arr.size % ndim != 0:
        raise WktError(f"bad coordinate run: {text[:40]!r}")
    return arr.reshape(-1, ndim)


def _detect_ndim(body: str, declared: str | None) -> int:
    if declared:
        return 2 + len(declared)
    # count numbers in the first coordinate tuple
    first = re.split(r"[,)]", body.lstrip("("), maxsplit=1)[0]
    n = len(first.split())
    if n not in (2, 3, 4):
        raise WktError(f"bad coordinate dimension in {first!r}")
    return n


def _split_top(inner: str) -> list[str]:
    """Split a normalized '(..)' interior at top-level commas."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(inner):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(inner[start:i])
            start = i + 1
    parts.append(inner[start:])
    return parts


def _linearize_curve_line(comp: str, ndim: int) -> np.ndarray:
    """One curve component (CIRCULARSTRING(..), COMPOUNDCURVE(..) or a
    bare parenthesized coordinate run) -> stroked polyline."""
    from gdal_spark.geom.curves import linearize_circularstring

    u = comp.upper()
    try:
        if u.startswith("CIRCULARSTRING"):
            return linearize_circularstring(_coords(comp[comp.index("(") + 1 : -1], ndim))
        if u.startswith("COMPOUNDCURVE"):
            segs = [
                _linearize_curve_line(c, ndim)
                for c in _split_top(comp[comp.index("(") + 1 : -1])
            ]
            out = [segs[0]]
            for sgm in segs[1:]:
                out.append(sgm[1:])  # components share endpoints
            return np.concatenate(out, axis=0)
        if comp.startswith("("):
            return _coords(comp[1:-1], ndim)
    except ValueError as exc:
        raise WktError(str(exc)) from exc
    raise WktError(f"bad curve component: {comp[:40]!r}")


def _collection_members(inner: str) -> list[tuple[GeomType, list[np.ndarray]]]:
    """GEOMETRYCOLLECTION interior -> flat (atomic member type, rings)
    list. Members parse through the normal machinery (so curve members
    linearize and nested collections/multis flatten to their atomic
    parts — the reference keeps nesting, ogrgeometrycollection.cpp; we
    normalize to an equivalent flat member list). EMPTY members
    contribute nothing (they carry no coordinates)."""
    out: list[tuple[GeomType, list[np.ndarray]]] = []
    for member in _split_top(inner):
        tb = GeomBatchBuilder()
        _parse_one(member, tb)
        b = tb.finish()
        out.extend(b.collection_members(0))
    return out


def _parse_one(s: str, builder: GeomBatchBuilder) -> None:
    m = _TYPE_RE.match(s)
    if not m:
        raise WktError(f"unparseable WKT: {s[:60]!r}")
    name = m.group(1).upper()
    gtype = _TYPE_BY_NAME.get(name)
    curve_target = _CURVE_TARGET.get(name)
    is_gc = name == "GEOMETRYCOLLECTION"
    if gtype is None and curve_target is None and not is_gc:
        raise WktError(f"unsupported geometry type: {name}")
    body = m.group(3)
    if body.upper() == "EMPTY":
        builder.add_empty(
            GeomType.GEOMETRYCOLLECTION if is_gc else (gtype if gtype is not None else curve_target)
        )
        return
    if is_gc:
        builder.add_collection(_collection_members(_NORM_RE.sub(r"\1", body)[1:-1]))
        return
    body = _NORM_RE.sub(r"\1", body)
    ndim = _detect_ndim(
        re.sub(r"[A-Za-z]+", "", body), m.group(2).upper() if m.group(2) else None
    )

    if curve_target is not None:
        inner = body[1:-1]
        if name == "CIRCULARSTRING":
            builder.add(curve_target, [[_linearize_curve_line(name + body, ndim)]])
        elif name == "COMPOUNDCURVE":
            builder.add(curve_target, [[_linearize_curve_line(name + body, ndim)]])
        elif name == "CURVEPOLYGON":
            rings = [_linearize_curve_line(r, ndim) for r in _split_top(inner)]
            builder.add(curve_target, [rings])
        elif name == "MULTICURVE":
            lines = [_linearize_curve_line(c, ndim) for c in _split_top(inner)]
            builder.add(curve_target, [[ln] for ln in lines])
        else:  # MULTISURFACE
            parts = []
            for comp in _split_top(inner):
                u = comp.upper()
                if u.startswith("CURVEPOLYGON"):
                    rs = _split_top(comp[comp.index("(") + 1 : -1])
                elif comp.startswith("("):
                    rs = _split_top(comp[1:-1])
                else:
                    raise WktError(f"bad surface component: {comp[:40]!r}")
                parts.append([_linearize_curve_line(r, ndim) for r in rs])
            builder.add(curve_target, parts)
        return

    if gtype == GeomType.POINT:
        builder.add(gtype, [[_coords(body[1:-1], ndim)]])
    elif gtype == GeomType.LINESTRING:
        builder.add(gtype, [[_coords(body[1:-1], ndim)]])
    elif gtype == GeomType.POLYGON:
        rings = [_coords(r, ndim) for r in body[2:-2].split("),(")]
        builder.add(gtype, [rings])
    elif gtype == GeomType.MULTIPOINT:
        flat = body.replace("(", "").replace(")", "")
        pts = _coords(flat, ndim)
        builder.add(gtype, [[pts[i : i + 1]] for i in range(len(pts))])
    elif gtype == GeomType.MULTILINESTRING:
        lines = [_coords(r, ndim) for r in body[2:-2].split("),(")]
        builder.add(gtype, [[ln] for ln in lines])
    elif gtype == GeomType.MULTIPOLYGON:
        polys = body[3:-3].split(")),((")
        parts = []
        for poly in polys:
            parts.append([_coords(r, ndim) for r in poly.split("),(")])
        builder.add(gtype, parts)
    else:  # pragma: no cover
        raise WktError(f"unhandled type {name}")


def _parse_one_z(s: str) -> list[list[np.ndarray]]:
    """Z side-channel for BURN_VALUE_FROM=Z (gdal_rasterize -3d):
    [part -> [ring -> (k,) z]] aligned 1:1 with parse_wkt's
    batch.geometry(i) part/ring/coord structure. Geometries without a
    Z dimension yield zeros (OGRPoint::getZ on 2D returns 0 — the
    reference burns burn+0 for them, alg/gdalrasterize.cpp:427).
    Declared-M-only coordinates are measures, not Z -> zeros.
    Linearized curves yield zeros of the stroked length (the 2D
    linearizer drops Z)."""
    return _parse_one_extra(s, measure=False)


def _parse_one_m(s: str) -> list[list[np.ndarray]]:
    """M (measure) side-channel, same aligned structure as
    _parse_one_z: the 3rd value of declared-M coordinates or the 4th
    of ZM/4-dim ones; geometries without measures yield zeros
    (OGRPoint::getM on an M-less geometry returns 0)."""
    return _parse_one_extra(s, measure=True)


def _parse_one_extra(s: str, measure: bool) -> list[list[np.ndarray]]:
    m = _TYPE_RE.match(s)
    if not m:
        raise WktError(f"unparseable WKT: {s[:60]!r}")
    name = m.group(1).upper()
    gtype = _TYPE_BY_NAME.get(name)
    curve_target = _CURVE_TARGET.get(name)
    if gtype is None and curve_target is None:
        raise WktError(f"unsupported geometry type: {name}")
    body = m.group(3)
    if body.upper() == "EMPTY":
        return []
    body = _NORM_RE.sub(r"\1", body)
    declared = m.group(2).upper() if m.group(2) else None
    ndim = _detect_ndim(re.sub(r"[A-Za-z]+", "", body), declared)
    if measure:
        # M is the 4th value of ZM/4-dim coords, the 3rd of declared-M
        col = 3 if ndim >= 4 else (2 if declared == "M" else None)
    else:
        # Z is the 3rd value unless the declared token says measure
        col = 2 if (ndim >= 3 and declared != "M") else None
    has_z = col is not None

    def zcol(text: str) -> np.ndarray:
        full = _coords_full(text, ndim)
        return full[:, col].copy() if has_z else np.zeros(len(full))

    if curve_target is not None:
        inner = body[1:-1]
        if name in ("CIRCULARSTRING", "COMPOUNDCURVE"):
            return [[np.zeros(len(_linearize_curve_line(name + body, ndim)))]]
        if name == "CURVEPOLYGON":
            return [[np.zeros(len(_linearize_curve_line(r, ndim))) for r in _split_top(inner)]]
        if name == "MULTICURVE":
            return [[np.zeros(len(_linearize_curve_line(c, ndim)))] for c in _split_top(inner)]
        parts = []  # MULTISURFACE
        for comp in _split_top(inner):
            u = comp.upper()
            if u.startswith("CURVEPOLYGON"):
                rs = _split_top(comp[comp.index("(") + 1 : -1])
            elif comp.startswith("("):
                rs = _split_top(comp[1:-1])
            else:
                raise WktError(f"bad surface component: {comp[:40]!r}")
            parts.append([np.zeros(len(_linearize_curve_line(r, ndim))) for r in rs])
        return parts

    if gtype in (GeomType.POINT, GeomType.LINESTRING):
        return [[zcol(body[1:-1])]]
    if gtype == GeomType.POLYGON:
        return [[zcol(r) for r in body[2:-2].split("),(")]]
    if gtype == GeomType.MULTIPOINT:
        flat = body.replace("(", "").replace(")", "")
        z = zcol(flat)
        return [[z[i : i + 1]] for i in range(len(z))]
    if gtype == GeomType.MULTILINESTRING:
        return [[zcol(r)] for r in body[2:-2].split("),(")]
    # MULTIPOLYGON
    return [[zcol(r) for r in poly.split("),(")] for poly in body[3:-3].split(")),((")]


def parse_wkt_z(strings) -> list:
    """Per input WKT: the _parse_one_z structure; None for null or
    unparseable rows (mirrors parse_wkt's error routing, so indexes
    align with the batch)."""
    out = []
    for s in strings:
        if s is None or (isinstance(s, float) and np.isnan(s)):
            out.append(None)
            continue
        try:
            out.append(_parse_one_z(str(s)))
        except WktError:
            out.append(None)
    return out


def parse_wkt_m(strings) -> list:
    """Per input WKT: the _parse_one_m (measure) structure; None for
    null or unparseable rows — same alignment contract as
    parse_wkt_z."""
    out = []
    for s in strings:
        if s is None or (isinstance(s, float) and np.isnan(s)):
            out.append(None)
            continue
        try:
            out.append(_parse_one_m(str(s)))
        except WktError:
            out.append(None)
    return out


_FAST_POINT_RE = r"^POINT \((-?[0-9]+(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?) (-?[0-9]+(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?)\)$"
_NUM = r"-?[0-9]+(?:\.[0-9]+)?"
_FAST_POLYGON_RE = rf"POLYGON \(\({_NUM} {_NUM}(?:,{_NUM} {_NUM})*\)\)"


def parse_wkt(strings, return_errors: bool = False):
    """Parse an iterable of WKT strings (None allowed) into a GeomBatch.

    With return_errors=True also returns a list[str|None] of parse
    errors; erroring rows become NULL geometries (never dropped).

    Two canonical shapes take a vectorized path — 'POINT (x y)' and a
    single-ring 2-D 'POLYGON ((x y,x y,...))' without exponents,
    the dominant shapes of document workloads: one regex pass per
    class, one bulk number conversion per class (the polygons' joined
    coordinate text goes through a single np.fromstring), and bulk
    offset assembly. Every other form goes
    through the general per-string reader. The classes are assembled
    into one batch by row (batch.interleave), not run by run.
    """
    import pandas as pd

    s = strings if isinstance(strings, pd.Series) else pd.Series(list(strings), dtype=object)
    s = s.reset_index(drop=True)
    n = len(s)
    errors: list[str | None] = [None] * n
    null_mask = s.isna().to_numpy()
    text = s.fillna("").astype(str)
    ext = text.str.extract(_FAST_POINT_RE)
    # astype(float), not pd.to_numeric: pandas' own string-to-double
    # conversion is off by one ulp on ~1 in 8 17-digit values, which
    # would break the lossless to_wkt -> parse_wkt round trip
    px = ext[0].astype(np.float64).to_numpy()
    py = ext[1].astype(np.float64).to_numpy()
    fast = ~null_mask & ~np.isnan(px) & ~np.isnan(py)
    pieces = []
    if fast.any():
        pt_rows = np.flatnonzero(fast)
        xy = np.column_stack([px[pt_rows], py[pt_rows]])
        pieces.append((pt_rows, single_ring_batch(GeomType.POINT, xy, np.ones(pt_rows.size, np.int64))))

    rest = np.flatnonzero(~null_mask & ~fast)
    poly = text.iloc[rest].str.fullmatch(_FAST_POLYGON_RE).to_numpy(dtype=bool)
    if poly.any():
        # one buffer for the whole class: rows split by newlines, which
        # the fullmatch rules out inside a row
        buf = "\n".join(text.iloc[rest[poly]]).encode("ascii")
        ch = np.frombuffer(buf, dtype=np.uint8)
        row_of = np.cumsum(ch == ord("\n"))
        counts = np.bincount(row_of[ch == ord(",")], minlength=int(poly.sum())) + 1
        nums = buf.replace(b"POLYGON ((", b"").replace(b"))", b" ").replace(b",", b" ")
        xy = np.fromstring(nums, sep=" ").reshape(-1, 2)
        pieces.append((rest[poly], single_ring_batch(GeomType.POLYGON, xy, counts)))
        rest = rest[~poly]

    builder = GeomBatchBuilder()
    for i in rest:
        try:
            _parse_one(s.iloc[i], builder)
        except WktError as exc:
            # route to error column, keep row (FIXTURES.md F1)
            builder.add_null()
            errors[i] = str(exc)
    pieces.append((rest, builder.finish()))
    batch = interleave(n, pieces)
    if return_errors:
        return batch, errors
    return batch


def _fmt_d(v: float) -> str:
    """Shortest-clean double format: %.15g (the reference's
    OGR_WKT_PRECISION=15 default look) upgraded to %.17g whenever 15
    significant digits would not round-trip the exact value. Unlike
    the reference, WKT is this engine's INTERNAL interchange format
    between stages, so formatting must be lossless."""
    s = f"{v:.15g}"
    return s if float(s) == v else f"{v:.17g}"


def _fmt(coords: np.ndarray) -> str:
    return ",".join(f"{_fmt_d(x)} {_fmt_d(y)}" for x, y in coords)


def to_wkt(batch: GeomBatch) -> list:
    """GeomBatch -> list of WKT strings (None for null geometries)."""
    out: list[str | None] = []
    for i in range(len(batch)):
        if batch.is_null[i]:
            out.append(None)
            continue
        gtype, parts = batch.geometry(i)
        name = gtype.name
        if not parts:
            out.append(f"{name} EMPTY")
            continue
        if gtype == GeomType.POINT:
            out.append(f"POINT ({_fmt(parts[0][0])})")
        elif gtype == GeomType.LINESTRING:
            out.append(f"LINESTRING ({_fmt(parts[0][0])})")
        elif gtype == GeomType.POLYGON:
            rings = ",".join(f"({_fmt(r)})" for r in parts[0])
            out.append(f"POLYGON ({rings})")
        elif gtype == GeomType.MULTIPOINT:
            pts = ",".join(f"({_fmt(p[0])})" for p in parts)
            out.append(f"MULTIPOINT ({pts})")
        elif gtype == GeomType.MULTILINESTRING:
            lines = ",".join(f"({_fmt(p[0])})" for p in parts)
            out.append(f"MULTILINESTRING ({lines})")
        elif gtype == GeomType.MULTIPOLYGON:
            polys = ",".join("(" + ",".join(f"({_fmt(r)})" for r in rings) + ")" for rings in parts)
            out.append(f"MULTIPOLYGON ({polys})")
        elif gtype == GeomType.GEOMETRYCOLLECTION:
            ms = []
            for mt, rings in batch.collection_members(i):
                if mt == GeomType.POINT:
                    ms.append(f"POINT ({_fmt(rings[0])})")
                elif mt == GeomType.LINESTRING:
                    ms.append(f"LINESTRING ({_fmt(rings[0])})")
                else:
                    ms.append("POLYGON (" + ",".join(f"({_fmt(r)})" for r in rings) + ")")
            out.append(f"GEOMETRYCOLLECTION ({','.join(ms)})" if ms else "GEOMETRYCOLLECTION EMPTY")
        else:
            out.append(f"{name} EMPTY")
    return out
