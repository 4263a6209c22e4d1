"""Vectorized geometric predicates: ray-cast containment, segment
intersection, and the OGR 3-stage spatial-filter cascade.

Reference semantics (file:line in /root/reference):
  - FilterGeometry cascade: ogr/ogrsf_frmts/generic/ogrlayer.cpp:4004
      stage 0: no filter -> all pass; NULL/EMPTY geometry -> fail
      stage 1: envelope overlap reject (STRICT < comparisons: touching
               envelopes survive)
      stage 2 (filter is its own envelope): geometry envelope fully
               contained -> accept; else any POINT of the geometry
               (polygon: exterior-ring vertices only,
               DoesGeometryHavePointInEnvelope, ogrlayer.cpp:3933)
               inside filter envelope -> accept
      stage 3: exact prepared-geometry Intersects (GEOS); withOUT GEOS
               returns TRUE (the 4-vs-5 split of
               autotest/utilities/test_ogr2ogr.py:77-94)
  - point-in-polygon: even-odd rule, same as the rasterizer's
    pixel-center inside test (alg/llrasterize.cpp:41-45) and GEOS.

All predicates are numpy-vectorized over point batches; polygon sets
are expected to be the small broadcast side.
"""

from __future__ import annotations

import numpy as np

from gdal_spark.geom.batch import GeomBatch, GeomType, concat_ranges


# ---------------------------------------------------------------------------
# edge tables


def rings_to_edges(rings: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Flatten closed rings to edge arrays (x1, y1, x2, y2).

    Rings are closed (first == last vertex, WKT convention); consecutive
    vertex pairs within each ring become edges. Unclosed rings are
    closed implicitly (createFromWkt tolerates it).
    """
    xs1, ys1, xs2, ys2 = [], [], [], []
    for r in rings:
        if len(r) < 2:
            continue
        a = r
        if not (r[0] == r[-1]).all():
            a = np.vstack([r, r[:1]])
        xs1.append(a[:-1, 0])
        ys1.append(a[:-1, 1])
        xs2.append(a[1:, 0])
        ys2.append(a[1:, 1])
    if not xs1:
        z = np.empty(0)
        return z, z, z, z
    return (np.concatenate(xs1), np.concatenate(ys1), np.concatenate(xs2), np.concatenate(ys2))


def line_to_edges(coords: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    if len(coords) < 2:
        z = np.empty(0)
        return z, z, z, z
    return coords[:-1, 0], coords[:-1, 1], coords[1:, 0], coords[1:, 1]


# ---------------------------------------------------------------------------
# containment


def points_in_edges(px: np.ndarray, py: np.ndarray, edges, boundary: bool = True) -> np.ndarray:
    """Even-odd ray cast of N points against an edge table.

    Crossing rule matches the reference scanline rule
    (alg/llrasterize.cpp:41-45): edge crosses the horizontal ray iff
    (y1 <= py < y2) or (y2 <= py < y1) — half-open so shared vertices
    count once — and the intersection x is strictly right of px.

    boundary=True (default) additionally accepts points exactly ON an
    edge, making the result GEOS-Intersects-equivalent (closed sets —
    ogrgeometry.cpp:575 Intersects is GEOS-backed; parity alone is
    half-open on right/top edges). boundary=False keeps raw parity
    (the rasterizer's pixel-center rule, where centers at .5 offsets
    never hit integer edges).
    """
    px = np.asarray(px, dtype=np.float64).reshape(-1, 1)
    py = np.asarray(py, dtype=np.float64).reshape(-1, 1)
    if len(edges[0]) == 0:
        return np.zeros(px.shape[0], dtype=bool)
    inside = (_ray_hits(px, py, edges).sum(axis=1) & 1).astype(bool)
    if boundary:
        inside |= _on_edge(px, py, edges).any(axis=1)
    return inside


def _ray_hits(px: np.ndarray, py: np.ndarray, edges) -> np.ndarray:
    """(N, E) crossings of the rightward rays from N column-shaped
    points with E edges — the terms points_in_edges counts."""
    x1, y1, x2, y2 = edges
    crosses = (y1 <= py) != (y2 <= py)  # (N, E)
    # x of edge at scanline py (safe: where ~crosses the value is unused)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    return crosses & (xint > px)


def _on_edge(px: np.ndarray, py: np.ndarray, edges) -> np.ndarray:
    """(N, E) closed point-on-segment test (collinear and inside the
    segment's box)."""
    x1, y1, x2, y2 = edges
    return (
        ((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) == 0)
        & (np.minimum(x1, x2) <= px)
        & (px <= np.maximum(x1, x2))
        & (np.minimum(y1, y2) <= py)
        & (py <= np.maximum(y1, y2))
    )


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd containment incl. holes (even-odd over ALL rings)."""
    return points_in_edges(px, py, rings_to_edges(rings))


def points_in_rect(px, py, minx, miny, maxx, maxy) -> np.ndarray:
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    return (px >= minx) & (py >= miny) & (px <= maxx) & (py <= maxy)


# ---------------------------------------------------------------------------
# segment intersection


def _cross_sign(ox, oy, ax, ay, bx, by):
    """sign of cross(a-o, b-o) — broadcastable."""
    return np.sign((ax - ox) * (by - oy) - (ay - oy) * (bx - ox))


def edges_intersect_any(ea, eb) -> bool:
    """True iff any edge of table ea intersects any edge of table eb
    (proper or improper, incl. collinear overlap). Vectorized over the
    full Ea×Eb pair matrix."""
    if ea[0].size == 0 or eb[0].size == 0:
        return False
    return bool(_edge_pair_hits(ea, eb).any())


def _edge_pair_hits(ea, eb) -> np.ndarray:
    """(Ea, Eb) segment-intersection matrix of two edge tables."""
    ax1, ay1, ax2, ay2 = (v.reshape(-1, 1) for v in ea)
    bx1, by1, bx2, by2 = eb
    d1 = _cross_sign(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = _cross_sign(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = _cross_sign(bx1, by1, bx2, by2, ax1, ay1)
    d4 = _cross_sign(bx1, by1, bx2, by2, ax2, ay2)
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)

    def on_seg(px, py, x1, y1, x2, y2):
        return (
            (np.minimum(x1, x2) <= px)
            & (px <= np.maximum(x1, x2))
            & (np.minimum(y1, y2) <= py)
            & (py <= np.maximum(y1, y2))
        )

    return (
        proper
        | ((d1 == 0) & on_seg(bx1, by1, ax1, ay1, ax2, ay2))
        | ((d2 == 0) & on_seg(bx2, by2, ax1, ay1, ax2, ay2))
        | ((d3 == 0) & on_seg(ax1, ay1, bx1, by1, bx2, by2))
        | ((d4 == 0) & on_seg(ax2, ay2, bx1, by1, bx2, by2))
    )


# ---------------------------------------------------------------------------
# exact Intersects (GEOS-equivalent for flat 2D types)


def geometry_intersects_rings(
    gtype: GeomType, parts: list[list[np.ndarray]], poly_rings: list[np.ndarray], poly_edges=None
) -> bool:
    """Exact Intersects(geometry, polygon) for one geometry.

    Polygon-vs-X via the classic decomposition: any vertex of X inside
    the polygon, or any polygon vertex inside X (polygon X only), or
    any edge crossing. Equivalent to GEOS Intersects for valid inputs
    (ogrgeometry.cpp:575 Intersects is GEOS-backed).
    """
    if poly_edges is None:
        poly_edges = rings_to_edges(poly_rings)
    if gtype == GeomType.POINT or gtype == GeomType.MULTIPOINT:
        pts = np.concatenate([rings[0] for rings in parts], axis=0)
        return bool(points_in_edges(pts[:, 0], pts[:, 1], poly_edges).any())
    if gtype in (GeomType.LINESTRING, GeomType.MULTILINESTRING):
        for rings in parts:
            line = rings[0]
            if points_in_edges(line[:, 0], line[:, 1], poly_edges).any():
                return True
            if edges_intersect_any(line_to_edges(line), poly_edges):
                return True
        return False
    if gtype in (GeomType.POLYGON, GeomType.MULTIPOLYGON):
        poly_first = poly_rings[0] if poly_rings else np.empty((0, 2))
        for rings in parts:
            ext = rings[0]
            if points_in_edges(ext[:, 0], ext[:, 1], poly_edges).any():
                return True
            if len(poly_first) and points_in_rings(poly_first[:, 0], poly_first[:, 1], rings).any():
                return True
            if edges_intersect_any(rings_to_edges(rings), poly_edges):
                return True
        return False
    return False


def batch_intersects_rings(batch: GeomBatch, i: int, poly_rings, poly_edges=None) -> bool:
    """Exact Intersects(batch geometry i, polygon) — the GC-aware
    entry: a GEOMETRYCOLLECTION intersects iff ANY member does (GEOS
    Intersects supports GC by member union)."""
    gtype, parts = batch.geometry(i)
    gtype = GeomType(gtype)
    if gtype == GeomType.GEOMETRYCOLLECTION:
        if poly_edges is None:
            poly_edges = rings_to_edges(poly_rings)
        return any(
            geometry_intersects_rings(mt, [rings], poly_rings, poly_edges)
            for mt, rings in batch.collection_members(i)
        )
    return geometry_intersects_rings(gtype, parts, poly_rings, poly_edges)


# ---------------------------------------------------------------------------
# grouped exact Intersects: many geometries x one polygon

# elements per pairwise (points x edges, edges x edges) matrix chunk
_CHUNK_CELLS = 1 << 20

_POINT_TYPES = (GeomType.POINT, GeomType.MULTIPOINT)
_LINE_TYPES = (GeomType.LINESTRING, GeomType.MULTILINESTRING)
_POLY_TYPES = (GeomType.POLYGON, GeomType.MULTIPOLYGON)


def _ring_edges(batch: GeomBatch, ring_idx: np.ndarray, close: bool):
    """Edge table of the given rings, edges grouped by ring in input
    order, plus the input position owning each edge. close=True adds
    the implicit closing edge of unclosed rings (rings_to_edges);
    close=False is line_to_edges. Rings under 2 vertices add none."""
    s = batch.ring_coord_off[ring_idx]
    e = batch.ring_coord_off[ring_idx + 1]
    cnt = np.maximum(e - s - 1, 0)
    if close:
        big = np.flatnonzero(e - s >= 2)
        unclosed = ~(batch.coords[s[big]] == batch.coords[e[big] - 1]).all(axis=1)
        cnt[big[unclosed]] += 1
    a, own = concat_ranges(s, s + cnt)
    b = a + 1
    wrap = b == e[own]
    b[wrap] = s[own[wrap]]
    c = batch.coords
    return (c[a, 0], c[a, 1], c[b, 0], c[b, 1]), own


def _chunks(n: int, width: int):
    step = max(1, _CHUNK_CELLS // max(1, width))
    for a in range(0, n, step):
        yield slice(a, min(n, a + step))


def intersects_rings_grouped(batch: GeomBatch, rows, poly_rings, poly_edges=None) -> np.ndarray:
    """Exact Intersects(batch geometry rows[k], polygon) for every k in
    one numpy pass — the grouped form of batch_intersects_rings, with
    the same decomposition per part and the same per-element formulas,
    so both agree bit for bit:

      1. any vertex of a part's first ring (exterior ring of a
         polygon part, the coordinates of a point or line part) is in
         the polygon (points_in_edges);
      2. polygon parts only: any vertex of the polygon's first ring is
         in the part (even-odd over the part's rings plus boundary —
         ray crossings and on-edge hits reduced per part by segment);
      3. any edge of the geometry crosses a polygon edge (the
         edges_intersect_any matrix, reduced per geometry edge).

    Each stage only sees the rows the earlier ones left undecided, and
    every pairwise matrix is built in chunks of about _CHUNK_CELLS
    elements. GEOMETRYCOLLECTION rows take the per-row path; NULL,
    EMPTY and unknown rows are False."""
    rows = np.asarray(rows, dtype=np.int64)
    out = np.zeros(rows.size, dtype=bool)
    if rows.size == 0:
        return out
    if poly_edges is None:
        poly_edges = rings_to_edges(poly_rings)
    types = batch.types[rows]
    for k in np.flatnonzero(types == GeomType.GEOMETRYCOLLECTION):
        out[k] = batch_intersects_rings(batch, int(rows[k]), poly_rings, poly_edges)
    is_poly = np.isin(types, _POLY_TYPES)
    live = np.flatnonzero(np.isin(types, _POINT_TYPES + _LINE_TYPES) | is_poly)
    if live.size == 0:
        return out
    gpo, pro = batch.geom_part_off, batch.part_ring_off
    zone_edges = tuple(np.asarray(v, dtype=np.float64) for v in poly_edges)
    nz = zone_edges[0].size

    # 1. first-ring vertices of every part in the polygon
    cidx, cown = _first_ring_coords(batch, rows[live])
    hit = np.zeros(live.size, dtype=bool)
    for sl in _chunks(cidx.size, nz):
        c = batch.coords[cidx[sl]]
        hit[cown[sl][points_in_edges(c[:, 0], c[:, 1], zone_edges)]] = True
    out[live[hit]] = True
    live = live[~hit]

    # 2. a polygon first-ring vertex inside a polygon part of the row
    poly_first = poly_rings[0] if poly_rings else np.empty((0, 2))
    cand = live[is_poly[live]]
    if len(poly_first) and cand.size:
        part, pown = concat_ranges(gpo[rows[cand]], gpo[rows[cand] + 1])
        ring, rown = concat_ranges(pro[part], pro[part + 1])
        edges, eown = _ring_edges(batch, ring, close=True)
        epart = rown[eown]  # part position of each edge, non-decreasing
        if epart.size:
            seg = np.flatnonzero(np.r_[True, epart[1:] != epart[:-1]])
            part_in = np.zeros(part.size, dtype=bool)
            vx = np.asarray(poly_first[:, 0], dtype=np.float64)
            vy = np.asarray(poly_first[:, 1], dtype=np.float64)
            for sl in _chunks(vx.size, epart.size):
                px, py = vx[sl].reshape(-1, 1), vy[sl].reshape(-1, 1)
                parity = np.logical_xor.reduceat(_ray_hits(px, py, edges), seg, axis=1)
                on = np.logical_or.reduceat(_on_edge(px, py, edges), seg, axis=1)
                part_in[epart[seg]] |= (parity | on).any(axis=0)
            hit = np.zeros(cand.size, dtype=bool)
            hit[pown[part_in]] = True
            out[cand[hit]] = True
            live = np.setdiff1d(live, cand[hit], assume_unique=True)

    # 3. edge x edge: every ring of a polygon part (closed), the first
    # ring of a line part (open); point rows have no edges
    lines = live[np.isin(types[live], _LINE_TYPES)]
    polys = live[is_poly[live]]
    for cand, close in ((lines, False), (polys, True)):
        if cand.size == 0:
            continue
        part, pown = concat_ranges(gpo[rows[cand]], gpo[rows[cand] + 1])
        if close:
            ring, rown = concat_ranges(pro[part], pro[part + 1])
        else:
            ring, rown = pro[part], np.arange(part.size)
        edges, eown = _ring_edges(batch, ring, close=close)
        hit = np.zeros(cand.size, dtype=bool)
        for sl in _chunks(eown.size, nz):
            crossed = _edge_pair_hits(tuple(v[sl] for v in edges), zone_edges).any(axis=1)
            hit[pown[rown[eown[sl][crossed]]]] = True
        out[cand[hit]] = True
    return out


def _first_ring_coords(batch: GeomBatch, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Coordinate indexes of the first ring of every part of the given
    rows (exterior rings of polygons, all vertices of points and
    lines), plus the row position owning each."""
    gpo, pro, rco = batch.geom_part_off, batch.part_ring_off, batch.ring_coord_off
    part, pown = concat_ranges(gpo[rows], gpo[rows + 1])
    cidx, cown = concat_ranges(rco[pro[part]], rco[pro[part] + 1])
    return cidx, pown[cown]


def rings_is_rectangle(rings: list[np.ndarray]) -> bool:
    """OGRGeometry::IsRectangle analog (ogrgeometry.cpp): single ring,
    5 points (closed), axis-parallel edges."""
    if len(rings) != 1:
        return False
    r = rings[0]
    if len(r) != 5 or not (r[0] == r[-1]).all():
        return False
    dx = r[1:, 0] - r[:-1, 0]
    dy = r[1:, 1] - r[:-1, 1]
    return bool(np.all((dx == 0) | (dy == 0)))


# ---------------------------------------------------------------------------
# the cascade


def filter_geometry_batch(
    batch: GeomBatch,
    filter_rings: list[np.ndarray],
    exact: bool = True,
) -> np.ndarray:
    """OGRLayer::FilterGeometry over a batch -> bool mask.

    exact=False reproduces the no-GEOS behavior (stage-3 returns TRUE),
    the envelope-only mode of autotest/utilities/test_ogr2ogr.py:77-94.
    """
    n = len(batch)
    fe = rings_to_edges(filter_rings)
    f_env = (
        min(r[:, 0].min() for r in filter_rings),
        min(r[:, 1].min() for r in filter_rings),
        max(r[:, 0].max() for r in filter_rings),
        max(r[:, 1].max() for r in filter_rings),
    )
    is_env = rings_is_rectangle(filter_rings)

    out = np.zeros(n, dtype=bool)
    envs = batch.envelopes()
    empty = batch.is_empty
    # stage 1: envelope overlap (strict-< reject, ogrlayer.cpp:4031-4035)
    overlap = ~(
        (envs[:, 2] < f_env[0])
        | (envs[:, 3] < f_env[1])
        | (f_env[2] < envs[:, 0])
        | (f_env[3] < envs[:, 1])
    )
    candidates = np.flatnonzero(overlap & ~empty & ~np.isnan(envs[:, 0]))
    if candidates.size == 0:
        return out

    if is_env:
        # stage 2a: envelope containment accept
        contained = (
            (envs[candidates, 0] >= f_env[0])
            & (envs[candidates, 1] >= f_env[1])
            & (envs[candidates, 2] <= f_env[2])
            & (envs[candidates, 3] <= f_env[3])
        )
        out[candidates[contained]] = True
        remaining = candidates[~contained]
        # stage 2b: any vertex (exterior ring only for polygons,
        # ogrlayer.cpp:3955) in envelope
        cidx, cown = _first_ring_coords(batch, remaining)
        vin = np.zeros(remaining.size, dtype=bool)
        vin[cown[points_in_rect(batch.coords[cidx, 0], batch.coords[cidx, 1], *f_env)]] = True
        out[remaining[vin]] = True
        remaining = remaining[~vin]
    else:
        remaining = candidates

    # stage 3: exact intersects (or no-GEOS TRUE)
    if not exact:
        out[remaining] = True
        return out
    out[remaining] = intersects_rings_grouped(batch, remaining, filter_rings, fe)
    return out
