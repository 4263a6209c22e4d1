"""Columnar geometry batch: ragged coordinate arrays + offsets.

The in-task analog of OGR's feature geometry (ogr/ogr_geometry.h) but
columnar, mirroring how the reference's own Arrow stream flattens
geometries to WKB binary columns (ogrlayerarrow.cpp). A GeomBatch
holds N geometries of the flat 2D types:

  POINT, LINESTRING, POLYGON, MULTIPOINT, MULTILINESTRING, MULTIPOLYGON

as one (total_vertices, 2) float64 coords array plus three offset
layers (geometry -> parts -> rings -> coords). Empty/NULL geometries
are represented with zero parts and flagged in `is_null` / `is_empty`
(distinct states, matching OGR's NULL-vs-EMPTY distinction that the
spatial filter treats identically as "fail": ogrlayer.cpp:4004).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import IntEnum

import numpy as np


class GeomType(IntEnum):
    """Flat 2D WKB geometry type codes (ogr/ogr_core.h:422-470)."""

    UNKNOWN = 0
    POINT = 1
    LINESTRING = 2
    POLYGON = 3
    MULTIPOINT = 4
    MULTILINESTRING = 5
    MULTIPOLYGON = 6
    GEOMETRYCOLLECTION = 7  # parsed + envelope/area/intersects; overlay algebra out of scope v1


# atomic member type contributed by each part of a container type
_MEMBER_TYPE = {
    GeomType.MULTIPOINT: GeomType.POINT,
    GeomType.MULTILINESTRING: GeomType.LINESTRING,
    GeomType.MULTIPOLYGON: GeomType.POLYGON,
}


@dataclass
class GeomBatch:
    """N geometries, columnar.

    Layout (all int64 offsets, exclusive-end convention like Arrow):
      geom_part_off : (N+1,)  geometry i owns parts [g[i], g[i+1])
      part_ring_off : (P+1,)  part j owns rings    [p[j], p[j+1])
      ring_coord_off: (R+1,)  ring k owns coords   [r[k], r[k+1])
      coords        : (C, 2) float64

    For POINT/LINESTRING/MULTIPOINT parts have exactly one "ring"
    holding the coordinate run. POLYGON parts hold 1+ rings (first
    exterior, rest holes — even-odd rule makes orientation irrelevant
    for containment, alg/llrasterize.cpp:105).
    """

    types: np.ndarray  # (N,) uint8 GeomType
    geom_part_off: np.ndarray
    part_ring_off: np.ndarray
    ring_coord_off: np.ndarray
    coords: np.ndarray
    is_null: np.ndarray = field(default=None)  # (N,) bool
    # (P,) uint8 atomic member type per part — POINT/LINESTRING/POLYGON.
    # Only load-bearing for GEOMETRYCOLLECTION rows (whose parts mix
    # dimensions, flattened to atomic members on parse — the reference
    # keeps nested containers, ogr_geometry.h OGRGeometryCollection;
    # equivalent geometry, normalized structure). None on batches built
    # without the builder (pre-GC code paths): no GC rows there.
    part_types: np.ndarray = field(default=None)

    def __post_init__(self) -> None:
        if self.is_null is None:
            self.is_null = np.zeros(len(self.types), dtype=bool)

    def __len__(self) -> int:
        return len(self.types)

    @property
    def is_empty(self) -> np.ndarray:
        """EMPTY (zero parts) or NULL."""
        return (self.geom_part_off[1:] == self.geom_part_off[:-1]) | self.is_null

    def envelopes(self) -> np.ndarray:
        """(N, 4) [minx, miny, maxx, maxy]; NaN for empty/null.

        Reference: OGRLayer precomputes envelopes for filter stage 2
        (ogrlayer.cpp:4025 getEnvelope).
        """
        n = len(self)
        env = np.full((n, 4), np.nan)
        if len(self.coords) == 0:
            return env
        # coords per geometry: expand geometry id per coordinate, then
        # segmented min/max via np.minimum/maximum.reduceat.
        first_ring = self.part_ring_off[self.geom_part_off]  # (N+1,) ring idx
        coord_start = self.ring_coord_off[first_ring]  # (N+1,) coord idx
        starts, ends = coord_start[:-1], coord_start[1:]
        nonempty = ends > starts
        if not nonempty.any():
            return env
        s = starts[nonempty]
        env[nonempty, 0] = np.minimum.reduceat(self.coords[:, 0], s)
        env[nonempty, 1] = np.minimum.reduceat(self.coords[:, 1], s)
        env[nonempty, 2] = np.maximum.reduceat(self.coords[:, 0], s)
        env[nonempty, 3] = np.maximum.reduceat(self.coords[:, 1], s)
        env[self.is_null] = np.nan
        return env

    def areas(self) -> np.ndarray:
        """(N,) exact planar area (OGRGeometry::get_Area /
        ogrsqlitesqlfunctions.cpp:636 ST_Area): per polygon part
        |shoelace(exterior)| - sum |shoelace(holes)|, summed over parts;
        0.0 for points/lines; NaN for null. Fully vectorized: one
        shoelace pass over the flat coords + two reduceat folds.
        """
        n = len(self)
        out = np.zeros(n, dtype=np.float64)
        nrings = len(self.ring_coord_off) - 1
        if nrings == 0 or len(self.coords) == 0:
            out[self.is_null] = np.nan
            return out
        ring_ends = self.ring_coord_off[1:] - 1
        starts = self.ring_coord_off[:-1]
        # center every ring on its own first vertex before the cross
        # terms: the shoelace is translation-invariant, and without
        # centering the x_i*y_j products cancel catastrophically for
        # small features far from the origin (a 0.01-unit square at
        # y~6.6e5 loses ~7 significant digits of area)
        ridx = np.repeat(np.arange(nrings), np.diff(self.ring_coord_off))
        x = self.coords[:, 0] - self.coords[np.minimum(starts, len(self.coords) - 1), 0][ridx]
        y = self.coords[:, 1] - self.coords[np.minimum(starts, len(self.coords) - 1), 1][ridx]
        # consecutive-pair cross terms; zero the last slot of each ring
        # (rings are stored closed, so pair (last,first-of-next-ring)
        # must not contribute)
        c = np.zeros(len(x), dtype=np.float64)
        c[:-1] = x[:-1] * y[1:] - x[1:] * y[:-1]
        nonempty = ring_ends >= starts
        # zero the cross-ring pair, then close each ring explicitly
        # (last->first term; with first-vertex centering x[s]=y[s]=0,
        # so the closing term is exactly 0)
        e, s = ring_ends[nonempty], starts[nonempty]
        c[e] = x[e] * y[s] - x[s] * y[e]
        sums = np.add.reduceat(c, np.minimum(starts, len(c) - 1))
        sums[~nonempty] = 0.0
        ring_area = np.abs(sums) * 0.5  # (R,)
        # ring role: first ring of its part = exterior (+), rest holes (-)
        sign = -np.ones(nrings, dtype=np.float64)
        first_of_part = self.part_ring_off[:-1]
        sign[first_of_part[self.part_ring_off[:-1] < self.part_ring_off[1:]]] = 1.0
        signed = ring_area * sign
        # fold rings -> geometries (ring ranges per geometry are contiguous)
        g_first_ring = self.part_ring_off[self.geom_part_off]  # (N+1,)
        gs, ge = g_first_ring[:-1], g_first_ring[1:]
        has_rings = ge > gs
        if has_rings.any():
            out[has_rings] = np.add.reduceat(signed, gs[has_rings])
        # area only applies to polygon types; lines/points -> 0.
        # GEOMETRYCOLLECTION sums its SURFACE members only
        # (OGRGeometryCollection::get_Area, ogrgeometrycollection.cpp):
        # zero non-polygon member rings before the fold re-run
        is_gc = self.types == GeomType.GEOMETRYCOLLECTION
        if is_gc.any() and self.part_types is not None:
            nparts = len(self.part_ring_off) - 1
            part_of_ring = np.repeat(np.arange(nparts), np.diff(self.part_ring_off))
            geom_of_part = np.repeat(np.arange(n), np.diff(self.geom_part_off))
            kill = is_gc[geom_of_part[part_of_ring]] & (
                self.part_types[part_of_ring] != GeomType.POLYGON
            )
            if kill.any():
                signed = signed.copy()
                signed[kill] = 0.0
                out[has_rings] = np.add.reduceat(signed, gs[has_rings])
        is_poly = (
            (self.types == GeomType.POLYGON)
            | (self.types == GeomType.MULTIPOLYGON)
            | is_gc
        )
        out[~is_poly] = 0.0
        out[self.is_null] = np.nan
        return np.maximum(out, 0.0)

    def geometry(self, i: int) -> tuple[GeomType, list[list[np.ndarray]]]:
        """Materialize geometry i as [part -> [ring -> (k,2) coords]]."""
        parts = []
        for j in range(self.geom_part_off[i], self.geom_part_off[i + 1]):
            rings = []
            for k in range(self.part_ring_off[j], self.part_ring_off[j + 1]):
                rings.append(self.coords[self.ring_coord_off[k] : self.ring_coord_off[k + 1]])
            parts.append(rings)
        return GeomType(self.types[i]), parts

    def polygon_rings(self, i: int) -> list[np.ndarray]:
        """All rings of a (multi)polygon geometry i, flattened across
        parts — sufficient for even-odd containment. For a
        GEOMETRYCOLLECTION, only its POLYGON members' rings."""
        is_gc = self.types[i] == GeomType.GEOMETRYCOLLECTION and self.part_types is not None
        rings = []
        for j in range(self.geom_part_off[i], self.geom_part_off[i + 1]):
            if is_gc and self.part_types[j] != GeomType.POLYGON:
                continue
            for k in range(self.part_ring_off[j], self.part_ring_off[j + 1]):
                rings.append(self.coords[self.ring_coord_off[k] : self.ring_coord_off[k + 1]])
        return rings

    def collection_members(self, i: int) -> list[tuple["GeomType", list[np.ndarray]]]:
        """Geometry i's parts as (atomic member type, rings) pairs.
        For non-collection types the member type is derived from the
        container type, so callers can decompose uniformly."""
        gt = GeomType(self.types[i])
        out = []
        for j in range(self.geom_part_off[i], self.geom_part_off[i + 1]):
            if self.part_types is not None:
                mt = GeomType(self.part_types[j])
            else:
                mt = _MEMBER_TYPE.get(gt, gt)
            rings = [
                self.coords[self.ring_coord_off[k] : self.ring_coord_off[k + 1]]
                for k in range(self.part_ring_off[j], self.part_ring_off[j + 1])
            ]
            out.append((mt, rings))
        return out


class GeomBatchBuilder:
    """Incremental builder used by the WKT/WKB parsers."""

    def __init__(self) -> None:
        self.types: list[int] = []
        self.geom_part_off = [0]
        self.part_ring_off = [0]
        self.ring_coord_off = [0]
        self.coord_chunks: list[np.ndarray] = []
        self._ncoords = 0
        self.is_null: list[bool] = []
        self.part_types: list[int] = []

    def add_null(self) -> None:
        self.types.append(GeomType.UNKNOWN)
        self.geom_part_off.append(self.geom_part_off[-1])
        self.is_null.append(True)

    def add_empty(self, gtype: GeomType) -> None:
        self.types.append(gtype)
        self.geom_part_off.append(self.geom_part_off[-1])
        self.is_null.append(False)

    def add(self, gtype: GeomType, parts: list[list[np.ndarray]]) -> None:
        """parts: [part -> [ring -> (k,2) array]]."""
        self.types.append(gtype)
        member = _MEMBER_TYPE.get(gtype, gtype)
        for rings in parts:
            for ring in rings:
                ring = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
                self.coord_chunks.append(ring)
                self._ncoords += len(ring)
                self.ring_coord_off.append(self._ncoords)
            self.part_ring_off.append(len(self.ring_coord_off) - 1)
            self.part_types.append(member)
        self.geom_part_off.append(len(self.part_ring_off) - 1)
        self.is_null.append(False)

    def add_collection(self, members: list[tuple[GeomType, list[np.ndarray]]]) -> None:
        """One GEOMETRYCOLLECTION from (atomic member type, rings)
        pairs — one part per member; EMPTY members contribute none."""
        self.types.append(GeomType.GEOMETRYCOLLECTION)
        for mt, rings in members:
            for ring in rings:
                ring = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
                self.coord_chunks.append(ring)
                self._ncoords += len(ring)
                self.ring_coord_off.append(self._ncoords)
            self.part_ring_off.append(len(self.ring_coord_off) - 1)
            self.part_types.append(mt)
        self.geom_part_off.append(len(self.part_ring_off) - 1)
        self.is_null.append(False)

    def finish(self) -> GeomBatch:
        coords = (
            np.concatenate(self.coord_chunks, axis=0)
            if self.coord_chunks
            else np.empty((0, 2), dtype=np.float64)
        )
        return GeomBatch(
            types=np.asarray(self.types, dtype=np.uint8),
            geom_part_off=np.asarray(self.geom_part_off, dtype=np.int64),
            part_ring_off=np.asarray(self.part_ring_off, dtype=np.int64),
            ring_coord_off=np.asarray(self.ring_coord_off, dtype=np.int64),
            coords=coords,
            is_null=np.asarray(self.is_null, dtype=bool),
            part_types=np.asarray(self.part_types, dtype=np.uint8),
        )


def concat_ranges(starts: np.ndarray, ends: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Concatenated arange(s, e) over all (s, e) ranges, plus the range
    number each element came from — the index expansion every
    offset-layer gather and scatter uses."""
    lens = ends - starts
    owner = np.repeat(np.arange(lens.size), lens)
    first = np.repeat(starts - (np.cumsum(lens) - lens), lens)
    return np.arange(owner.size) + first, owner


def _offsets(counts: np.ndarray) -> np.ndarray:
    """Exclusive-end offsets [0, c0, c0+c1, ...] of per-item counts."""
    off = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    return off


def single_ring_batch(gtype: GeomType, coords: np.ndarray, counts: np.ndarray) -> GeomBatch:
    """len(counts) geometries of one part and one ring each (POINT or
    single-ring POLYGON); geometry k owns the next counts[k] rows of
    coords."""
    k = len(counts)
    return GeomBatch(
        types=np.full(k, gtype, dtype=np.uint8),
        geom_part_off=np.arange(k + 1, dtype=np.int64),
        part_ring_off=np.arange(k + 1, dtype=np.int64),
        ring_coord_off=_offsets(counts),
        coords=np.asarray(coords, dtype=np.float64).reshape(-1, 2),
        is_null=np.zeros(k, dtype=bool),
        part_types=np.full(k, gtype, dtype=np.uint8),
    )


def interleave(n: int, pieces: list[tuple[np.ndarray, GeomBatch]]) -> GeomBatch:
    """One n-row batch from (rows, sub-batch) pieces: result row
    rows[k] is geometry k of that piece. Rows no piece covers are
    NULL. Pure offset arithmetic — no per-row work."""
    types = np.zeros(n, dtype=np.uint8)
    is_null = np.ones(n, dtype=bool)
    nparts = np.zeros(n, dtype=np.int64)
    for rows, b in pieces:
        types[rows] = b.types
        is_null[rows] = b.is_null
        nparts[rows] = np.diff(b.geom_part_off)

    # each layer: the destination index of every piece element is its
    # parent's destination start plus its rank inside the parent
    gpo = _offsets(nparts)
    dest = [concat_ranges(gpo[rows], gpo[rows + 1])[0] for rows, _ in pieces]
    nrings = np.zeros(gpo[-1], dtype=np.int64)
    part_types = np.zeros(gpo[-1], dtype=np.uint8)
    for d, (_, b) in zip(dest, pieces):
        nrings[d] = np.diff(b.part_ring_off)
        part_types[d] = b.part_types
    pro = _offsets(nrings)
    dest = [concat_ranges(pro[d], pro[d + 1])[0] for d in dest]
    ncoords = np.zeros(pro[-1], dtype=np.int64)
    for d, (_, b) in zip(dest, pieces):
        ncoords[d] = np.diff(b.ring_coord_off)
    rco = _offsets(ncoords)
    coords = np.empty((rco[-1], 2), dtype=np.float64)
    for d, (_, b) in zip(dest, pieces):
        coords[concat_ranges(rco[d], rco[d + 1])[0]] = b.coords
    return GeomBatch(
        types=types,
        geom_part_off=gpo,
        part_ring_off=pro,
        ring_coord_off=rco,
        coords=coords,
        is_null=is_null,
        part_types=part_types,
    )
